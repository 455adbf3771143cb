"""Measure DSIR selection quality on planted target-like ground truth.

    python tools/dsir_eval.py [sf_dir] [--vocab 40] [--stride 40]

Setting (matches the paper's chunked-example regime — DSIR scores
FIXED-LENGTH pretraining examples, so the eval controls length too):
only documents with at least ``example_len`` tokens participate, each
truncated to exactly ``example_len`` tokens, and the target/planted
term runs REPLACE the example's tail rather than appending — every
scored example therefore has an identical feature count (with variable
lengths, short background docs accumulate less negative log-ratio mass
than long planted docs and length noise swamps the signal). The
TARGET corpus is a deterministic held-out slice (pmod(xxhash64(text),
target_mod) == 3 over the truncated example text, excluded from the
raw side — hash-of-TEXT so duplicated documents land on one side of
the split; the corpus plants near-dups, and a raw twin of a target
example is exactly what DSIR should select, which would poison a
doc_id-based ground truth) with each example's last ``target_len``
tokens replaced by a run of a distinctive vocabulary
(`tgtw0..tgtw{V-1}`, step-5 walk) — real base text, so ordinary words
have log-ratio ~0 and only the target vocabulary separates. Every
``stride``-th raw document gets a shorter run of the SAME step-5 walk
("planted" target-like docs — their target unigrams AND bigrams match).
DSIR (datapipe.dsir) fits the hashed-ngram importance model on
(target, raw), scores every raw example, and Gumbel-top-k selects
k = n_planted. Everything is doc_id arithmetic — deterministic, no
randomness.

This harness is also the measurement that caught the add-one-smoothing
bug (see fit_dsir's docstring): under alpha=1 the bucket-count term
biases every common token's ratio, length/rarity noise swamps the
planted signal, and precision reads 0.0.

Reported: precision@k over the planted set (== recall@k since k =
n_planted), the planted/background logw_micro separation (mean of
each, plus the worst-case planted minimum vs background p99), and the
count of background docs whose raw importance weight beats the weakest
planted doc (violations before Gumbel noise). Expected posture:
precision ~1.0 and a wide positive separation — eight target-vocab
hits (plus their bigrams) dominate any background doc's sum of
near-zero log-ratios.

The augmentation is a pure column expression (no driver-side list —
planted docs can number in the thousands at sf0.1); fit/score/select
run their production plans
(`tests/test_plan_budgets.py::test_plan_budget[dsir.dsir_select]`).
Prints one markdown table (for BASELINE.md) and one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--vocab", type=int, default=40,
                    help="target vocabulary size V")
    ap.add_argument("--stride", type=int, default=40,
                    help="every stride-th doc_id is planted")
    ap.add_argument("--target-mod", type=int, default=7,
                    help="target slice = docs with doc_id % mod == 3")
    ap.add_argument("--example-len", type=int, default=64,
                    help="tokens per example (uniform-length chunks)")
    ap.add_argument("--target-len", type=int, default=24,
                    help="target terms appended to each target example")
    ap.add_argument("--plant-len", type=int, default=16,
                    help="target terms appended to each planted example")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from logshipper_spark.datapipe import dsir
    from logshipper_spark.datapipe.textstats import tokens
    from logshipper_spark.session import get_spark, release_held

    spark = get_spark(app_name="dsir-eval")
    v, stride = args.vocab, args.stride

    # Uniform-length examples: only docs with >= example_len tokens,
    # truncated to exactly example_len. Target/planted runs REPLACE the
    # example's tail rather than appending, so every scored example has
    # an identical feature count — with variable lengths, short
    # background docs accumulate less negative log-ratio mass than long
    # planted docs and length noise swamps the planted signal.
    docs = (
        spark.read.parquet(os.path.join(args.sf_dir, "documents.parquet"))
        .select("doc_id", tokens(F.lower(F.col("text"))).alias("_toks"))
        .filter(F.size("_toks") >= args.example_len)
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.slice(F.col("_toks"), 1, args.example_len)
            ).alias("text"),
            F.concat_ws(
                " ",
                F.slice(F.col("_toks"), 1, args.example_len - args.target_len),
            ).alias("_base_t"),
            F.concat_ws(
                " ",
                F.slice(F.col("_toks"), 1, args.example_len - args.plant_len),
            ).alias("_base_p"),
        )
    )

    def term_run(n: int):
        """n target terms as a column expr, term j =
        tgtw[(doc_id + j*5) % V] — a step-5 walk (the same walk for
        target and planted docs, so bigrams match too)."""
        return F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("tgtw"),
                    F.pmod(F.col("doc_id") + j * 5, F.lit(v))
                    .cast("int").cast("string"),
                )
                for j in range(n)
            ],
        )

    in_target = F.pmod(F.xxhash64(F.col("text")), F.lit(args.target_mod)) == 3

    # Target corpus: a HELD-OUT real-text slice, extended by the target
    # vocabulary run.
    target = docs.filter(in_target).select(
        "doc_id",
        F.concat_ws(" ", "_base_t", term_run(args.target_len)).alias("text"),
    )

    # Leakage removal (what a real pipeline does before selection):
    # raw examples that are MinHash near-dups of a target example are
    # excluded from the eval universe — a near-twin of a target doc is
    # exactly what DSIR should select, so leaving them in poisons the
    # planted ground truth (measured: 41 cross-split near-dup outliers
    # at sf0.01, precision 0.46 with them in, 1.0 screened).
    from logshipper_spark.datapipe import dedup

    flags = docs.select("doc_id", in_target.cast("int").alias("t"))
    pairs = dedup.minhash_lsh_pairs(
        docs.select("doc_id", "text"), threshold=0.5
    )
    leaked = (
        pairs.join(flags.withColumnRenamed("doc_id", "id_a")
                   .withColumnRenamed("t", "t_a"), "id_a")
        .join(flags.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("t", "t_b"), "id_b")
        .filter(F.col("t_a") != F.col("t_b"))
        .select(
            F.when(F.col("t_a") == 0, F.col("id_a"))
            .otherwise(F.col("id_b")).alias("doc_id")
        )
        .distinct()
    )

    # Raw corpus: everything outside the target slice minus leaked
    # near-twins; every stride-th doc gets a shorter run of the same
    # walk appended.
    planted = F.col("doc_id") % stride == 0
    raw = docs.filter(~in_target).join(leaked, "doc_id", "left_anti").select(
        "doc_id",
        F.when(
            planted, F.concat_ws(" ", "_base_p", term_run(args.plant_len))
        )
        .otherwise(F.col("text")).alias("text"),
        planted.cast("int").alias("is_planted"),
    )

    model, oov = dsir.fit_dsir(target, raw)
    weights = dsir.dsir_weights(raw, model, oov)
    n_planted = raw.filter("is_planted = 1").count()
    sel = dsir.dsir_select(weights, k=n_planted)

    joined = sel.join(raw.select("doc_id", "is_planted"), "doc_id").cache()
    hit = joined.filter("selected = 1 AND is_planted = 1").count()
    precision = round(hit / n_planted, 4)

    stats = joined.groupBy("is_planted").agg(
        F.avg("logw_micro").alias("mean_w"),
        F.min("logw_micro").alias("min_w"),
        F.expr("percentile(logw_micro, 0.99)").alias("p99_w"),
        F.max("logw_micro").alias("max_w"),
    ).collect()
    by = {r["is_planted"]: r for r in stats}
    planted_min = int(by[1]["min_w"])
    bg_p99 = float(by[0]["p99_w"])
    # background docs whose RAW weight beats the weakest planted doc
    violations = joined.filter(
        (F.col("is_planted") == 0) & (F.col("logw_micro") >= planted_min)
    ).count()
    joined.unpersist()
    release_held()

    print("| metric | value |")
    print("|---|---|")
    print(f"| planted docs (k) | {n_planted} |")
    print(f"| precision@k (= recall@k) | {precision} |")
    print(f"| mean logw_micro planted / background | "
          f"{int(by[1]['mean_w'])} / {int(by[0]['mean_w'])} |")
    print(f"| planted min vs background p99 | {planted_min} vs {int(bg_p99)} |")
    print(f"| background docs outweighing weakest planted | {violations} |")
    print(json.dumps({
        "metric": "dsir_planted_target_selection",
        "sf_dir": args.sf_dir,
        "k": n_planted,
        "precision_at_k": precision,
        "mean_logw_planted": int(by[1]["mean_w"]),
        "mean_logw_background": int(by[0]["mean_w"]),
        "planted_min_logw": planted_min,
        "background_p99_logw": int(bg_p99),
        "weight_violations": violations,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
