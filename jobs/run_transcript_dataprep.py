"""spark-submit entrypoint for the end-to-end transcript→training-data
pipeline — raw multi-turn transcript table in, packed training
sequences (or a sharded text corpus) out. Composes the whole repo:
ingest integrity gate → conversation rendering → curation →
deterministic splitting → tokenize+pack / shard.

    spark-submit --py-files logshipper_spark.zip \
        jobs/run_transcript_dataprep.py \
        --turns /path/to/transcripts.parquet --out /path/to/out \
        [--require-ok]        drop conversations failing the integrity gate
        [--min-quality 0.3] [--scrub-pii] [--line-clean] [--repetition] \
        [--near-dup] [--minhash-threshold 0.9] \
        [--split train:0.98,val:0.01,test:0.01]  hash-keyed disjoint splits
        [--sft]               also extract (prompt, response) SFT pairs
        [--sft-pack]          with --sft + --budget: loss-masked SFT chunks
        [--html]              HTML->text extraction as the first curation stage
        [--budget 2048]       tokenize + pack fixed-length sequences
        [--vocab-size 50000] [--min-count 2] \
        [--shard-bytes N]     size-balanced text shards instead of packing
        [--codec zstd]

Stage order (every intermediate is materialized and read back
schema-pinned, so each stage acts on committed bytes — the same
crash-resume posture as jobs/run_pipeline.py, and no lineage chain is
recomputed per action):

1. integrity gate — transcript.integrity_report over the raw turns
   (ts inversions under stable (turn_idx, ts) order, dup/missing
   turn_idx, NULL lanes) written to ``out/integrity``. With
   ``--require-ok`` only conversations with ``conv_ok`` continue: a
   turn-ordered render over a broken conversation silently produces a
   wrong document, so at corpus scale the gate runs FIRST.
2. render — transcript.render_conversations: each conversation becomes
   one training document (turn lines in turn_idx order), written to
   ``out/rendered``. Downstream treats it exactly like documents.text.
2b. text-rewriting prep (``--html`` / ``--scrub-pii`` /
   ``--line-clean``) — extraction, scrubbing, and line cleaning run
   BEFORE curation and the rewritten text is materialized to
   ``out/prepared``, so curation keys AND every training output see
   it (keep-list-only gating would pack raw markup/PII). With
   ``--scrub-pii`` the SFT pair lanes are scrubbed too.
3. curate — datapipe.curate.curate over the prepared documents
   (optional Gopher repetition gate, quality score, 128-bit exact
   dedup, optional MinHash near-dup keep-list); keep-list written to
   ``out/keep_list``, survivors joined back to their text.
4. split — sampling.train_val_test_split keyed on conv_id (map-only,
   reproducible, partition-independent). The vocabulary (stage 6) is
   fit on the TRAIN split only so held-out text never leaks into it.
5. --sft — transcript.sft_pairs over the SURVIVING conversations only
   (kept + integrity-gated), split label propagated, written to
   ``out/sft``.
6. output —
   --budget: tokenize.vocab_build (train split) → ``out/vocab``,
     tokenize_ids → ``out/tokens``, packing.pack_chunks +
     assemble_chunks per split stream → ``out/chunks`` (GPT-style
     concat-and-split; block-offset running sums, no task scans a
     stream's full history). With ``--sft --sft-pack`` the committed
     pairs additionally become loss-masked training chunks
     (packing.sft_examples + pack_masked, same train-fit vocabulary)
     under ``out/sft_chunks``.
   --shard-bytes: packing.shard_plan → ``out/corpus/split=S/shard=N``
     size-balanced text shards.
7. ``out/summary.json`` — row counts per stage (also printed).

Scale posture: every stage is the library operator whose plan shape is
audited in PLANS.md — the gate and render are one conv-partitioned
shuffle each, curation prunes map-only before its dedup shuffle, the
split is a projection, packing is the block-offset decomposition. No
driver-side loops over data; .count()s are the only actions.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# runnable as plain `python jobs/run_transcript_dataprep.py` too
# (spark-submit ships the package via --py-files)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TURNS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp_ntz"
)


def _parse_split(spec: str) -> dict[str, float]:
    out: dict[str, float] = {}
    for part in spec.split(","):
        name, _, w = part.partition(":")
        if not name or not w:
            raise ValueError(f"bad --split entry {part!r}; want name:weight")
        out[name.strip()] = float(w)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--turns", required=True,
                    help="transcript parquet (conv_id, turn_idx, role, "
                         "text, tool, ts)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--require-ok", action="store_true",
                    help="drop conversations failing the integrity gate")
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--scrub-pii", action="store_true")
    ap.add_argument("--line-clean", action="store_true")
    ap.add_argument("--repetition", action="store_true")
    ap.add_argument("--near-dup", action="store_true")
    ap.add_argument("--minhash-threshold", type=float, default=0.9)
    ap.add_argument("--split", default=None,
                    help="e.g. train:0.98,val:0.01,test:0.01")
    ap.add_argument("--sft", action="store_true",
                    help="extract SFT (prompt, response) pairs from the "
                         "surviving conversations")
    ap.add_argument("--sft-pack", action="store_true",
                    help="with --sft and --budget: also pack the pairs "
                         "into loss-masked training chunks (out/sft_chunks)")
    ap.add_argument("--html", action="store_true",
                    help="run HTML->text extraction as the first curation "
                         "stage (for web-sourced document tables)")
    ap.add_argument("--budget", type=int, default=None,
                    help="tokens per packed training sequence")
    ap.add_argument("--vocab-size", type=int, default=50_000)
    ap.add_argument("--min-count", type=int, default=2)
    ap.add_argument("--shard-bytes", type=int, default=None,
                    help="size-balanced text shards instead of packing")
    ap.add_argument("--codec", default="zstd")
    args = ap.parse_args(argv)
    if args.budget and args.shard_bytes:
        ap.error("--budget and --shard-bytes are alternative outputs; "
                 "pick one")
    if args.sft_pack and not (args.sft and args.budget):
        ap.error("--sft-pack needs both --sft and --budget")
    splits = _parse_split(args.split) if args.split else None

    from pyspark.sql import functions as F

    from logshipper_spark import transcript
    from logshipper_spark.datapipe import curate as curate_mod
    from logshipper_spark.datapipe import dedup, packing, sampling, tokenize
    from logshipper_spark.session import get_spark

    spark = get_spark(app_name="logshipper-transcript-dataprep")
    # post-startup clock: scaling captures (tools/scaling.py) compare
    # pipeline work, not constant JVM boot
    import time

    t0 = time.monotonic()
    stage_t: dict[str, float] = {}
    _last = [t0]

    def mark(name):
        now = time.monotonic()
        stage_t[name] = round(now - _last[0], 2)
        _last[0] = now

    def write(df, name):
        df.write.mode("overwrite").option("compression", args.codec).parquet(
            os.path.join(args.out, name)
        )
        return spark.read.schema(df.schema).parquet(os.path.join(args.out, name))

    turns = spark.read.schema(TURNS_SCHEMA).parquet(args.turns)
    summary: dict = {"turns_in": turns.count()}
    summary["conversations_in"] = (
        turns.select("conv_id").distinct().count()
    )

    # 1. integrity gate
    report = write(transcript.integrity_report(turns), "integrity")
    if args.require_ok:
        ok_convs = report.filter("conv_ok").select("conv_id")
        turns = turns.join(ok_convs, "conv_id")
        summary["conversations_ok"] = ok_convs.count()
    mark("integrity")

    # 2. render conversations into documents
    rendered = write(
        transcript.render_conversations(turns).select(
            F.col("conv_id").alias("doc_id"),
            F.col("doc").alias("text"),
            "n_turns",
            "n_chars",
        ),
        "rendered",
    )
    summary["rendered_docs"] = rendered.count()
    mark("render")

    # 2b. text-REWRITING prep stages (html extraction, PII scrub, C4
    # line clean) run BEFORE curation and are MATERIALIZED, so every
    # downstream consumer — curation keys, vocab, tokens, chunks,
    # shards — sees the rewritten text. Passing these as curate() flags
    # instead would gate only the keep-list while survivors rejoin the
    # RAW rendered text: packed training data would silently keep HTML
    # markup / PII spans / boilerplate lines. Same stage order as
    # curate()'s internal html → scrub → line-clean.
    prep = rendered
    if args.html:
        from logshipper_spark.datapipe import filters as filters_mod

        prep = (
            filters_mod.html_extract(prep)
            .filter("html_keep")
            .select(
                "doc_id",
                F.col("extracted_text").alias("text"),
                "n_turns",
                "n_chars",
            )
        )
    if args.scrub_pii:
        from logshipper_spark.datapipe import filters as filters_mod

        prep = filters_mod.pii_scrub(prep).select(
            "doc_id", F.col("scrubbed").alias("text"), "n_turns", "n_chars"
        )
    if args.line_clean:
        from logshipper_spark.datapipe import filters as filters_mod

        prep = (
            filters_mod.c4_line_clean(prep)
            .filter("c4_keep")
            .select(
                "doc_id", F.col("clean_text").alias("text"),
                "n_turns", "n_chars",
            )
        )
    if args.html or args.scrub_pii or args.line_clean:
        # length metadata must describe the REWRITTEN text column, not
        # the raw render it replaced (n_turns stays pre-extraction by
        # design — the turn count is a conversation fact, not a text
        # fact)
        prep = prep.withColumn("n_chars", F.length("text").cast("long"))
        rendered = write(prep, "prepared")
        summary["prepared_docs"] = rendered.count()
        mark("prep")

    # 3. curate the prepared documents (rewriting stages already
    # applied above — only gate/dedup stages remain here)
    keep = curate_mod.curate(
        rendered,
        min_quality=args.min_quality,
        near_dup=args.near_dup,
        minhash_threshold=args.minhash_threshold,
        repetition=args.repetition,
    )
    keep = write(keep, "keep_list")
    curate_mod.release_cached_frames()
    dedup.release_cached_signatures()
    summary["kept_docs"] = keep.count()
    mark("curate")
    survivors = keep.select("doc_id").join(rendered, "doc_id")

    # 4. deterministic splits keyed on the conversation id
    if splits:
        survivors = sampling.train_val_test_split(survivors, splits)
        summary["split_counts"] = {
            r["split"]: r["n"]
            for r in survivors.groupBy("split").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
    else:
        survivors = survivors.withColumn("split", F.lit("train"))
    survivors = write(survivors, "survivors")
    mark("split")

    # 5. SFT pairs from surviving conversations only
    sft_df = None
    if args.sft:
        kept_convs = survivors.select(
            F.col("doc_id").alias("conv_id"), "split"
        )
        pairs = transcript.sft_pairs(turns.join(
            kept_convs.select("conv_id"), "conv_id"
        )).join(kept_convs, "conv_id")
        if args.scrub_pii:
            # pairs derive from the RAW turns, not the scrubbed docs —
            # scrub both lanes or --sft-pack chunks would carry raw PII
            from logshipper_spark.datapipe import filters as filters_mod

            for lane in ("prompt", "response"):
                cols = [c for c in pairs.columns if c != lane]
                pairs = filters_mod.pii_scrub(pairs, text_col=lane).select(
                    *cols, F.col("scrubbed").alias(lane)
                )
        sft_df = write(pairs, "sft")
        summary["sft_pairs"] = sft_df.count()
        mark("sft")

    # 6. output: packed sequences or sharded text corpus
    if args.budget:
        train_docs = survivors.filter(F.col("split") == "train")
        vocab = write(
            tokenize.vocab_build(
                train_docs, max_size=args.vocab_size, min_count=args.min_count
            ),
            "vocab",
        )
        summary["vocab_size"] = vocab.count()
        mark("vocab")
        ids = write(
            tokenize.tokenize_ids(survivors, vocab).join(
                survivors.select("doc_id", "split"), "doc_id"
            ).withColumn("_n", F.size("ids").cast("long")),
            "tokens",
        )
        tot = ids.agg(
            F.sum("n_tokens").alias("t"),
            F.sum("n_oov").alias("o"),
            F.sum("_n").alias("s"),
        ).head()
        summary.update(
            body_tokens=int(tot["t"] or 0),
            oov_tokens=int(tot["o"] or 0),
            stream_tokens=int(tot["s"] or 0),
        )
        layout = packing.pack_chunks(
            ids, budget=args.budget, group_col="split", tokens_col="_n"
        )
        chunks = packing.assemble_chunks(ids, layout, group_col="split")
        chunks.repartition(F.col("split"), F.col("chunk_id")).write.mode(
            "overwrite"
        ).option("compression", args.codec).partitionBy("split").parquet(
            os.path.join(args.out, "chunks")
        )
        # schema pinned: a zero-survivor run leaves an empty dir and
        # inference would throw (round-2 gotcha)
        fills = spark.read.schema(chunks.schema).parquet(
            os.path.join(args.out, "chunks")
        )
        summary["chunks"] = {
            r["split"]: {"n_chunks": r["n"], "tokens": r["tok"]}
            for r in fills.groupBy("split").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.size("ids")).cast("long").alias("tok"),
            ).collect()
        }
        if args.sft_pack:
            # loss-masked SFT chunks from the committed pairs, same
            # train-fit vocabulary; pair key = hash of (conv, response
            # turn) — deterministic and unique per pair
            pares = sft_df.withColumn(
                "pair_id", F.xxhash64("conv_id", "response_turn_idx")
            )
            ex = packing.sft_examples(pares, vocab).join(
                pares.select("pair_id", "split"), "pair_id"
            )
            masked = packing.pack_masked(
                ex, budget=args.budget, group_col="split"
            )
            masked.repartition(F.col("split"), F.col("chunk_id")).write.mode(
                "overwrite"
            ).option("compression", args.codec).partitionBy("split").parquet(
                os.path.join(args.out, "sft_chunks")
            )
            sfc = spark.read.schema(masked.schema).parquet(
                os.path.join(args.out, "sft_chunks")
            )
            summary["sft_chunks"] = {
                r["split"]: {"n_chunks": r["n"], "loss_tokens": r["lt"]}
                for r in sfc.groupBy("split").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("n_loss_tokens").cast("long").alias("lt"),
                ).collect()
            }
    elif args.shard_bytes:
        plan = packing.shard_plan(
            survivors, args.shard_bytes, group_col="split"
        ).select("doc_id", "shard")
        sharded = survivors.join(plan, "doc_id")
        (
            sharded.repartition(F.col("split"), F.col("shard"))
            .write.mode("overwrite")
            .option("compression", args.codec)
            .partitionBy("split", "shard")
            .parquet(os.path.join(args.out, "corpus"))
        )
        corpus = spark.read.schema(sharded.schema).parquet(
            os.path.join(args.out, "corpus")
        )
        summary["shards"] = {
            r["split"]: r["n"]
            for r in corpus.groupBy("split").agg(
                F.countDistinct("shard").alias("n")
            ).collect()
        }

    mark("output")
    summary["stage_s"] = stage_t
    summary["wall_s"] = round(time.monotonic() - t0, 2)
    with open(os.path.join(args.out, "summary.json"), "w") as f:
        json.dump(summary, f)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
