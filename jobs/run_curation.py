"""spark-submit entrypoint for the training-data curation pipeline —
crawl snapshot in, curated (optionally sharded) training corpus out.

    spark-submit --py-files logshipper_spark.zip jobs/run_curation.py \
        --docs /path/to/documents.parquet --out /path/to/out \
        [--min-quality 0.3] [--scrub-pii] [--line-clean] [--repetition] \
        [--near-dup] [--minhash-threshold 0.9] [--components] \
        [--lm-band LO:HI] \
        [--key-index PATH] [--minhash-index PATH] [--update-index] \
        [--shard-bytes N]

Stage order (each optional stage drops out cleanly when not requested):

0. text normalization — --scrub-pii (PII placeholder scrubbing) and
   --line-clean (C4 line filter + doc verdict) run ONCE at entry, so
   EVERY later stage — the incremental index filters, the LM model,
   curation scoring/dedup, the sharded corpus, and the index updates —
   sees the same normalized text. In particular the written corpus can
   never leak spans the flags promised to remove, and cross-snapshot
   index keys compare like-for-like (the next snapshot normalizes the
   same way before probing).
1. incremental pre-filters — drop documents already kept by PRIOR
   snapshots: exact (--key-index: 128-bit key anti-join,
   dedup.dedup_against) then near-dup (--minhash-index: persisted
   signature/band index, dedup.near_dedup_against).
2. unigram-LM quality band (--lm-band, e.g. ``2.0:16.0``): fit the
   add-one-smoothed unigram model on the surviving snapshot, score
   every document, keep the bits/token band (lm.py — the
   CCNet-perplexity-filter analog).
3. curate() — quality gate, optional Gopher repetition gate, exact
   dedup, optional in-snapshot MinHash near-dup removal (PII/line
   stages already applied in stage 0).
3b. embedding-space selection over --embeddings (doc_id, embedding):
   --semdedup (within-cell cosine components, one keeper each) then
   --prune-permille (SSL-prototype per-cell fraction, hardest by
   default / --prune-easiest). Each stage refits k-means on what the
   previous stages kept.
3c. --dsir-target + --dsir-k: DSIR importance resampling — fit the
   hashed-ngram model (target vs current survivors), Gumbel-top-k
   select exactly k documents.
4. --shard-bytes: join survivors back to their text and write the
   corpus under ``out/corpus/shard=N`` in size-balanced shards
   (packing.shard_plan); one repartition(shard) sizes the write.
5. --update-index: append the survivors' keys/signatures to the given
   index paths — the carry state for the next snapshot.

Writes:
  out/keep_list/      — (doc_id, quality, exact_dup_count) survivors
  out/corpus/         — sharded survivor texts (--shard-bytes)
  out/components/     — (doc_id, component) near-dup clusters (--components)
  out/summary.json    — row counts per stage (printed to stdout too)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# runnable as plain `python jobs/run_curation.py` too (spark-submit
# ships the package via --py-files)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--docs", required=True, help="documents parquet (doc_id, text)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--scrub-pii", action="store_true",
                    help="scrub PII spans before any scoring/dedup")
    ap.add_argument("--line-clean", action="store_true",
                    help="C4 line-level cleaning before scoring/dedup")
    ap.add_argument("--repetition", action="store_true",
                    help="Gopher/C4 repetition gate after the quality score")
    ap.add_argument("--substr-dedup", action="store_true",
                    help="cut cross-document shared substring regions "
                         "(winnowed-fingerprint spans) before quality "
                         "scoring and dedup keys (Lee et al. ExactSubstr)")
    ap.add_argument("--near-dup", action="store_true",
                    help="MinHash-LSH near-dup removal after exact dedup")
    ap.add_argument("--minhash-threshold", type=float, default=0.9)
    ap.add_argument("--components", action="store_true",
                    help="also write near-dup connected components")
    ap.add_argument("--lm-band", default=None, metavar="LO:HI",
                    help="keep only docs inside this unigram-LM bits/token band")
    ap.add_argument("--key-index", default=None,
                    help="128-bit exact-key index of prior snapshots (pre-filter)")
    ap.add_argument("--minhash-index", default=None,
                    help="MinHash signature/band index of prior snapshots (pre-filter)")
    ap.add_argument("--update-index", action="store_true",
                    help="append survivors' keys/signatures to the given indexes")
    ap.add_argument("--shard-bytes", type=int, default=None,
                    help="write the survivor corpus in size-balanced shards")
    ap.add_argument("--embeddings", default=None,
                    help="document embeddings parquet (doc_id, embedding "
                         "array<double>) — enables --semdedup/--prune-permille")
    ap.add_argument("--cells", type=int, default=64,
                    help="k-means cells for --semdedup/--prune-permille")
    ap.add_argument("--semdedup", action="store_true",
                    help="SemDeDup over --embeddings after the keep-list "
                         "(within-cell cosine components, one keeper each)")
    ap.add_argument("--semdedup-tau", type=float, default=0.95)
    ap.add_argument("--prune-permille", type=int, default=None,
                    help="SSL-prototype pruning over --embeddings: keep this "
                         "fraction (per mille) of each k-means cell")
    ap.add_argument("--prune-easiest", action="store_true",
                    help="keep the most-prototypical tail instead of the "
                         "hardest (scarce-data policy)")
    ap.add_argument("--dsir-target", default=None,
                    help="target-corpus parquet (doc_id, text) — DSIR "
                         "importance resampling toward its hashed-ngram "
                         "distribution")
    ap.add_argument("--dsir-k", type=int, default=None,
                    help="documents to select with --dsir-target")
    args = ap.parse_args(argv)
    if args.semdedup or args.prune_permille is not None:
        if not args.embeddings:
            ap.error("--semdedup/--prune-permille require --embeddings")
    if bool(args.dsir_target) != (args.dsir_k is not None):
        ap.error("--dsir-target and --dsir-k go together")

    import pyarrow as pa
    from pyspark.sql import functions as F

    from logshipper_spark.datapipe import curate, dedup, lm, packing
    from logshipper_spark.datapipe.compaction import _exists, write_small_parquet
    from logshipper_spark.datapipe.filters import c4_line_clean, pii_scrub
    from logshipper_spark.session import get_spark, release_held

    spark = get_spark(app_name="logshipper-curation")
    docs = spark.read.parquet(args.docs)
    n_in = docs.count()
    summary: dict = {"docs_in": n_in}
    pinned = []  # persisted frames, unpersisted before exit

    # the indexes' keys only compare like-for-like if every snapshot
    # normalized its text the same way — a `_domain` marker inside each
    # index records (scrub_pii, line_clean) and a mismatching run FAILS
    # instead of silently dropping nothing / corrupting the carry state
    domain = (bool(args.scrub_pii), bool(args.line_clean))

    # Hadoop-FS existence (compaction._exists), NOT os.path.exists:
    # with an hdfs:///s3a:// index path the driver-local check would
    # return False and silently disable the incremental pre-filters
    # and the _domain guard on exactly the deployments they exist for
    def _check_domain(idx_path: str) -> None:
        dpath = os.path.join(idx_path, "_domain")
        if _exists(spark, dpath):
            row = spark.read.schema(
                "scrub_pii boolean, line_clean boolean"
            ).parquet(dpath).head()
            if row is None:
                # a crashed _write_domain can leave the dir with no
                # data files — actionable error, not a TypeError
                raise ValueError(
                    f"index {idx_path} has an empty _domain marker "
                    "(interrupted write?) — rebuild the index or "
                    "restore its _domain record"
                )
            found = (bool(row["scrub_pii"]), bool(row["line_clean"]))
            if found != domain:
                raise ValueError(
                    f"index {idx_path} holds keys of text domain "
                    f"(scrub_pii={found[0]}, line_clean={found[1]}) but this "
                    f"run normalizes with (scrub_pii={domain[0]}, "
                    f"line_clean={domain[1]}) — keys would not match; rerun "
                    "with matching flags or rebuild the index"
                )

    def _write_domain(idx_path: str) -> None:
        dpath = os.path.join(idx_path, "_domain")
        if not _exists(spark, dpath):
            write_small_parquet(spark, dpath, pa.table({
                "scrub_pii": pa.array([domain[0]], pa.bool_()),
                "line_clean": pa.array([domain[1]], pa.bool_()),
            }), overwrite=True)

    # 0. one-shot text normalization — every later stage shares it.
    # The text COLUMN is rewritten in place; every other input column
    # (provenance: url, fetch_ts, ...) rides through to the corpus.
    if args.scrub_pii:
        docs = (
            pii_scrub(docs)
            .withColumn("text", F.col("scrubbed"))
            .drop("scrubbed", "n_email", "n_ssn", "n_phone", "n_ipv4")
        )
    if args.line_clean:
        docs = (
            c4_line_clean(docs)
            .filter("c4_keep")
            .withColumn("text", F.col("clean_text"))
            .drop("clean_text", "n_lines", "n_kept_lines", "c4_keep")
        )
    if args.scrub_pii or args.line_clean:
        # the regex-heavy normalization feeds every later stage — one
        # materialization instead of one per action
        docs = docs.persist()
        pinned.append(docs)
        summary["after_normalize"] = docs.count()

    # 1. incremental pre-filters vs prior snapshots (same text domain)
    if args.key_index and _exists(spark, args.key_index):
        _check_domain(args.key_index)
        idx = spark.read.schema("h0 long, h1 long").parquet(args.key_index)
        docs = dedup.dedup_against(docs, idx)
        summary["after_key_index"] = docs.count()
    if args.minhash_index and _exists(spark, args.minhash_index + "/sigs"):
        _check_domain(args.minhash_index)
        sigs = spark.read.schema("doc_id long, sig array<long>").parquet(
            args.minhash_index + "/sigs"
        )
        bands = spark.read.schema("doc_id long, band int, bucket long").parquet(
            args.minhash_index + "/bands"
        )
        docs = dedup.near_dedup_against(
            docs, sigs, bands, threshold=args.minhash_threshold
        ).persist()
        pinned.append(docs)
        # materialize the filtered frame, THEN drop the signature
        # cache — downstream stages reuse the persisted rows, not the
        # anti-join lineage
        summary["after_minhash_index"] = docs.count()
        release_held()

    # 2. unigram-LM quality band (fit on the surviving snapshot)
    if args.lm_band:
        lo, hi = (float(x) for x in args.lm_band.split(":"))
        model, oov = lm.fit_unigram_lm(docs)
        band_ids = lm.lm_quality_filter(
            lm.lm_score(docs, model, oov), lo, hi
        ).select("doc_id")
        docs = docs.join(band_ids, "doc_id").persist()
        pinned.append(docs)
        summary["after_lm_band"] = docs.count()

    # 3. curation keep-list (scrub/line-clean already applied above)
    keep = curate.curate(
        docs,
        min_quality=args.min_quality,
        near_dup=args.near_dup,
        minhash_threshold=args.minhash_threshold,
        repetition=args.repetition,
        substr_dedup=args.substr_dedup,
    )
    keep.write.mode("overwrite").parquet(os.path.join(args.out, "keep_list"))
    release_held()  # post-action: curate's keep-list/src, sigs, LM counts
    # pin the schema: an all-dropped snapshot writes an EMPTY parquet
    # dir, and schema inference on one throws (CLAUDE.md gotcha)
    kept = spark.read.schema(keep.schema).parquet(
        os.path.join(args.out, "keep_list")
    )
    n_keep = kept.count()
    n_exact_dups = int(
        kept.agg(F.sum(F.col("exact_dup_count") - 1)).first()[0] or 0
    )
    summary.update(
        kept=n_keep,
        dropped=n_in - n_keep,
        exact_dup_copies_collapsed=n_exact_dups,
    )
    # survivors (normalized text) feed the corpus write AND both index
    # updates — persist once instead of re-running the whole chain per
    # action (CLAUDE.md: cache the shared frame)
    survivors = docs.join(kept.select("doc_id"), "doc_id").persist()
    pinned.append(survivors)

    # 3b. embedding-space selection: SemDeDup then prototype pruning.
    # Both fit k-means on the CURRENT survivor set (selection stages
    # compose — each sees only what the previous one kept), assign
    # cells map-only against the driver-literal centroids, and shrink
    # the survivor frame by a doc_id semi-join.
    if args.semdedup or args.prune_permille is not None:
        from logshipper_spark.datapipe import pruning, semdedup, similarity

        emb_all = spark.read.parquet(args.embeddings).select(
            "doc_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        head = emb_all.head()
        if head is None:
            raise ValueError(f"--embeddings {args.embeddings} is empty")
        dim = len(head["embedding"])

        def _surviving_embeddings():
            return survivors.select("doc_id").join(emb_all, "doc_id")

        # both stages anti-join the DROP set rather than semi-joining
        # the keep set: a survivor with no embedding row cannot be a
        # semantic dup or sit in any cell — it must ride through, not
        # silently vanish (never-drop posture for partial-coverage
        # embedding tables)
        if args.semdedup:
            emb_s = _surviving_embeddings().persist()
            cents = similarity.kmeans_fit(
                emb_s, num_cells=args.cells, dim=dim
            )
            drop_ids = (
                semdedup.semantic_dedup(
                    emb_s, cents, threshold=args.semdedup_tau, id_col="doc_id"
                )
                .filter("keep = 0")
                .select("doc_id")
            )
            survivors = survivors.join(drop_ids, "doc_id", "left_anti").persist()
            pinned.append(survivors)
            summary["after_semdedup"] = survivors.count()
            release_held()  # semdedup's cells, post-action
            emb_s.unpersist()
        if args.prune_permille is not None:
            emb_s = _surviving_embeddings().persist()
            cents = similarity.kmeans_fit(
                emb_s, num_cells=args.cells, dim=dim
            )
            scores = pruning.prototype_scores(emb_s, cents, id_col="doc_id")
            drop_ids = (
                pruning.prototype_prune(
                    scores,
                    args.prune_permille,
                    hardest=not args.prune_easiest,
                    id_col="doc_id",
                )
                .filter("keep = 0")
                .select("doc_id")
            )
            survivors = survivors.join(drop_ids, "doc_id", "left_anti").persist()
            pinned.append(survivors)
            summary["after_prune"] = survivors.count()
            emb_s.unpersist()

    # 3c. DSIR importance resampling toward the target distribution —
    # the final selection stage (fit on target vs current survivors,
    # Gumbel-top-k over integer importance keys)
    if args.dsir_target:
        from logshipper_spark.datapipe import dsir as dsir_mod

        target = spark.read.parquet(args.dsir_target)
        model, oov = dsir_mod.fit_dsir(target, survivors)
        model = model.persist()
        pinned.append(model)
        weights = dsir_mod.dsir_weights(survivors, model, oov)
        keep_ids = (
            dsir_mod.dsir_select(weights, args.dsir_k)
            .filter("selected = 1")
            .select("doc_id")
        )
        survivors = survivors.join(keep_ids, "doc_id").persist()
        pinned.append(survivors)
        summary["after_dsir"] = survivors.count()
        release_held()

    # 4. size-balanced sharded corpus write (normalized text)
    if args.shard_bytes:
        # persisted: consumed twice (the corpus write and the shard
        # count) — unpersisted lineage would re-run the whole
        # block-offset running-sum chain for a single integer
        plan = packing.shard_plan(survivors, args.shard_bytes).select(
            "doc_id", "shard"
        ).persist()
        pinned.append(plan)
        (
            survivors.join(plan, "doc_id")
            .repartition("shard")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(os.path.join(args.out, "corpus"))
        )
        summary["shards"] = plan.select("shard").distinct().count()

    # 5. carry state for the next snapshot (same normalized domain —
    # marker written on first update, checked on every later run)
    if args.update_index and args.key_index:
        dedup.write_key_index(survivors, args.key_index, mode="append")
        _write_domain(args.key_index)
    if args.update_index and args.minhash_index:
        dedup.write_minhash_index(survivors, args.minhash_index, mode="append")
        _write_domain(args.minhash_index)

    if args.components:
        pairs = dedup.minhash_lsh_pairs(docs, threshold=args.minhash_threshold)
        comps = dedup.near_dup_components(pairs)
        comps.write.mode("overwrite").parquet(os.path.join(args.out, "components"))
        release_held()
        summary["near_dup_docs_in_components"] = spark.read.schema(
            comps.schema
        ).parquet(os.path.join(args.out, "components")).count()

    for frame in pinned:
        frame.unpersist()
    release_held()  # whatever a stage above still holds

    with open(os.path.join(args.out, "summary.json"), "w") as f:
        json.dump(summary, f)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
