"""Structured Streaming wiring: the reference's long-running collector
loop (reference: internal/pipeline/pipeline.go:38-175, bounded channels
+ goroutines) re-expressed as Structured Streaming queries. Every query
drains what is available when it starts, then stops (``_start``).

Two kinds of stream:

* ``foreachBatch`` with a commit: each micro-batch overwrites its own
  ``batch_id=N`` outputs and commits LAST, so Spark's at-least-once
  epoch replay yields exactly-once output. ``run_stream`` plans the
  parse/enrich stage once and runs the batch pipeline's commit tail
  (``pipeline.commit_batch``) per epoch, committing lineage/counter
  rows; the index streams
  append a ``_commits`` marker (``_index_stream``);
  ``streaming_asof_enrich`` pins the state epochs it read the same way.
  Every commit row carries the owning run id, derived from the
  checkpoint path (``_stream_run_id``), and each query starts with
  ``compaction.claim_commits`` on its commit table: Spark numbers
  batches per checkpoint, so a different checkpoint over a directory
  another run committed to would skip or overwrite that run's
  ``batch_id=N`` work, and it is refused instead.
  The reference has no restart story at all (process state is lost).

* native stateful append (``streaming_first_seen``,
  ``streaming_exact_dedup``, ``streaming_sink_counts``,
  ``streaming_conv_stats``): Spark keeps the dedup, window or session
  state in the checkpoint; event-time watermarks drop late turns
  (documented delta vs the reference, which only knows processing time
  — SURVEY.md §2.10).

Backpressure: ``maxFilesPerTrigger`` plays the reference's bounded
channel capacity (pipeline.go:49-52).
"""

from __future__ import annotations

import hashlib
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import gen, pipeline, route
from .datapipe import compaction
from .schemas import DEFAULT_INGEST_TS, TRANSCRIPT_SCHEMA
from .session import local_frame


def _stream_key(path: str) -> str:
    """Canonical form of a checkpoint path for run-id derivation:
    scheme-prefixed paths (``hdfs://x``, ``s3a://x``, and single-slash
    Hadoop forms like ``file:/x``) hash VERBATIM — ``os.path.abspath``
    would join them onto the driver's cwd and a legitimate restart from
    a different directory would compute a different run_id and be
    refused as foreign. A scheme is a full RFC-3986 scheme token
    ENDING at the ':' before the first '/' — a relative path that
    merely contains a colon (``ckpt:v2/cp``) is NOT a scheme and must
    abspath like any other relative path, else a restart from a
    different cwd would silently re-claim a directory Spark resolves
    to a different checkpoint location."""
    head = path.split("/", 1)[0]
    if re.fullmatch(r"[A-Za-z][A-Za-z0-9+.\-]*:", head):
        return path
    return os.path.abspath(path)


def _stream_run_id(checkpoint_dir: str) -> str:
    """The run id of the logical stream that owns ``checkpoint_dir``."""
    digest = hashlib.sha256(_stream_key(checkpoint_dir).encode()).hexdigest()
    return f"stream-{digest[:12]}"


def read_transcript_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def _start(
    frame: DataFrame,
    checkpoint_dir: str,
    foreach=None,
    path: str | None = None,
):
    """Start ``frame`` as a query that drains what is available and
    stops: ``foreachBatch(foreach)`` in update mode, or a parquet append
    at ``path`` (the native stateful streams)."""
    writer = frame.writeStream.option("checkpointLocation", checkpoint_dir)
    if foreach is not None:
        writer = writer.foreachBatch(foreach).outputMode("update")
    else:
        writer = writer.format("parquet").option("path", path).outputMode("append")
    return writer.trigger(availableNow=True).start()


def _index_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    index_dir: str,
    checkpoint_dir: str,
    chaos,
    body,
):
    """The commit protocol of the index streams. ``body(batch_df,
    batch_id, committed, comp_state, keep)`` does one epoch's work: it
    overwrites the epoch's ``batch_id=N`` output and index partitions,
    reads the index only at the ``committed`` batch ids, and persists
    each frame it reuses through ``keep(df)``.

    The commit marker ``(batch_id, run_id)`` appends LAST, after
    ``body`` returns, and a replayed batch reads the index restricted
    to COMMITTED batch ids — a crash between the index write and the
    marker replays cleanly because the half-written partition is
    invisible to the dedup join and gets overwritten. The markers'
    run id claims ``index_dir`` for this checkpoint's stream; a stream
    that crashes before its first marker holds nothing yet.
    ``chaos`` (tests): called with the batch id
    after commit but before Spark's checkpoint records the epoch — the
    crash-in-the-commit-gap drill."""
    # the index belongs to ONE logical stream: Spark restarts batch ids
    # at 0 per checkpoint, so a new checkpoint over an accumulated index
    # would silently skip its first epochs via the old markers. One
    # _commits + _compaction scan at stream start: this process is
    # the only marker writer afterwards (run_stream's lineage pattern),
    # so the locally-maintained set stays exact and each epoch pays
    # zero extra scans/collects of tables that grow one row per batch
    # forever. Stale compaction state is still a CORRECT view (the
    # pre-compaction epoch + full tail); vacuum requires a quiesced
    # stream anyway (vacuum_index docstring).
    run_id = _stream_run_id(checkpoint_dir)
    committed = compaction.claim_commits(
        spark, os.path.join(index_dir, "_commits"), run_id
    )
    comp_state = compaction.compaction_state(spark, index_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in committed:
            return
        # persisted frames release in the finally: a mid-batch failure
        # otherwise leaks the cached blocks for the session's lifetime
        # (the streaming query replays the batch with FRESH persists)
        cached: list[DataFrame] = []

        def keep(df: DataFrame) -> DataFrame:
            cached.append(df.persist())
            return df

        try:
            body(batch_df, batch_id, committed, comp_state, keep)
            # marker LAST — the restart point
            compaction.append_commit_marker(spark, index_dir, batch_id, run_id)
            committed.add(batch_id)
        finally:
            while cached:
                cached.pop().unpersist()
        if chaos is not None:
            chaos(batch_id)

    stream = spark.readStream.schema(schema).parquet(input_dir)
    return _start(stream, checkpoint_dir, foreach=process_batch)


def run_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str | None = None,
    ingest_ts: str = DEFAULT_INGEST_TS,
    rules: list[tuple[str, str, int]] | None = None,
    max_files_per_trigger: int | None = None,
    chaos=None,
):
    """Start (or resume) the streaming pipeline; the query drains all
    currently-available input and stops.

    The narrow stage (``pipeline.normalize_and_enrich``) is planned
    ONCE, on the streaming frame, and each epoch runs only
    ``pipeline.commit_batch`` on its micro-batch: the same code path as
    ``run_batch``, without re-analysing the ~25-step parse/enrich plan
    from Python in every epoch.

    Streaming contract: the sink rows of all epochs equal
    ``run_batch``'s rows over the same turns on every column except
    ``batch_id`` and ``turn_rank``. Streamed rows carry no
    ``turn_rank``: a ``row_number`` over ``conv_id`` would restart in
    every micro-batch, so it would be wrong whenever a conversation
    spans files; ``(conv_id, turn_idx)`` carries the stable order.
    Per-epoch ``sink_counts`` summed over ``batch_id`` equal the
    batch's. Earlier versions streamed ``turn_rank``: an ``out_dir``
    resumed from epochs they wrote holds ``sinks_by`` files of both
    schemas, so read it with an explicit schema or ``mergeSchema``.

    Restart semantics: Spark's streaming checkpoint tracks which input
    files belong to which epoch; on restart, finished epochs are not
    re-read, and a half-finished epoch is replayed — idempotent because
    ``pipeline.commit_batch`` overwrites its own ``batch_id=N`` output
    paths before committing lineage.

    ``chaos`` (tests only): callable invoked with the batch id after
    the batch's outputs AND lineage commit but before Spark's streaming
    checkpoint records the epoch — raising there reproduces the
    crash-in-the-commit-gap window deterministically (the case where a
    naive design would double-commit counters on replay).
    """
    if run_id is None:
        # Derived from the checkpoint path: a RESTART of the same
        # logical stream (same checkpoint) keeps its run_id, so
        # replayed epochs skip via lineage; a FRESH stream (new
        # checkpoint) over a reused out_dir gets a distinct run_id and
        # is refused instead of skipping its own batch 0 because an
        # older run's lineage is lying around. A shared constant
        # default would silently drop the new run's first epochs.
        # Scheme-prefixed paths hash VERBATIM
        # (_stream_key) — including single-slash Hadoop forms like
        # file:/x that a '://' test would miss.
        run_id = _stream_run_id(checkpoint_dir)
    rules = rules or gen.routing_rules()
    # per-run work done once, not per micro-batch: the committed-batch
    # set (one lineage scan at start; this process is the only lineage
    # writer afterwards, so the local set stays exact) and the narrow
    # plan, whose lookup dims are collected and compiled here once
    done = compaction.claim_commits(
        spark, os.path.join(out_dir, "lineage"), run_id
    )
    enriched = pipeline.normalize_and_enrich(
        spark,
        read_transcript_stream(spark, input_dir, max_files_per_trigger),
        ingest_ts=ingest_ts,
        skip_turn_rank=True,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # epoch replay after a crash-between-commit: outputs are
        # idempotent anyway (per-batch overwrite), but skipping avoids
        # redoing the work
        if batch_id in done:
            return
        pipeline.commit_batch(
            spark, batch_df, out_dir, run_id, batch_id, ingest_ts, rules
        )
        done.add(batch_id)
        if chaos is not None:
            chaos(batch_id)

    return _start(enriched, checkpoint_dir, foreach=process_batch)


def streaming_first_seen(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    rules: list[tuple[str, str, int]] | None = None,
    ingest_ts: str = DEFAULT_INGEST_TS,
    ttl: str | None = None,
):
    """New-edge detection as a *native* stateful stream (reference:
    graph.go:108-127 — the CallGraph emits an edge event the first time
    a (src, dst, op) key appears). ``dropDuplicates`` on the edge key is
    exactly that operator: state = the edge set (bounded by the service
    topology, the same state the reference's in-memory map holds), and
    each key is emitted exactly once across the stream's lifetime,
    surviving restarts via the checkpoint.

    With ``ttl`` set (e.g. ``"5 minutes"``), the streaming twin of the
    reference's edge TTL eviction (graph.go:247-293, A7): state is a
    watermark-bounded ``dropDuplicatesWithinWatermark`` on event time,
    so an edge that goes quiet past the TTL is evicted and its
    re-appearance is a NEW edge event again — exactly the batch
    ``aggregate.edge_sessions`` lifetime semantics, with state bounded
    by (topology × active window) instead of the whole history.

    Delta vs the batch ``aggregate.first_seen_edges``: "first" here is
    arrival order (processing time), as in the reference; the batch
    operator reports min(event_ts).
    """
    stream = read_transcript_stream(spark, input_dir)
    enriched = pipeline.normalize_and_enrich(
        spark, stream, ingest_ts=ingest_ts, skip_turn_rank=True
    )
    edges = enriched.filter(
        (F.col("src_service") != "") & (F.col("dst_service") != "")
    ).select(
        F.col("src_service").alias("src"),
        F.col("dst_service").alias("dst"),
        F.col("operation").alias("op"),
        F.col("event_ts").alias("first_seen"),
    )
    if ttl is not None:
        edges = edges.withWatermark("first_seen", ttl).dropDuplicatesWithinWatermark(
            ["src", "dst", "op"]
        )
    else:
        edges = edges.dropDuplicates(["src", "dst", "op"])
    return _start(edges, checkpoint_dir, path=out_dir)


def streaming_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str,
    text_col: str = "text",
    ts_col: str = "ts",
    ttl: str = "1 hour",
):
    """Streaming exact dedup for training-data ingestion: documents
    arriving as parquet files are emitted once per distinct text within
    the ``ttl`` event-time horizon, keyed by the same 128-bit composite
    hash the batch ``datapipe.dedup.exact_dedup`` groups on (two-seed
    xxhash64 — one 64-bit key silently merges ~n²/2^65 distinct docs at
    corpus scale).

    State posture at 100 TB: ``dropDuplicatesWithinWatermark`` holds one
    state row per distinct key seen within the watermark window — 16
    bytes of key, independent of document size, and the watermark evicts
    keys older than ``ttl``, so state is bounded by (distinct docs per
    TTL window), not stream lifetime. The key columns are computed in a
    narrow projection; the stateful operator shuffles only
    (key, event-time) pairs. ``schema`` is required: streaming parquet
    sources cannot infer schemas (and an empty first listing would
    throw — CLAUDE.md round-2 gotcha).

    NULL ``ts_col`` rows are DROPPED by the watermark machinery (the
    same documented posture as ``streaming_sink_counts`` /
    ``streaming_conv_stats``, and ``streaming_first_seen`` with
    ``ttl``): a row with no event time cannot age against the TTL
    horizon. Coalesce to a real ingest timestamp upstream if such rows
    must survive — for a dedup stage, silently vanishing input is
    worse than a late duplicate."""
    from .datapipe.dedup import dedup_key

    stream = spark.readStream.schema(schema).parquet(input_dir)
    # the SAME key builder the batch family groups on (dedup.dedup_key)
    # — seed/normalization changes there must stay comparable with the
    # streaming state and any shared write_key_index/dedup_against
    keyed = stream.withColumn("_k", dedup_key(F.col(text_col))).select(
        "*", F.col("_k.h0").alias("_h0"), F.col("_k.h1").alias("_h1")
    ).drop("_k")
    deduped = (
        keyed.withWatermark(ts_col, ttl)
        .dropDuplicatesWithinWatermark(["_h0", "_h1"])
        .drop("_h0", "_h1")
    )
    return _start(deduped, checkpoint_dir, path=out_dir)


def streaming_near_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    index_dir: str,
    schema: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    chaos=None,
):
    """Streaming NEAR-dup dedup for continuous-crawl ingestion: each
    micro-batch drops documents whose estimated Jaccard reaches
    ``threshold`` against (a) anything already kept by prior batches —
    via the persisted MinHash signature/band index, the streaming twin
    of ``datapipe.dedup.near_dedup_against`` — or (b) a LOWER-id
    near-dup inside the same batch (the curate() loser rule). Survivors
    land under ``out_dir/batch_id=N`` and their signatures+bands are
    appended to the index as ``batch_id=N`` partitions, so the index is
    exactly the kept corpus's near-dup state.

    Exactly-once: the ``_index_stream`` commit protocol — idempotent
    per-batch ``batch_id=N`` overwrites, the commit marker appended
    LAST, replays that read only COMMITTED index partitions. ``chaos``
    (tests) fires after commit, before the checkpoint epoch.

    State posture at 100 TB: the index carries ~(num_hashes × 8 +
    bands × ~20) bytes per KEPT document — a small constant fraction of
    the corpus, growing only with what survives; per-batch work is the
    bounded band equi-join, never index × batch."""
    from .datapipe import dedup as ddp

    def body(batch_df, batch_id, committed, comp_state, keep) -> None:
        # ONE signature computation per batch: the persisted frame
        # serves the index join, the batch-internal pair search, and
        # the index append
        sigs = batch_df.select(
            F.col(id_col),
            ddp.minhash_signature(F.col(text_col), k, num_hashes).alias("sig"),
        )
        keep(sigs).count()
        # (a) cross-snapshot drops vs the committed live view (epoch
        # snapshot + committed batch tail — compaction/vacuum
        # transparent, datapipe.compaction)
        survivors = batch_df
        if committed:
            idx_sigs, idx_bands = compaction.read_minhash_index(
                spark, index_dir, id_col=id_col,
                committed=committed, state=comp_state,
            )
            idx_sigs = idx_sigs.withColumnRenamed(id_col, "doc_id")
            idx_bands = idx_bands.withColumnRenamed(id_col, "doc_id")
            survivors = ddp.near_dedup_against(
                survivors,
                idx_sigs,
                idx_bands,
                text_col=text_col,
                id_col=id_col,
                k=k,
                num_hashes=num_hashes,
                bands=bands,
                threshold=threshold,
                sigs_df=sigs,
            )
        # (b) batch-internal losers: any doc with a lower-id near-dup —
        # pairs come from the ALREADY-persisted signatures, not a
        # second shingle+hash pass over the batch
        pairs = ddp.minhash_pairs_from_sigs(
            sigs.select(F.col(id_col).alias("doc_id"), "sig"),
            num_hashes,
            bands,
            threshold,
        )
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        survivors = keep(survivors.join(losers, id_col, "left_anti"))
        survivors.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )
        kept_sigs = keep(sigs.join(survivors.select(id_col), id_col))
        kept_sigs.write.mode("overwrite").option(
            "compression", "zstd"
        ).parquet(os.path.join(index_dir, "sigs", f"batch_id={batch_id}"))
        ddp.banded_buckets(
            kept_sigs.withColumnRenamed(id_col, "doc_id"), num_hashes, bands
        ).withColumnRenamed("doc_id", id_col).write.mode("overwrite").option(
            "compression", "zstd"
        ).parquet(os.path.join(index_dir, "bands", f"batch_id={batch_id}"))

    return _index_stream(
        spark, input_dir, schema, index_dir, checkpoint_dir, chaos, body
    )


def streaming_semantic_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    index_dir: str,
    schema: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    chaos=None,
):
    """Streaming SEMANTIC dedup for continuous embedding ingestion —
    the SemDeDup twin of ``streaming_near_dedup``: each micro-batch
    drops vectors whose within-cell cosine reaches ``threshold``
    against (a) anything already kept by prior batches, via the
    cell-partitioned vector index
    (``datapipe.semdedup.semantic_dedup_against``), or (b) a LOWER-id
    semantic near-dup inside the same batch. Survivors land under
    ``out_dir/batch_id=N`` and their (vector, cell) rows append to the
    index as ``batch_id=N`` partitions (sub-partitioned by cell, so
    later probes still prune directories).

    ``centroids`` are the offline-trained cells
    (``similarity.kmeans_fit`` on a bootstrap sample) and MUST stay
    fixed for an index's lifetime — assignments across batches are
    only comparable under one centroid set.

    Exactly-once: the ``_index_stream`` commit protocol, so a crash in
    the commit gap never lets a batch see its own half-written state.
    ``chaos`` fires after commit, before the checkpoint epoch.

    State posture at 100 TB: the index holds one (id, vector) row per
    KEPT document — dim×8 bytes each, the minimum any exact-cosine
    carry state needs; per-batch work is the cell-bounded candidate
    join, never index × batch."""
    from .datapipe import semdedup as sdd

    def body(batch_df, batch_id, committed, comp_state, keep) -> None:
        # ONE cell assignment per batch (the near-dup stream's
        # one-signature rule): the LOCALLY-persisted frame serves the
        # index probe, the batch-internal pair search, and the index
        # append — never the module cache, whose global release would
        # yank frames out from under concurrent queries
        cells = sdd.assign_trained_cells(batch_df, centroids, vec_col)
        keep(cells).count()
        survivors = batch_df
        if committed:
            # committed live view (epoch snapshot + batch tail,
            # both cell-partitioned — probe filters still prune
            # directories)
            idx = compaction.read_semantic_index(
                spark, index_dir, id_col=id_col, vec_col=vec_col,
                committed=committed, state=comp_state,
            ).select(
                F.col(id_col).alias("vec_id"),
                F.col(vec_col).alias("embedding"),
                "cell",
            )
            survivors = sdd.semantic_dedup_against(
                survivors,
                threshold=threshold,
                vec_col=vec_col,
                id_col=id_col,
                index_df=idx,
                centroids=centroids,
                cells_df=cells,
            )
        # batch-internal losers: lower-id keeper rule, same as the
        # near-dup stream (pairs emit id_a < id_b)
        pairs = sdd.semantic_pairs(
            batch_df, centroids, threshold, vec_col, id_col, cells_df=cells
        )
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        survivors = keep(survivors.join(losers, id_col, "left_anti"))
        survivors.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )
        cells.select(id_col, vec_col, "cell").join(
            survivors.select(id_col), id_col
        ).write.mode("overwrite").option("compression", "zstd").partitionBy(
            "cell"
        ).parquet(os.path.join(index_dir, "vectors", f"batch_id={batch_id}"))

    return _index_stream(
        spark, input_dir, schema, index_dir, checkpoint_dir, chaos, body
    )


def streaming_substr_screen(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    index_dir: str,
    schema: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_contamination: float = 0.8,
    w: int = 8,
    window: int = 4,
    chaos=None,
):
    """Streaming substring-level boilerplate screening: each
    micro-batch computes every document's winnowed-fingerprint
    contamination against the persisted index of everything KEPT so
    far (datapipe.substr.substr_contamination semantics) PLUS the
    lower-id documents of the same batch (the siblings' rule (b), so
    boilerplate duplicates arriving in one micro-batch don't all pass)
    and drops documents at or above ``max_contamination`` — pages that
    are mostly passages the corpus already holds. Survivors land under
    ``out_dir/batch_id=N``
    and their DISTINCT fingerprints append to the index as a
    ``batch_id=N`` partition, so the index is exactly the kept corpus's
    substring memory (the streaming twin of write_fingerprint_index /
    substr_contamination, same commit protocol as
    streaming_near_dedup).

    Exactly-once: the ``_index_stream`` commit protocol — a crash in
    the gap replays cleanly because the half-written partition is
    invisible to the contamination join.

    State posture at 100 TB: the index carries 8 bytes per distinct
    kept fingerprint (~2/(W+1) per kept token); per-batch work is one
    hash-join of the batch's fingerprints against it.

    Known asymmetry vs batch ``substr_contamination`` (deliberate —
    one pass instead of two): the batch-internal lane counts a gram as
    seen when ANY lower-id doc in the batch holds it, including
    lower-id docs that are themselves dropped for contamination — a
    doc can be screened against text that never enters the kept
    corpus. The batch form screens only against kept text; exact
    kept-corpus semantics here would need a second pass restricted to
    surviving min-holders. The index lane (cross-batch) is identical
    in both forms, so the divergence is bounded to single-micro-batch
    sibling sets and biases toward DROPPING near-boilerplate, never
    keeping it."""
    from .datapipe import substr as sub

    def body(batch_df, batch_id, committed, comp_state, keep) -> None:
        # ONE fingerprint pass per batch: serves the contamination
        # join, the keep filter, and the index append
        fp = sub.fingerprint_table(batch_df, text_col, id_col, w, window)
        keep(fp).count()
        if committed:
            # committed live view (compaction/vacuum transparent)
            idx = compaction.read_fingerprint_index(
                spark, index_dir, committed=committed, state=comp_state
            )
        else:
            idx = local_frame(spark, [], "gram_hash long")
        # contamination vs the index AND the batch itself (the
        # siblings' rule (b)): a fingerprint counts as seen for doc a
        # when the index holds it OR a LOWER-id doc in this batch does —
        # without the batch-internal lane, boilerplate duplicates
        # arriving in ONE micro-batch all pass and the kept corpus
        # depends on trigger boundaries. Same n_seen/n_fingerprints
        # (+1e-9, 4 dp) convention as substr_contamination;
        # fingerprint-less docs never drop.
        min_holder = fp.groupBy("gram_hash").agg(
            F.min("doc_id").alias("_minh")
        )
        in_idx = idx.select("gram_hash").distinct().withColumn(
            "_ins", F.lit(1)
        )
        seen = (
            (F.col("_minh") < F.col("doc_id"))
            | F.col("_ins").isNotNull()
        ).cast("long")
        scored = (
            fp.join(min_holder, "gram_hash")
            .join(in_idx, "gram_hash", "left")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("_nfp"),
                F.sum(seen).alias("_nseen"),
            )
        )
        drop_ids = scored.filter(
            F.round(F.col("_nseen") / F.col("_nfp") + F.lit(1e-9), 4)
            >= max_contamination
        ).select(F.col("doc_id").alias(id_col))
        survivors = keep(batch_df.join(drop_ids, id_col, "left_anti"))
        survivors.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )
        kept_fp = fp.join(
            survivors.select(F.col(id_col).alias("doc_id")), "doc_id"
        )
        kept_fp.select("gram_hash").distinct().write.mode(
            "overwrite"
        ).option("compression", "zstd").parquet(
            os.path.join(index_dir, "grams", f"batch_id={batch_id}")
        )

    return _index_stream(
        spark, input_dir, schema, index_dir, checkpoint_dir, chaos, body
    )


def streaming_sink_counts(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    window_duration: str = "1 minute",
    rules: list[tuple[str, str, int]] | None = None,
    ingest_ts: str = DEFAULT_INGEST_TS,
):
    """Native streaming per-sink windowed aggregate with a watermark.

    The full parse+enrich chain is narrow, so it rides inside the
    streaming micro-batch untouched; the windowed `groupBy` runs as a
    stateful streaming aggregation whose state is bounded by the
    watermark (append mode emits a window once it is final)."""
    stream = read_transcript_stream(spark, input_dir)
    enriched = pipeline.normalize_and_enrich(
        spark, stream, ingest_ts=ingest_ts, skip_turn_rank=True
    )
    routed = route.routed_rows(enriched, rules or gen.routing_rules())
    # ONE aggregate definition shared with the batch path; the
    # watermark rides the raw ts column (null_bucket=False — a
    # coalesce would strip the eventTime metadata), so NULL-ts rows
    # are dropped here like any beyond-watermark late row
    counts = route.sink_counts(
        routed.withWatermark("ts", watermark),
        ts_col="ts",
        window_duration=window_duration,
        null_bucket=False,
    )
    return _start(counts, checkpoint_dir, path=out_dir)


def streaming_conv_stats(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    session_gap: str = "5 minutes",
):
    """Watermarked per-conversation SESSION rollup on the live
    transcript stream — the conversation-granularity analog of
    ``streaming_sink_counts`` and the streaming twin of
    ``transcript.conv_stats``.

    A conversation's turns arrive over time; ``session_window(ts,
    gap)`` closes a session once the conversation goes quiet for
    ``session_gap`` (the streaming stand-in for "conversation ended"),
    and append mode emits the finalized rollup exactly once when the
    watermark passes the session end. State is one aggregate row per
    OPEN session — bounded by concurrently-active conversations, not
    corpus size — and the watermark evicts closed sessions.

    The aggregate list is ``transcript.conv_agg_exprs`` — the SAME
    definition the batch rollup uses, so an emitted session row equals
    the batch ``conv_stats`` row computed over that session's turns.
    NULL-ts rows are dropped by the watermark like any beyond-watermark
    late row (same documented posture as ``streaming_sink_counts``).
    """
    from . import transcript

    stream = read_transcript_stream(spark, input_dir)
    stats = (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.session_window(F.col("ts"), session_gap).alias("w"),
            F.col("conv_id"),
        )
        .agg(*transcript.conv_agg_exprs("ts"))
    )
    stats = stats.select(
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        *[c for c in stats.columns if c != "w"],
    )
    return _start(stats, checkpoint_dir, path=out_dir)


def asof_state_append(
    spark: SparkSession,
    rows: DataFrame,
    state_dir: str,
    batch_id: int,
) -> None:
    """Append one committed epoch to an as-of state table: the rows land
    under ``state_dir/batch_id=N`` (idempotent overwrite) and the
    ``_commits`` marker row lands LAST, so a crashed append is invisible
    to every reader and a rerun re-commits the same bytes — the same
    marker protocol as the streaming dedup indexes
    (datapipe.compaction.committed_batches)."""
    rows.write.mode("overwrite").option("compression", "zstd").parquet(
        os.path.join(state_dir, f"batch_id={batch_id}")
    )
    compaction.append_commit_marker(spark, state_dir, batch_id, None)


def streaming_asof_enrich(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str,
    state_schema: str,
    keys: list[str],
    probe_ts: str = "ts",
    build_ts: str = "ts",
    payloads: list[str] | None = None,
    tolerance_s: float | None = None,
    tiebreak: str | None = None,
    chaos=None,
):
    """Stream-table AS-OF enrichment — the streaming twin of
    ``temporal.asof_join``: each arriving probe row is enriched with the
    latest state-change row at or before its timestamp ("which
    deploy/config was live when this turn happened"). The reference's
    TTL-cached resolver (internal/resolve/cache.go:26-78) serves the
    same role with the same staleness posture: state committed after a
    probe batch was processed enriches FUTURE batches only — the
    standard stream-table-join delta vs a full batch recompute.

    The state table is APPEND-ONLY under the repo's marker protocol
    (``state_dir/batch_id=N`` + ``_commits``; write epochs with
    ``asof_state_append``). Exactly-once output under replay requires
    the batch → state-view binding to SURVIVE a crash — the state table
    may grow between the crashed attempt and its replay — so each batch
    PINS the exact committed-epoch set it read, FIRST, under
    ``out_dir/_epoch_pins/batch_id=N`` (own marker row last): a
    replayed batch reads its pin and joins the byte-identical state
    view, then overwrites the same output partition. Crash windows: (a)
    before the pin marker → replay re-pins (output never written); (b)
    between pin marker and output → replay reuses the pin, output
    written once; (c) after output, before Spark's checkpoint → replay
    reuses the pin and overwrites identical bytes.

    Scale posture: the join is ``temporal.asof_join`` (union-tag running
    last — ONE shuffle per micro-batch, no row-level join); per-task
    state is bounded by the micro-batch, and the state view is read via
    explicit partition paths so only pinned epochs are ever listed.
    """
    import pyarrow as pa

    from . import temporal

    state_fields = StructType.fromDDL(state_schema).fieldNames()
    pins_dir = os.path.join(out_dir, "_epoch_pins")
    # the pins belong to ONE logical stream: a new checkpoint over a
    # reused out_dir would collide batch ids with the old run's pins
    # and enrich NEW data against STALE pinned state views. One pins
    # _commits scan at stream start, maintained locally — this process
    # is the sole pins writer (run_stream's lineage pattern); the
    # per-batch STATE-dir scan below stays, state has an external
    # writer (asof_state_append callers)
    run_id = _stream_run_id(checkpoint_dir)
    pinned_batches = compaction.claim_commits(
        spark, os.path.join(pins_dir, "_commits"), run_id
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        pin_path = os.path.join(pins_dir, f"batch_id={batch_id}")
        if batch_id in pinned_batches:
            pinned = {
                r["state_batch_id"]
                for r in spark.read.schema("state_batch_id long")
                .parquet(pin_path)
                .collect()
            }
        else:
            pinned = compaction.committed_batches(spark, state_dir)
            # an empty state set pins as a zero-row file
            compaction.write_small_parquet(
                spark,
                pin_path,
                pa.table({"state_batch_id": pa.array(sorted(pinned), pa.int64())}),
                overwrite=True,
            )
            # pin marker LAST — a crash mid-pin-write is invisible
            compaction.append_commit_marker(spark, pins_dir, batch_id, run_id)
            pinned_batches.add(batch_id)
        if chaos is not None:
            chaos(batch_id, "pinned")
        if pinned:
            state = spark.read.schema(state_schema).parquet(
                *[os.path.join(state_dir, f"batch_id={b}") for b in sorted(pinned)]
            )
            # hive partition col rides along even with a pinned schema
            # (CLAUDE.md gotcha) — select the declared fields only
            state = state.select(*state_fields)
        else:
            state = local_frame(spark, [], state_schema)
        enriched = temporal.asof_join(
            batch_df,
            state,
            keys,
            probe_ts=probe_ts,
            build_ts=build_ts,
            payloads=payloads,
            tolerance_s=tolerance_s,
            tiebreak=tiebreak,
        )
        enriched.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )
        if chaos is not None:
            chaos(batch_id, "written")

    stream = spark.readStream.schema(schema).parquet(input_dir)
    return _start(stream, checkpoint_dir, foreach=process_batch)
