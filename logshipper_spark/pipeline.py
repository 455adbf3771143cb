"""End-to-end pipeline wiring: parse → enrich → route → aggregate.

The reference wires bounded channels between stages (reference:
internal/pipeline/pipeline.go:38-175). Here the stages are one
declarative DataFrame chain: Catalyst fuses parse+transform+enrich into
a single narrow whole-stage-codegen pass over the scan; the only wide
boundaries are the aggregate shuffles. Routing fans each row out to its
sinks inside that same pass, and one partitioned write lands every sink
(the reference's transform output channel).

The work after the narrow stage is one function, ``commit_batch``.
``run_batch`` plans the narrow stage and calls it; a stream plans the
narrow stage once per query and calls it on every micro-batch
(``streaming.run_stream``). The edge aggregate's ring is the
one-shuffle window plan.

Exactly-once + lineage (north rule): every batch writes its sinks under
``batch_id=N`` directories (re-running a batch overwrites its own
output — idempotent restart), and commits per-stage lineage totals
plus pipeline counters (mirroring the reference's Prometheus counters,
internal/metrics/metrics.go:12-72) to a checkpoint table, committed
last so a half-written batch is re-done on restart. The lineage file
is written from the driver, temp file then rename, and runs no Spark
job.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import aggregate as agg
from . import enrich, gen, parse, route
from .datapipe.compaction import commit_runs, write_small_parquet
from .schemas import (
    DEFAULT_INGEST_TS,
    FORMAT_ECS,
    FORMAT_EMPTY,
    FORMAT_JSON,
    FORMAT_METRIC,
    FORMAT_PLAIN,
    FORMAT_TEMPLATE,
    LINEAGE_SCHEMA,
)
from .session import local_frame

KNOWN_FORMATS = [
    FORMAT_JSON, FORMAT_ECS, FORMAT_METRIC, FORMAT_TEMPLATE, FORMAT_PLAIN,
    FORMAT_EMPTY,
]


def normalize_and_enrich(
    spark: SparkSession,
    transcripts: DataFrame,
    ingest_ts: str = DEFAULT_INGEST_TS,
    lookup_hosts: DataFrame | None = None,
    skip_turn_rank: bool = False,
    docker_replicas: bool = True,
) -> DataFrame:
    """The narrow stage: parse the text column (role plays the
    reference's source name), enrich on (role, tool), resolve dst/src
    services, and pin stable turn ordering (W11) with a row_number over
    (conv_id, turn_idx). Both lookups compile into the projection, so
    parse → enrich → resolve is one projection over the scan.

    ``skip_turn_rank=True`` keeps the chain fully narrow (no window
    shuffle) — required for the native streaming path, where arbitrary
    window functions are unsupported and ordering is carried by
    (conv_id, turn_idx) itself."""
    parsed = parse.parse_normalized(
        transcripts, text_col="text", source_name=F.col("role"), ingest_ts=ingest_ts
    )
    enriched = enrich.enrich_roles(parsed, gen.lookup_roles(spark))
    enriched = enrich.resolve_services(
        enriched,
        lookup_hosts if lookup_hosts is not None else gen.lookup_hosts(spark),
        docker_replicas=docker_replicas,  # reference config: resolve.docker
    )
    if skip_turn_rank:
        return enriched
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return enriched.withColumn("turn_rank", F.row_number().over(w))


def lineage_rows(
    run_id: str,
    rows_in: int,
    sink_rows: dict[str, int],
    counters: list[tuple[str, int]],
) -> list[tuple]:
    """One batch's lineage + counters rows, in ``LINEAGE_SCHEMA`` order
    without ``batch_id`` (it lives in the ``lineage/batch_id=N``
    directory name) and ``committed_at`` (``commit_lineage`` adds it).
    Stage totals use ``partition_id -1``: the parse total, one
    ``sink:<name>`` row per non-empty sink, then the counters."""
    rows = [(run_id, "parse", -1, rows_in, rows_in, None, None)]
    rows += [
        (run_id, f"sink:{sink}", -1, rows_in, n, None, None)
        for sink, n in sorted(sink_rows.items())
    ]
    rows += [(run_id, "counters", -1, rows_in, None, k, int(v)) for k, v in counters]
    return rows


def commit_lineage(
    spark: SparkSession,
    out_dir: str,
    batch_id: int,
    rows: list[tuple],
    ingest_ts: str,
) -> None:
    """Overwrite ``lineage/batch_id=N`` with ``rows`` as one file,
    written from the driver without a Spark job
    (``compaction.write_small_parquet``). Spark reads it back with
    ``LINEAGE_SCHEMA``'s types.

    ``committed_at`` is the run's pinned ingestion clock, NOT wall
    clock: a replayed batch re-commits an identical file (determinism
    rule). It is Spark's own cast of ``ingest_ts`` in the session time
    zone, taken from a one-row ``LocalTableScan`` (no job)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    stamp = local_frame(spark, [(ingest_ts,)], "ts string").select(
        F.unix_micros(F.col("ts").cast("timestamp"))
    ).collect()[0][0]
    schema = to_arrow_schema(
        T.StructType([f for f in LINEAGE_SCHEMA.fields if f.name != "batch_id"])
    )
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r + (stamp,))) for r in rows], schema=schema
    )
    write_small_parquet(
        spark, os.path.join(out_dir, "lineage", f"batch_id={batch_id}"), table,
        overwrite=True,
    )


def run_batch(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    batch_id: int = 0,
    ingest_ts: str = DEFAULT_INGEST_TS,
    rules: list[tuple[str, str, int]] | None = None,
    lookup_hosts: DataFrame | None = None,
    transform_fn=None,
    docker_replicas: bool = True,
) -> dict:
    """One batch of the full pipeline: ``normalize_and_enrich`` (plus
    the optional ``transform_fn``), then ``commit_batch``. Returns a
    summary dict with the per-sink row counts and counters (the numbers
    the north rule compares against the reference's fixture tests).

    Sink payload: the normalized event including the ``raw`` map but
    not the original source line (reference: NormalizedEvent,
    internal/event/event.go:24-38, carries Raw, not the raw text).
    """
    t0 = time.time()
    enriched = normalize_and_enrich(
        spark, transcripts, ingest_ts=ingest_ts, lookup_hosts=lookup_hosts,
        docker_replicas=docker_replicas,
    )
    if transform_fn is not None:
        # config-compiled remap chain (add_fields / case), still narrow
        enriched = transform_fn(enriched)
    summary = commit_batch(
        spark, enriched, out_dir, run_id or uuid.uuid4().hex[:12], batch_id,
        ingest_ts, rules or gen.routing_rules(),
    )
    elapsed = time.time() - t0
    summary["elapsed_sec"] = elapsed
    summary["turns_per_sec"] = summary["rows_in"] / elapsed if elapsed > 0 else 0.0
    return summary


def commit_batch(
    spark: SparkSession,
    enriched: DataFrame,
    out_dir: str,
    run_id: str,
    batch_id: int,
    ingest_ts: str,
    rules: list[tuple[str, str, int]],
) -> dict:
    """Everything a batch does after the narrow stage: observe → route
    → sink write → sink counts → edge aggregate → lineage. ``run_batch``
    calls it on a freshly planned frame; ``streaming.run_stream`` plans
    the narrow stage once per query and calls it on each micro-batch.

    Counters AND per-sink row counts ride the write pass via
    ``df.observe`` (the Spark analogue of the reference's inline
    Prometheus counters, metrics.go:12-72) — no extra jobs for
    rows_in / per-format counts / parse errors / sink rows. A sink's
    count is the sum of ``count_if(predicate)`` over the rules naming
    it (exactly the rows ``route.routed_rows`` fans out to it); sinks
    with no rows are left out.

    The write is the 100 TB shape: parse → enrich → route → write fuses
    into ONE pass (no cache materialization — a 100 TB batch is never
    memory-resident), written with ``partitionBy(sink)`` under
    ``sinks_by/batch_id=N/sink=<name>``. The windowed aggregates then
    read back the written parquet (column-pruned scans of compact files
    — the write IS the materialization); the edge aggregate reads the
    catch-all sink's partition, or recomputes the narrow parse chain
    when no rule is a catch-all. The edge ring takes the one-shuffle
    window plan (``ring_block_s=None``, one job fewer than the blocked
    plan, same output: ``aggregate.edge_agg``). No measured workload
    holds a hot edge large enough for the blocked plan to pay off.

    Lineage is committed last, as one small file per batch written from
    the driver (``commit_lineage``): stage totals plus the counters.
    """
    rules = sorted(rules, key=lambda r: r[2])
    obs = Observation(f"pipeline_{run_id}_{batch_id}")
    enriched = enriched.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.count_if(~F.col("parse_ok")).alias("parse_errors"),
        *[
            F.count_if(F.col("format") == f).alias(f"fmt_{f}")
            for f in KNOWN_FORMATS
        ],
        *[
            F.count_if(F.expr(pred)).alias(f"rule_{i}")
            for i, (_, pred, _) in enumerate(rules)
        ],
    )

    # THE pass: parse+enrich+route+write fused; observe() rides it
    path = os.path.join(out_dir, "sinks_by", f"batch_id={batch_id}")
    sink_payload = route.routed_rows(enriched, rules).drop("text")
    sink_payload.write.mode("overwrite").partitionBy("sink").parquet(path)
    # explicit schema: an all-empty batch writes no data files and
    # schema inference would throw; with the schema pinned the
    # read-back is simply an empty frame
    routed = spark.read.schema(sink_payload.schema).parquet(path)

    # observe() metrics are available once the first write has run
    metrics = obs.get
    rows_in = metrics["rows_in"]
    parse_errors = metrics["parse_errors"]
    fmt_counts = {
        f: metrics[f"fmt_{f}"] for f in KNOWN_FORMATS if metrics[f"fmt_{f}"] > 0
    }
    sink_rows: dict[str, int] = {}
    for i, (sink, _, _) in enumerate(rules):
        sink_rows[sink] = sink_rows.get(sink, 0) + metrics[f"rule_{i}"]
    sink_rows = {sink: n for sink, n in sink_rows.items() if n > 0}

    counts = route.sink_counts(routed, ts_col="ts", window_duration="1 minute")
    # edge aggregate input: with a catch-all sink (predicate 'true'),
    # its written partition IS the full enriched frame — a pruned,
    # column-projected read-back instead of a second parse pass
    catch_all = next(
        (s for s, pred, _ in rules if pred.strip().lower() == "true"), None
    )
    if catch_all is not None:
        edge_src = routed.filter(F.col("sink") == catch_all)
    else:
        edge_src = enriched
    # one-shuffle ring: one job fewer than the blocked plan
    edges = agg.edge_agg(
        edge_src, ts_col="event_ts", order_cols=["ts", "conv_id", "turn_idx"],
        ring_block_s=None,
    )
    counts.write.mode("overwrite").parquet(
        os.path.join(out_dir, "sink_counts", f"batch_id={batch_id}")
    )
    edges.write.mode("overwrite").parquet(
        os.path.join(out_dir, "edge_agg", f"batch_id={batch_id}")
    )

    # lineage + counters checkpoint rows, committed last (restart point)
    counters = [
        ("events_received_total", rows_in),
        ("parse_errors_total", parse_errors),
        *[(f"parse_total_{fmt}", n) for fmt, n in sorted(fmt_counts.items())],
        *[(f"sink_rows_{sink}", n) for sink, n in sorted(sink_rows.items())],
    ]
    # one directory per batch, overwritten on replay: a crash after
    # the commit but before the streaming checkpoint records the epoch
    # replays the batch and re-commits identical lineage instead of
    # double-appending counters. batch_id lives in the directory name
    # (partition discovery restores it on read).
    commit_lineage(
        spark, out_dir, batch_id,
        lineage_rows(run_id, rows_in, sink_rows, counters), ingest_ts,
    )
    return {
        "run_id": run_id,
        "batch_id": batch_id,
        "rows_in": rows_in,
        "sink_rows": sink_rows,
        "format_counts": fmt_counts,
        "parse_errors": parse_errors,
    }


def completed_batches(
    spark: SparkSession, out_dir: str, run_id: str | None = None
) -> set[int]:
    """Batches whose lineage committed — the resume point for restarts.
    With ``run_id``, only batches committed by that logical run count.
    A run that commits checks ownership with
    ``compaction.claim_commits`` on the same table."""
    runs = commit_runs(spark, os.path.join(out_dir, "lineage"))
    if run_id is not None:
        return runs.get(run_id, set())
    return set().union(*runs.values())
