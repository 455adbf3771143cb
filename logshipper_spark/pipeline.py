"""End-to-end pipeline wiring: parse → enrich → route → aggregate.

The reference wires bounded channels between stages (reference:
internal/pipeline/pipeline.go:38-175). Here the stages are one
declarative DataFrame chain: Catalyst fuses parse+transform+enrich into
a single narrow whole-stage-codegen pass over the scan; the only wide
boundaries are the aggregate shuffles. Routing fans each row out to its
sinks inside that same pass, and one partitioned write lands every sink
(the reference's transform output channel).

Exactly-once + lineage (north rule): every batch writes its sinks under
``batch_id=N`` directories (re-running a batch overwrites its own
output — idempotent restart), and commits per-stage lineage totals
plus pipeline counters (mirroring the reference's Prometheus counters,
internal/metrics/metrics.go:12-72) to a checkpoint table, committed
last so a half-written batch is re-done on restart.
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
from .datapipe.compaction import _exists
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
    lookup_roles: DataFrame | None = None,
    lookup_hosts: DataFrame | None = None,
    skip_turn_rank: bool = False,
    docker_replicas: bool = True,
) -> DataFrame:
    """The narrow stage: parse the text column (role plays the
    reference's source name), broadcast-enrich on (role, tool), resolve
    dst/src services, and pin stable turn ordering (W11) with a
    row_number over (conv_id, turn_idx).

    ``skip_turn_rank=True`` keeps the chain fully narrow (no window
    shuffle) — required for the native streaming path, where arbitrary
    window functions are unsupported and ordering is carried by
    (conv_id, turn_idx) itself."""
    parsed = parse.parse_normalized(
        transcripts, text_col="text", source_name=F.col("role"), ingest_ts=ingest_ts
    )
    enriched = enrich.enrich_roles(
        parsed, lookup_roles if lookup_roles is not None else gen.lookup_roles(spark)
    )
    enriched = enrich.resolve_services(
        enriched,
        lookup_hosts if lookup_hosts is not None else gen.lookup_hosts(spark),
        docker_replicas=docker_replicas,  # reference config: resolve.docker
    )
    if skip_turn_rank:
        return enriched
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return enriched.withColumn("turn_rank", F.row_number().over(w))


def lineage_frame(
    spark: SparkSession,
    run_id: str,
    rows_in: int,
    sink_rows: dict[str, int],
    counters: list[tuple[str, int]],
    ingest_ts: str = DEFAULT_INGEST_TS,
) -> DataFrame:
    """One batch's lineage + counters rows, built on the driver (the
    ``lineage/batch_id=N`` layout; ``batch_id`` lives in the directory
    name). Stage totals use ``partition_id -1``: the parse total, one
    ``sink:<name>`` row per non-empty sink, then the counters.

    ``committed_at`` is the run's pinned ingestion clock, NOT wall
    clock: a replayed batch re-commits identical lineage (determinism
    rule)."""
    rows = [(run_id, "parse", -1, rows_in, rows_in, None, None)]
    rows += [
        (run_id, f"sink:{sink}", -1, rows_in, n, None, None)
        for sink, n in sorted(sink_rows.items())
    ]
    rows += [(run_id, "counters", -1, rows_in, None, k, int(v)) for k, v in counters]
    schema = T.StructType(
        [f for f in LINEAGE_SCHEMA.fields if f.name not in ("batch_id", "committed_at")]
    )
    return local_frame(spark, rows, schema).withColumn(
        "committed_at", F.lit(ingest_ts).cast("timestamp")
    )


def run_batch(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    batch_id: int = 0,
    ingest_ts: str = DEFAULT_INGEST_TS,
    rules: list[tuple[str, str, int]] | None = None,
    lookup_roles: DataFrame | None = None,
    lookup_hosts: DataFrame | None = None,
    transform_fn=None,
    docker_replicas: bool = True,
) -> dict:
    """One batch of the full pipeline. Returns a summary dict with the
    per-sink row counts and counters (the numbers the north rule
    compares against the reference's fixture tests).

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
    when no rule is a catch-all.

    Lineage is committed last, as one small driver-built file per
    batch (``lineage_frame``): stage totals plus the counters.

    Sink payload: the normalized event including the ``raw`` map but
    not the original source line (reference: NormalizedEvent,
    internal/event/event.go:24-38, carries Raw, not the raw text).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    rules = sorted(rules or gen.routing_rules(), key=lambda r: r[2])
    t0 = time.time()

    obs = Observation(f"pipeline_{run_id}_{batch_id}")
    enriched = normalize_and_enrich(
        spark, transcripts, ingest_ts=ingest_ts,
        lookup_roles=lookup_roles, lookup_hosts=lookup_hosts,
        docker_replicas=docker_replicas,
    )
    if transform_fn is not None:
        # config-compiled remap chain (add_fields / case), still narrow
        enriched = transform_fn(enriched)
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
    edges = agg.edge_agg(
        edge_src, ts_col="event_ts", order_cols=["ts", "conv_id", "turn_idx"]
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
    # run_batch but before the streaming checkpoint commit replays the
    # batch and re-commits identical lineage instead of double-appending
    # counters. batch_id lives in the directory name (partition
    # discovery restores it on read).
    lineage = lineage_frame(spark, run_id, rows_in, sink_rows, counters, ingest_ts)
    lineage.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "lineage", f"batch_id={batch_id}")
    )

    elapsed = time.time() - t0
    return {
        "run_id": run_id,
        "batch_id": batch_id,
        "rows_in": rows_in,
        "sink_rows": sink_rows,
        "format_counts": fmt_counts,
        "parse_errors": parse_errors,
        "elapsed_sec": elapsed,
        "turns_per_sec": rows_in / elapsed if elapsed > 0 else 0.0,
    }


def completed_batches(
    spark: SparkSession, out_dir: str, run_id: str | None = None
) -> set[int]:
    """Batches whose lineage committed — the resume point for restarts.
    With ``run_id``, only batches committed by that logical run count
    (a fresh run over a reused output dir must not skip its own work
    because an older run left lineage behind).

    Only the path-missing case yields the empty set; a corrupt or
    transiently unreadable lineage table PROPAGATES (failing open
    would silently disable restart-skip forever and mask the
    corruption — same posture as compaction.committed_batches)."""
    runs = lineage_runs(spark, out_dir)
    if run_id is not None:
        return runs.get(run_id, set())
    return {b for batches in runs.values() for b in batches}


def claim_out_dir(spark: SparkSession, out_dir: str, run_id: str) -> set[int]:
    """Claim ``out_dir`` for one logical run: batch outputs are keyed by
    batch_id alone, so a second run would OVERWRITE the first run's
    ``batch_id=N`` partitions. Raises ``ValueError`` on another run's
    lineage; otherwise returns ``run_id``'s committed batches."""
    runs = lineage_runs(spark, out_dir)
    foreign = sorted(set(runs) - {run_id})
    if foreign:
        raise ValueError(
            f"out_dir {out_dir!r} already holds lineage from run(s) "
            f"{foreign}; an output dir belongs to ONE logical stream or "
            f"batch run — use a fresh out_dir, or resume the original "
            f"run with its checkpoint/run_id"
        )
    return runs.get(run_id, set())


def lineage_runs(spark: SparkSession, out_dir: str) -> dict[str, set[int]]:
    """Committed batches per run_id — one lineage scan serving both the
    resume-skip set and the foreign-run guard (``claim_out_dir``)."""
    path = os.path.join(out_dir, "lineage")
    if not _exists(spark, path):
        return {}
    # partial pinned schema: an existing-but-empty dir reads as empty
    # instead of throwing on inference; batch_id is the hive partition
    # column (naming it in the schema pins its type, no duplicate col)
    df = spark.read.schema("run_id string, batch_id long").parquet(path)
    runs: dict[str, set[int]] = {}
    for r in df.select("run_id", "batch_id").distinct().collect():
        runs.setdefault(r["run_id"], set()).add(r["batch_id"])
    return runs
