"""SparkSession construction with the engine's standard configuration,
and the one registry of frames lazy operators hold for reuse."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


ROWS_PER_TASK = 100_000  # generator rows; proxy for ~tens of MB per task
OVERSUBSCRIPTION = 3  # tasks per core: shuffle width, generator ceiling


def work_targeted_partitions(
    n_rows: int, cores: int | None = None, rows_per_task: int = ROWS_PER_TASK
) -> int:
    """Partition count targeting ~rows_per_task per task, clamped to
    [1x, OVERSUBSCRIPTION x] cores.

    Tasks-per-core is WORK-DEPENDENT, not a constant (measured,
    interleaved fresh-JVM A/Bs): at 16 cores / 9.6M turns, 3 tasks/core
    beat 1 by 27% (straggler slack absorbs noise bursts when tasks
    carry real work), but at 32 cores / 600k turns the same 3/core
    LOST 20-30% (96 tiny tasks are scheduling-floor-bound; AQE can
    coalesce shuffles but not the map-side input partitioning). The
    clamp reproduces the measured optimum at both points:
    600k/32c -> 32 (1/core), 9.6M/16c -> 48 (3/core), 9.6M/4c -> 12.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    by_work = max(1, n_rows // rows_per_task)
    return max(cores, min(cores * OVERSUBSCRIPTION, by_work))


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """A small driver-built frame (lookup dimensions, lineage and
    counter rows) that stays in the JVM.

    ``createDataFrame(list)`` builds a pickled Python RDD: every scan of
    it starts Python workers and runs a Spark job, even for three rows.
    Built from a ``pyarrow.Table``, the frame is a ``LocalRelation`` and
    plans as ``LocalTableScan``: collecting or broadcasting it runs no
    job, and writing it with ``coalesce(1)`` runs one task."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    names = struct.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)


# Frames a lazy operator persists because its plan reads them more than
# once (both self-join sides, an in-op collect plus the join-back). The
# operator returns a lazy frame, so it cannot unpersist its own
# intermediate; it holds it here instead, and the eager caller calls
# release_held() once its action has run. One registry for every
# operator, so no caller has to know which operators held what. It
# drains every caller's frames: code that needs its own lifetime beside
# a concurrent query persists locally (streaming._index_stream's keep).
_HELD: list[DataFrame] = []


def hold(df: DataFrame) -> DataFrame:
    """Persist ``df`` until the next ``release_held()``; returns it."""
    df = df.persist()
    _HELD.append(df)
    return df


def release_held() -> None:
    """Unpersist every frame held since the last release. Call after
    the action that consumed the operators' output."""
    while _HELD:
        _HELD.pop().unpersist()


def get_spark(
    master: str | None = None,
    app_name: str = "logshipper-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Defaults: UTC session timezone (the reference normalizes all
    timestamps to UTC), AQE on with skew-join handling (hot
    conversations), Arrow enabled for the vectorized pandas-UDF path.
    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox;
    on a real cluster it is supplied by spark-submit and left unset.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # 3 tasks per core (Spark tuning-guide posture), not 1: with
        # exactly one task per core the slowest task IS the stage — no
        # straggler slack, and a noisy-neighbor burst on one core
        # extends the stage by the full burst length. Measured at 16
        # cores / 9.6M turns (interleaved fresh-JVM A/B, best-of-4):
        # 17.2 s at 3 tasks/core vs 23.6 s at 1, spread collapsing from
        # 23-48 s to 17-19 s; 4-core leg 68.0 s vs 84.3 s. 6/core was
        # within noise of 3 and not adopted. On a real cluster the same
        # setting gives dynamic-allocation slack and skew headroom.
        # The size-aware caller, gen.transcripts, uses
        # work_targeted_partitions instead — 3/core hurts when tasks
        # are tiny (measured -20-30% at 600k turns / 32 cores).
        shuffle_partitions = (
            int(os.environ.get("SPARK_GRAFT_CPUS", "32")) * OVERSUBSCRIPTION
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # mapKeyDedupPolicy stays at the EXCEPTION default: from_json is
        # last-win regardless of policy (Jackson dedupes), and the one
        # operator that would throw on a repeated key (logfmt's map
        # build) dedups keys explicitly in formats.logfmt_map instead.
        # The parse layer is one very wide projection (~40 alias-group
        # coalesces over the decoded map). Its generated code exceeds
        # HotSpot's JIT method limit (8 KB bytecode), and un-JIT-able
        # generated code runs 4-7x slower than Catalyst's interpreted
        # eval. Capping hugeMethodLimit makes Spark fall back to
        # interpreted execution for exactly those oversized methods
        # while keeping whole-stage codegen for every normal stage
        # (measured: 30k -> 216k rows/s on the parse+enrich chain).
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # measured on the sink write path (600k-row routed fan-out):
        # snappy 16.8s/75MB, lz4 6.3s/76MB, zstd 8.8s/48MB. lz4 is
        # strictly better than snappy here (same bytes, 2.7x faster);
        # prefer zstd instead when storage/network bytes dominate.
        .config("spark.sql.parquet.compression.codec", "lz4")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        # local mode: the driver JVM is the whole "cluster". 8g measured
        # faster and steadier than 32g here (large heaps pay growth +
        # GC-pause tax on this VM); override via SPARK_DRIVER_MEMORY.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
