"""Epoch-based compaction for the incremental dedup index families.

The streaming dedup operators (``streaming.streaming_near_dedup`` /
``streaming_semantic_dedup`` / ``streaming_substr_screen``) grow their
carry indexes as one ``batch_id=N`` partition per micro-batch plus an
append-only ``_commits`` marker table. Exactly-once and replay-safe —
and, after years of micro-batches at the 100 TB posture, also the
classic small-files problem: O(batches) directories, O(batches×files)
metadata calls per probe, and every probe unions thousands of tiny
parquet footers (the reason table formats like Iceberg/Delta ship
"rewrite data files" maintenance actions).

Compaction folds the committed state into a single
``<table>_compact/epoch=E`` snapshot using the SAME commit discipline
the batches use:

1. read the CURRENT live view — the previous committed epoch plus the
   committed ``batch_id`` partitions newer than it,
2. rewrite it under ``epoch=E+1`` (an idempotent directory overwrite),
3. append one ``(epoch, covered)`` row to ``_compact_commits`` LAST.

A crash anywhere before (3) leaves the live view untouched — readers
only trust committed epochs — and a rerun overwrites the same
``epoch=E+1`` directories. After (3), readers see the new epoch plus
the batch tail; ``vacuum_index`` may then delete covered batch
partitions and superseded epochs at leisure (nothing references them).
``_commits`` itself is never rewritten: streaming replay-skip needs the
full batch-id set and the owning run id, and it stays O(total
batches) ``(batch_id, run_id)`` rows.

Readers go through ``read_minhash_index`` / ``read_semantic_index`` /
``read_fingerprint_index`` — each returns the live view with a pinned
schema (empty-dir-safe) regardless of how much has been compacted or
vacuumed, so ``dedup.near_dedup_against`` /
``semdedup.semantic_dedup_against`` / ``substr.substr_contamination``
and the streaming operators never see the layout change. The semantic
epoch keeps the ``cell`` partitioning, so literal probe-cell filters
still prune directories after compaction (a filter over the union
pushes into both the epoch scan and the tail scan).

Batch-mode flat appends (``dedup.write_key_index`` /
``write_minhash_index`` / ``substr.write_fingerprint_index`` with no
``batch_id`` layout) are NOT covered: without commit markers an
in-place rewrite cannot be crash-safe. Continuous pipelines that want
compaction should write snapshots in the streaming layout (per-batch
partitions + markers), which the streaming operators already do.

No reference counterpart (the reference keeps graph state in memory,
internal/graph/graph.go); this is object-store index maintenance for
the 100 TB training-data posture.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

__all__ = [
    "commit_runs",
    "claim_commits",
    "committed_batches",
    "compaction_state",
    "read_minhash_index",
    "read_semantic_index",
    "read_fingerprint_index",
    "compact_minhash_index",
    "compact_semantic_index",
    "compact_fingerprint_index",
    "vacuum_index",
]

MINHASH_TABLES = ("sigs", "bands")
SEMANTIC_TABLES = ("vectors",)
FINGERPRINT_TABLES = ("grams",)


def _fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs(spark, path)
    return fs.exists(jpath)


def commit_runs(spark: SparkSession, table: str) -> dict[str | None, set[int]]:
    """Committed batch ids per owning run id, from one commit table: a
    ``_commits`` marker table (``batch_id`` a column) or a pipeline's
    ``lineage`` table (``batch_id`` the hive partition, which naming it
    in the pinned schema types). A row without a ``run_id`` — a state
    dir's marker, or a table written before the column existed — keys
    under ``None``. Only the path-missing case yields no runs; a
    transient read error PROPAGATES (failing open would disable the
    dedup filter or restart-skip and mask the fault)."""
    if not _exists(spark, table):
        return {}
    # pinned schema: an existing-but-empty dir reads as empty instead of
    # throwing on inference
    df = spark.read.schema("run_id string, batch_id long").parquet(table)
    runs: dict[str | None, set[int]] = {}
    for r in df.select("run_id", "batch_id").distinct().collect():
        runs.setdefault(r["run_id"], set()).add(r["batch_id"])
    return runs


def claim_commits(spark: SparkSession, table: str, run_id: str) -> set[int]:
    """Claim a commit table for one logical run and return the batch ids
    that run committed. Batch outputs, index partitions and pins are
    keyed by batch_id alone, and Spark numbers batches per checkpoint,
    so a second run would SKIP or OVERWRITE the first run's
    ``batch_id=N`` work: any other run id in the table, ``None``
    included, raises ``ValueError``."""
    runs = commit_runs(spark, table)
    foreign = sorted(set(runs) - {run_id}, key=str)
    if foreign:
        raise ValueError(
            f"{table!r} holds commits from run(s) {foreign}; this run is "
            f"{run_id!r}. A directory belongs to ONE logical stream or "
            f"batch run (its batch_id-keyed work would collide): use a "
            f"fresh directory, or resume the original run with its "
            f"checkpoint/run_id"
        )
    return runs.get(run_id, set())


def committed_batches(spark: SparkSession, index_dir: str) -> set[int]:
    """Batch ids whose commit marker landed, whichever run wrote it —
    the partitions a reader may trust."""
    runs = commit_runs(spark, os.path.join(index_dir, "_commits"))
    return set().union(*runs.values())


def append_commit_marker(
    spark: SparkSession, index_dir: str, batch_id: int, run_id: str | None
) -> None:
    """Append the single-row ``(batch_id, run_id)`` commit marker — the
    write half of the marker protocol ``commit_runs`` reads. ``run_id``
    is the owning stream's (``claim_commits`` checks it on the next
    start), or ``None`` for a table no stream owns (as-of state). EVERY
    marker writer (the streaming dedup/screen indexes, as-of state
    epochs, epoch pins) must go through here so the schema and path
    layout live in exactly one place."""
    import pyarrow as pa

    marker = pa.table({
        "batch_id": pa.array([batch_id], pa.int64()),
        "run_id": pa.array([run_id], pa.string()),
    })
    write_small_parquet(
        spark, os.path.join(index_dir, "_commits"), marker, overwrite=False
    )


def write_small_parquet(
    spark: SparkSession, dir_path: str, table, overwrite: bool
) -> None:
    """Write a driver-built ``pyarrow.Table`` of a few rows (a commit
    marker, a batch's lineage) as ONE lz4 parquet file under
    ``dir_path``, without a Spark job. A Spark write of such a frame
    runs a job, and ``createDataFrame(list)`` also starts a Python
    worker to unpickle one row.

    The bytes go through the path's Hadoop FileSystem, so every scheme
    Spark writes to works. The file is written under a ``_``-prefixed
    temp name, which parquet readers skip, then renamed to its final
    name: a reader never sees a partial file. ``overwrite=True`` first
    deletes ``dir_path`` and uses a fixed file name, so a replay leaves
    one identical file; ``overwrite=False`` appends a uniquely named
    file. ``store_schema=False`` leaves out the Arrow schema blob: Spark
    reads the parquet types alone, and the blob adds ~700 B per file."""
    import io

    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(table, buf, compression="lz4", store_schema=False)
    fs, jdir = _fs(spark, dir_path)
    if overwrite:
        fs.delete(jdir, True)
        name = "part-00000.lz4.parquet"
    else:
        name = f"part-{uuid.uuid4().hex}.lz4.parquet"
    path = spark._jvm.org.apache.hadoop.fs.Path
    tmp, final = path(jdir, f"_{name}.tmp"), path(jdir, name)
    out = fs.create(tmp, True)
    try:
        out.write(buf.getvalue())
    finally:
        out.close()
    _publish(fs, tmp, final)


def _publish(fs, tmp, final) -> None:
    """The commit point of ``write_small_parquet``: the rename that
    makes the finished file visible."""
    if not fs.rename(tmp, final):
        raise OSError(f"could not rename {tmp} to {final}")


def compaction_state(spark: SparkSession, index_dir: str) -> tuple[int, int]:
    """``(epoch, covered)`` of the newest COMMITTED compaction: readers
    trust ``<table>_compact/epoch=<epoch>`` plus committed batch
    partitions with ``batch_id > covered``. ``(0, -1)`` = never
    compacted (epoch numbering starts at 1 so epoch 0 never names a
    directory)."""
    path = os.path.join(index_dir, "_compact_commits")
    if not _exists(spark, path):
        return (0, -1)
    rows = (
        spark.read.schema("epoch long, covered long").parquet(path).collect()
    )
    if not rows:
        return (0, -1)
    best = max(rows, key=lambda r: r["epoch"])
    return (int(best["epoch"]), int(best["covered"]))


def _pinned_scan(
    spark: SparkSession, path: str, schema: str, need_cols: list[str]
) -> DataFrame | None:
    """Pinned-schema scan of a hive-layout directory. The partition
    columns (``batch_id``, ``cell``) materialize from DIRECTORY NAMES
    only when the listing finds at least one data file — a committed
    but EMPTY partition set (an all-dup micro-batch writes zero files
    under ``partitionBy``, and vacuum can leave only such batches)
    yields just the pinned schema, and filtering/selecting the missing
    column would throw UNRESOLVED_COLUMN on every subsequent read.
    Returns None for that case — the branch's committed content is
    empty (the all-dropped-batch corollary of the CLAUDE.md empty-dir
    gotcha)."""
    df = spark.read.schema(schema).parquet(path)
    if any(c not in df.columns for c in need_cols):
        return None
    return df


def _live_view(
    spark: SparkSession,
    index_dir: str,
    table: str,
    schema: str,
    part_cols: list[str],
    committed: set[int],
    state: tuple[int, int],
) -> DataFrame:
    """The committed live view of one index table: epoch snapshot ∪
    committed batch tail, pinned schema, ``batch_id`` stripped.
    ``part_cols`` are hive partition columns BELOW the batch level
    (e.g. the semantic index's ``cell``) — they ride along from
    directory names on both branches (empty-listing-safe via
    ``_pinned_scan``)."""
    epoch, covered = state
    cols = [f.split()[0] for f in schema.split(",")] + part_cols
    parts: list[DataFrame] = []
    if epoch > 0:
        ep = _pinned_scan(
            spark,
            os.path.join(index_dir, f"{table}_compact", f"epoch={epoch}"),
            schema,
            part_cols,
        )
        if ep is not None:
            parts.append(ep.select(*cols))
    tail = sorted(b for b in committed if b > covered)
    if tail:
        tl = _pinned_scan(
            spark,
            os.path.join(index_dir, table),
            schema,
            ["batch_id"] + part_cols,
        )
        if tl is not None:
            parts.append(
                tl.filter(F.col("batch_id").isin(tail)).select(*cols)
            )
    if not parts:
        empty_schema = schema + "".join(f", {c} int" for c in part_cols)
        return local_frame(spark, [], empty_schema)
    view = parts[0]
    for p in parts[1:]:
        view = view.unionByName(p)
    return view


def read_minhash_index(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "doc_id",
    committed: set[int] | None = None,
    state: tuple[int, int] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Live ``(sigs, bands)`` view of a streaming-layout MinHash index
    (``streaming_near_dedup``'s carry state) — compaction/vacuum
    transparent. Feed straight into ``dedup.near_dedup_against``.
    ``committed``/``state``: pass pre-scanned values to skip the
    _commits/_compaction scans — the sole-writer streaming loop scans
    once at start and maintains the set locally (every read would
    otherwise re-scan and re-collect a table that grows one row per
    batch forever)."""
    if committed is None:
        committed = committed_batches(spark, index_dir)
    if state is None:
        state = compaction_state(spark, index_dir)
    sigs = _live_view(
        spark, index_dir, "sigs", f"{id_col} long, sig array<long>",
        [], committed, state,
    )
    bands = _live_view(
        spark, index_dir, "bands", f"{id_col} long, band int, bucket long",
        [], committed, state,
    )
    return sigs, bands


def read_semantic_index(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    committed: set[int] | None = None,
    state: tuple[int, int] | None = None,
) -> DataFrame:
    """Live ``(id, vector, cell)`` view of a streaming-layout semantic
    index (``streaming_semantic_dedup``'s carry state). The ``cell``
    partitioning survives compaction, so a literal probe-cell filter
    still prunes directories on both the epoch and the tail scan.
    ``committed``/``state``: see ``read_minhash_index``."""
    if committed is None:
        committed = committed_batches(spark, index_dir)
    if state is None:
        state = compaction_state(spark, index_dir)
    return _live_view(
        spark, index_dir, "vectors",
        f"{id_col} long, {vec_col} array<double>",
        ["cell"], committed, state,
    )


def read_fingerprint_index(
    spark: SparkSession,
    index_dir: str,
    committed: set[int] | None = None,
    state: tuple[int, int] | None = None,
) -> DataFrame:
    """Live distinct-fingerprint view of a streaming-layout substring
    index (``streaming_substr_screen``'s carry state).
    ``committed``/``state``: see ``read_minhash_index``."""
    if committed is None:
        committed = committed_batches(spark, index_dir)
    if state is None:
        state = compaction_state(spark, index_dir)
    return _live_view(
        spark, index_dir, "grams", "gram_hash long", [], committed, state
    )


def _compact(
    spark: SparkSession,
    index_dir: str,
    tables: list[tuple[str, str, list[str]]],
    chaos=None,
    transforms: dict | None = None,
) -> dict:
    """Fold the committed live view of every ``(table, schema,
    partition_cols)`` into ``<table>_compact/epoch=E+1``, then append
    the ``(epoch, covered)`` marker LAST. Idempotent: a crash before
    the marker leaves readers on the old view and a rerun overwrites
    the same epoch directories. ``chaos`` (tests) fires after the data
    rewrite, before the marker — the crash-in-the-commit-gap drill.
    ``transforms`` maps a table name to a DataFrame→DataFrame rewrite
    applied to its live view before the epoch write (the fingerprint
    family's cross-batch ``distinct``) — the commit protocol itself
    stays in exactly one place."""
    committed = committed_batches(spark, index_dir)
    epoch, covered = compaction_state(spark, index_dir)
    tail = sorted(b for b in committed if b > covered)
    if not tail:
        # nothing new since the last epoch (or an empty index)
        return {"epoch": epoch, "covered": covered, "compacted": False}
    new_epoch, new_covered = epoch + 1, max(tail)
    for table, schema, part_cols in tables:
        view = _live_view(
            spark, index_dir, table, schema, part_cols, committed,
            (epoch, covered),
        )
        if transforms and table in transforms:
            view = transforms[table](view)
        writer = view.write.mode("overwrite").option("compression", "zstd")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(
            os.path.join(index_dir, f"{table}_compact", f"epoch={new_epoch}")
        )
    if chaos is not None:
        chaos(new_epoch)
    # marker LAST — readers switch epochs only here
    import pyarrow as pa

    marker = pa.table({
        "epoch": pa.array([new_epoch], pa.int64()),
        "covered": pa.array([new_covered], pa.int64()),
    })
    write_small_parquet(
        spark, os.path.join(index_dir, "_compact_commits"), marker,
        overwrite=False,
    )
    return {"epoch": new_epoch, "covered": new_covered, "compacted": True}


def compact_minhash_index(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "doc_id",
    chaos=None,
) -> dict:
    """Compact a streaming-layout MinHash index (sigs + bands)."""
    return _compact(
        spark, index_dir,
        [
            ("sigs", f"{id_col} long, sig array<long>", []),
            ("bands", f"{id_col} long, band int, bucket long", []),
        ],
        chaos,
    )


def compact_semantic_index(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chaos=None,
) -> dict:
    """Compact a streaming-layout semantic index, preserving the
    ``cell`` partitioning probes prune on."""
    return _compact(
        spark, index_dir,
        [("vectors", f"{id_col} long, {vec_col} array<double>", ["cell"])],
        chaos,
    )


def compact_fingerprint_index(
    spark: SparkSession, index_dir: str, chaos=None
) -> dict:
    """Compact a streaming-layout substring-fingerprint index. The
    rewrite also collapses cross-batch repeats of a gram hash (each
    batch wrote its own distinct set) — the one family where
    compaction SHRINKS state, not just file count."""
    return _compact(
        spark, index_dir,
        [("grams", "gram_hash long", [])],
        chaos,
        transforms={"grams": lambda v: v.distinct()},
    )


def vacuum_index(
    spark: SparkSession, index_dir: str, tables: tuple[str, ...]
) -> dict:
    """Delete index state superseded by the committed compaction:
    batch partitions with ``batch_id <= covered`` and epoch directories
    older than the committed epoch. No FUTURE live view references
    either, and crashing mid-way is safe (each delete removes an
    unreferenced directory; the next vacuum finishes the rest).

    NOT safe against in-flight readers: a streaming micro-batch (or
    any query) that planned its scan from pre-compaction state still
    lists the covered partitions, and deleting them mid-execution
    fails that job with FileNotFoundException (or silently under-scans
    under ignoreMissingFiles). Run vacuum while the stream is quiesced
    — e.g. between availableNow drains, or in the same maintenance
    window as the compact() that produced the marker.

    ``_commits`` rows are NEVER deleted: streaming replay-skip needs
    the full batch-id set."""
    epoch, covered = compaction_state(spark, index_dir)
    if epoch == 0:
        return {"deleted": 0}
    committed = committed_batches(spark, index_dir)
    deleted = 0
    for table in tables:
        for b in sorted(committed):
            if b > covered:
                continue
            path = os.path.join(index_dir, table, f"batch_id={b}")
            fs, jpath = _fs(spark, path)
            if fs.exists(jpath):
                fs.delete(jpath, True)
                deleted += 1
        for e in range(1, epoch):
            path = os.path.join(index_dir, f"{table}_compact", f"epoch={e}")
            fs, jpath = _fs(spark, path)
            if fs.exists(jpath):
                fs.delete(jpath, True)
                deleted += 1
    return {"deleted": deleted}
