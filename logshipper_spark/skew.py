"""Skew handling for hot conversations (north rule: salted
repartitioning + AQE skew hints).

At 10^12-turn scale a single hot conversation, edge or group can carry
millions of rows. The two bounded decompositions every hot-key caller
uses live here, written once:

* ``block_prefix_sums`` — inclusive running sums per key in two
  phases: local running sums per (key, block), where blocks are ranges
  of the ordering key, plus each block's starting offset from a window
  over the tiny per-block totals table (one row per (key, block)).
  ``turn_rank_salted`` (the stable turn ordering, W11) is its count
  lane; anomaly's blocked zscore and error-rate feed,
  ``datapipe.sampling.block_running_sum`` and packing's running sums
  are the other callers.

* ``salted_topk`` — exact top k per group in two phases: a local top k
  per (group, salt), then a global rank of the ≤ salt_buckets·k
  survivors per group (sampling, textstats, dedup and dsir callers).

``salted_agg`` is the generic two-level aggregation with an explicit
salt column for aggregates whose combine is associative. Note Spark's
hash aggregation already does map-side partial aggregation, which
absorbs most key skew for plain groupBys; the explicit salt matters
when the first level itself is a wide operator (e.g. collect_list /
exact percentiles per hot key) or under sort-based aggregation.
``salted_join`` spreads a hot equi-join key over salt lanes.

AQE's skew-join splitting (enabled in session.py) covers the join
side; these cover windows and aggregations, which AQE does not split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: block id for NULL ordering keys: sorts before any realistic block
#: (floor(order/block_size) reaches −2⁶² only for order ids below
#: −2⁶²·block_size), mirroring the window form's ASC-nulls-first.
NULL_BLOCK = -(1 << 62)


def group_key_struct(*cols: str) -> Column:
    """The group key wrapped in ONE struct: struct equality treats
    NULL fields as equal, so windows/groupBys/joins keyed on it keep
    NULL groups AND share one hash partitioning (an eqNullSafe join
    condition is also null-safe but its required distribution differs
    from the windows', forcing an extra full-data exchange)."""
    return F.struct(*[F.col(c) for c in cols])


def null_safe_block(order: Column, block_size: int) -> Column:
    """``floor(order / block_size)`` with NULL orders in NULL_BLOCK."""
    return F.coalesce(F.floor(order / block_size), F.lit(NULL_BLOCK))


def null_safe_window(ts: Column, duration: str) -> Column:
    """``window(ts, duration)`` that keeps NULL timestamps. Spark's
    TimeWindowing rule injects an ``input IS NOT NULL`` filter, so a
    NULL ts fed directly to window() silently DROPS the row; the
    sentinel goes INSIDE window() instead. The sentinel (Spark's
    minimum year) sorts before all real data, matching a window form's
    ASC-nulls-first ordering. Callers that report the bucket NULL it
    back from their own ``ts IS NULL`` key (the extra key never splits
    a real group: every row of a non-sentinel bucket has a non-NULL
    ts)."""
    sentinel = F.to_timestamp(F.lit("0001-01-01 00:00:00"))
    return F.window(F.coalesce(ts, sentinel), duration)


def block_prefix_sums(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    blk: Column,
    lanes: dict[str, Column],
) -> DataFrame:
    """Adds, per ``lanes`` entry, the inclusive running sum of that
    lane's column per key ordered by ``order_cols`` (ROWS UNBOUNDED
    PRECEDING, so tied orders still get distinct running counts) — the
    single-window ``SUM(lane) OVER (PARTITION BY key ORDER BY order)``
    computed so that no task sorts or scans more than one block of a
    hot key:

    - phase 1: local running sums per (key, block);
    - phase 2: each block's offset is the running sum of the earlier
      blocks' totals — a window over the per-block totals table, which
      has ~rows/block rows — joined back on (key, block).

    Running sums are associative, so the result is exact for any block
    choice. ``blk`` must be monotone in the row order (blocks are
    ranges of the ordering key, so block order == row order) and NEVER
    NULL (``null_safe_block`` / ``null_safe_window``): a NULL block id
    vanishes through the offset equi-join. NULL lane values count as 0,
    so no offset can NULL-poison a block.

    The key is ``group_key_struct(*key_cols)``: the offset equi-join
    must be NULL-SAFE on the group key — a plain equi-join silently
    drops every NULL-key row the single-window form scores — and the
    struct shares the windows' hash partitioning, so the exchange is
    planned once. ``_gk`` and ``_blk`` stay on the output so a caller
    can window on the same partitioning (e.g. an in-block lag)."""
    d = df.withColumn("_gk", group_key_struct(*key_cols)).withColumn("_blk", blk)
    vals = {n: F.coalesce(c, F.lit(0)) for n, c in lanes.items()}
    local_w = (
        Window.partitionBy("_gk", "_blk")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = d.select(
        "*", *[F.sum(v).over(local_w).alias(f"_loc{n}") for n, v in vals.items()]
    )
    totals = d.groupBy("_gk", "_blk").agg(
        *[F.sum(v).alias(f"_tot{n}") for n, v in vals.items()]
    )
    off_w = (
        Window.partitionBy("_gk")
        .orderBy("_blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_gk",
        "_blk",
        *[
            F.coalesce(F.sum(f"_tot{n}").over(off_w), F.lit(0)).alias(f"_off{n}")
            for n in vals
        ],
    )
    out = local.join(offsets, ["_gk", "_blk"])
    for n in vals:
        out = out.withColumn(n, F.col(f"_off{n}") + F.col(f"_loc{n}"))
    return out.drop(*[f"_{p}{n}" for n in vals for p in ("loc", "off")])


def turn_rank_salted(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    block_size: int = 4096,
    out_col: str = "turn_rank",
) -> DataFrame:
    """Distributed row_number over (conv ordered by turn) with bounded
    per-task partitions: a count lane of ``block_prefix_sums`` over
    blocks of ``floor(turn / block_size)``. Equivalent to
    ``row_number() over (partition by conv_id order by turn_idx)`` for
    any input (turn_idx need not be dense; NULL convs and turns rank
    like the single window), verified against the single-phase window
    in tests."""
    ranked = block_prefix_sums(
        df,
        [conv_col],
        [turn_col],
        null_safe_block(F.col(turn_col), block_size),
        {out_col: F.lit(1)},
    )
    return ranked.withColumn(out_col, F.col(out_col).cast("int")).drop("_gk", "_blk")


def salted_topk(
    df: DataFrame,
    group_cols: list[str],
    order: list[Column],
    k: int,
    salt: Column,
    rank_col: str,
) -> DataFrame:
    """The rows ranked 1..k per group under ``order`` (which must be a
    total order within the group), with the rank in ``rank_col`` —
    ``row_number() OVER (PARTITION BY group ORDER BY order) <= k``
    computed in two phases: phase 1 ranks within (group, salt) and
    keeps each bucket's local top k; phase 2 ranks the ≤ buckets·k
    survivors per group. Any global top-k row is necessarily in its
    bucket's local top k, so the result is EXACTLY the single-window
    answer while no task ever sorts more than one salt bucket of a hot
    group. ``salt`` is a bucket expression that varies WITHIN a group
    (a hash of the row key, so the decomposition stays deterministic);
    a salt constant within each group is a no-op. ``group_cols`` may be
    empty (one global top k)."""
    local_w = Window.partitionBy(*group_cols, "_salt").orderBy(*order)
    survivors = (
        df.withColumn("_salt", salt)
        .withColumn("_lr", F.row_number().over(local_w))
        .filter(F.col("_lr") <= k)
        .drop("_lr", "_salt")
    )
    global_w = Window.partitionBy(*group_cols).orderBy(*order)
    return survivors.withColumn(rank_col, F.row_number().over(global_w)).filter(
        F.col(rank_col) <= k
    )


def with_salt(df: DataFrame, salt_buckets: int, *salt_source: str) -> DataFrame:
    """Salt column for two-level aggregation. Prefer deterministic row
    content (``salt_source`` columns that vary WITHIN a group — e.g.
    turn_idx); without a source, fall back to the physical row position
    (partition id + row id), which spreads any hot key across buckets
    and cannot affect results (the salt only shapes the partial
    aggregation, never the final combine)."""
    if salt_source:
        cols = [F.col(c) for c in salt_source]
        salt = F.pmod(F.xxhash64(*cols), F.lit(salt_buckets))
    else:
        salt = F.pmod(
            F.xxhash64(F.spark_partition_id(), F.monotonically_increasing_id()),
            F.lit(salt_buckets),
        )
    return df.withColumn("_salt", salt)


def salted_agg(
    df: DataFrame,
    keys: list[str],
    partial_aggs: list[Column],
    final_aggs: list[Column],
    salt_buckets: int = 32,
    salt_source: list[str] | None = None,
) -> DataFrame:
    """Two-level aggregation: groupBy(keys + salt) with ``partial_aggs``
    then groupBy(keys) with ``final_aggs`` over the partial columns.
    Pass ``salt_source`` columns that vary within a group (e.g.
    turn_idx) for a deterministic salt; omitted, the salt comes from
    physical row position (still correct — see with_salt). NEVER pass
    the group keys: a salt constant within each group is a no-op. It
    combines once per key, not as a running sum or a rank, so it is
    neither of the two decompositions above."""
    salted = with_salt(df, salt_buckets, *(salt_source or []))
    partial = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)


def salted_join(
    rows: DataFrame, probes: DataFrame, keys: list[str], id_col: str, salt: int
) -> DataFrame:
    """Equi-join on ``keys`` with a hot key spread over ``salt`` tasks:
    each ``rows`` row holds ONE salt lane (a hash of its ``id_col``),
    each ``probes`` row fans out to ALL lanes, and the join runs on
    (keys, lane) — every (row, probe) pair still meets exactly once.
    The probe side is multiplied ×``salt``; ``salt`` ≤ 1 is the plain
    join."""
    if not salt or salt <= 1:
        return rows.join(probes, keys)
    lane = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)).cast("int")
    fan = F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    return rows.withColumn("_salt", lane).join(
        probes.withColumn("_salt", fan), [*keys, "_salt"]
    )


def salted_sink_counts(
    routed: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 minute",
    salt_buckets: int = 32,
) -> DataFrame:
    """Skew-hardened variant of route.sink_counts: identical result
    (including the NULL-timestamp bucket), but a hot (sink, conv,
    window) key is first reduced across ``salt_buckets`` sub-keys
    (salt = hash(turn_idx)) before the final combine — bounding any
    single reducer's input even if sort-based aggregation is in play.

    NULL ts rows land in a NULL ``window_start`` group exactly like
    route.sink_counts' default ``null_bucket=True`` path
    (``null_safe_window``), and the start column is NULLed back
    afterwards."""
    from .route import is_error_pattern

    is_error = is_error_pattern()
    w = null_safe_window(F.col(ts_col), window_duration)
    keyed = routed.select(
        "sink",
        "conv_id",
        F.when(F.col(ts_col).isNotNull(), w["start"]).alias("window_start"),
        F.col("tool"),
        is_error.alias("_is_err"),
        F.col("turn_idx"),
    )
    return salted_agg(
        keyed,
        keys=["sink", "conv_id", "window_start"],
        partial_aggs=[
            F.count("*").alias("_tc"),
            F.count_if(F.col("tool") != "").alias("_tool"),
            F.count_if(F.col("_is_err")).alias("_err"),
        ],
        final_aggs=[
            F.sum("_tc").alias("turn_count"),
            F.sum("_tool").alias("tool_call_count"),
            F.sum("_err").alias("error_pattern_count"),
        ],
        salt_buckets=salt_buckets,
        salt_source=["turn_idx"],
    )
