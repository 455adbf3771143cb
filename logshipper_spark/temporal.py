"""Temporal joins the reference computes imperatively and Spark lacks
as built-ins: AS-OF join (attach the latest state-change row at or
before each event's timestamp — the "which deploy/config was live when
this turn happened" lookup) and RANGE join (event × interval overlap —
"which incident windows cover this turn").

Reference parity: LogShipper resolves per-event state by replaying the
ordered stream and carrying the last seen value (the graph aggregator
keeps last-seen edge state the same way, internal/graph/graph.go); an
as-of join is that replay expressed relationally. Incident overlap is
the windowed variant of the same scan (bench/incident_simulator_test.go
applies an incident iff start <= ts < end).

Spark-first designs, no UDFs anywhere:

* ``asof_join`` — union-tag + running ``last(ignorenulls)`` window:
  build rows (tag 0) and probe rows (tag 1) merge into one stream
  sorted by (ts, tag) per key, so the running last non-null payload at
  each probe row IS the as-of match, ties at equal ts inclusive
  (``probe.ts >= build.ts``). ONE shuffle, no join. All payload fields
  travel in a single struct lane so a build row with NULL fields can
  never mix with an earlier row's fields.

* ``asof_join_blocked`` — the same semantics with bounded per-task
  state for hot keys (the blocking and NULL-safe key of
  skew.block_prefix_sums): rows bucket into time blocks, phase 1
  computes the in-block running last, phase 2 derives each block's
  carry-in from a tiny per-(key, block) summary table, phase 3
  coalesces. No task ever sorts a hot key's full history.

* ``range_join`` — a bucketed equi-join: intervals explode into the
  fixed-width time buckets they overlap, facts compute one bucket, the
  join is a plain equi-join on (key, bucket) + exact residual filter,
  and Spark picks broadcast or shuffle from the input sizes (a small
  incident/deploy window table plans as one BroadcastHashJoin). Each
  fact row lands in exactly one bucket so no dedup pass is needed; an
  interval costs ceil(len/width)+1 rows — size ``bucket_width_s`` to
  the typical interval length.

NULL semantics match ANSI SQL so DuckDB oracles compare exactly:
build/interval rows with NULL timestamps match nothing; probe/fact
rows with NULL timestamps emit with NULL payload (as-of, left) or drop
(range, inner). Keys compare NULL-SAFELY (struct equality) — callers
wanting SQL key semantics filter NULL keys first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .skew import group_key_struct, null_safe_block

#: matched build-row timestamp emitted alongside the payload columns
ASOF_TS = "asof_ts"

#: internal lane names staged on the union/bucketed frames — caller
#: columns may not reuse them (a silent alias collision would corrupt
#: the match instead of failing loudly)
_RESERVED = frozenset({"_ats", "_pay", "_tag", "_tie", "_ck", "_blk", "_loc",
                       "_blast", "_carry", "_rb", "_rk", "_chg"})


def _check_reserved(*frames: DataFrame) -> None:
    hit = _RESERVED & {c for f in frames for c in f.columns}
    if hit:
        raise ValueError(f"input columns use reserved internal names: {sorted(hit)}")


def _ts_micros(col: Column) -> Column:
    """Epoch micros for blocking/tolerance; ntz→ltz cast is wall-clock
    identity under the session's pinned UTC zone."""
    return F.unix_micros(col.cast("timestamp"))


def _asof_union(
    probe: DataFrame,
    build: DataFrame,
    keys: list[str],
    probe_ts: str,
    build_ts: str,
    payloads: list[str],
    tiebreak: str | None,
) -> tuple[DataFrame, list[Column]]:
    """Shared union-tag stream: probe rows carry their full row + tag 1;
    build rows carry (keys, ts, payload struct) + tag 0. Returns the
    union and the within-key ordering (ts asc nulls first, tag asc,
    tiebreak asc) under which the running last non-null ``_pay`` at a
    probe row is its as-of match."""
    _check_reserved(probe, build)
    collisions = {ASOF_TS, *payloads} & set(probe.columns)
    if collisions:
        raise ValueError(f"probe columns collide with payload outputs: {collisions}")
    # NULL build ts can never satisfy build.ts <= probe.ts — drop rows,
    # not let nulls-first ordering leak them to every probe
    b = build.filter(F.col(build_ts).isNotNull()).select(
        *[F.col(k) for k in keys],
        F.col(build_ts).alias("_ats"),
        F.struct(
            F.col(build_ts).alias(ASOF_TS), *[F.col(p) for p in payloads]
        ).alias("_pay"),
        F.lit(0).alias("_tag"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("_tie"),
    )
    p = probe.select(
        "*",
        F.col(probe_ts).alias("_ats"),
        F.lit(None).cast(b.schema["_pay"].dataType).alias("_pay"),
        F.lit(1).alias("_tag"),
        F.lit(None).cast(b.schema["_tie"].dataType).alias("_tie"),
    )
    u = p.unionByName(b, allowMissingColumns=True).withColumn(
        "_ck", group_key_struct(*keys)
    )
    order = [
        F.col("_ats").asc_nulls_first(),
        F.col("_tag").asc(),
        F.col("_tie").asc_nulls_first(),
    ]
    return u, order


def _asof_finish(
    matched: DataFrame,
    probe_cols: list[str],
    probe_ts: str,
    payloads: list[str],
    tolerance_s: float | None,
) -> DataFrame:
    """Unpack the struct lane, apply the optional tolerance (match
    dropped when probe.ts − build.ts exceeds it), restore probe shape."""
    pay = F.col("_pay")
    if tolerance_s is not None:
        within = (
            _ts_micros(F.col(probe_ts)) - _ts_micros(pay[ASOF_TS])
        ) <= int(tolerance_s * 1_000_000)
        pay = F.when(within, pay)
    out = [F.col(c) for c in probe_cols]
    out.append(pay[ASOF_TS].alias(ASOF_TS))
    out.extend(pay[p].alias(p) for p in payloads)
    return matched.select(*out)


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    keys: list[str],
    probe_ts: str = "ts",
    build_ts: str = "ts",
    payloads: list[str] | None = None,
    tolerance_s: float | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """AS-OF LEFT join: every probe row + the payload of the latest
    build row with ``build.ts <= probe.ts`` on the same key (equal ts
    matches; no build row ⇒ NULL payload). Output = probe columns +
    ``asof_ts`` (the matched build timestamp) + ``payloads``.

    ``tiebreak`` orders build rows sharing (key, ts) — the LARGEST
    wins; leave None only when (key, ts) is unique in ``build``.
    ``tolerance_s`` drops matches older than the window (sensor-fusion
    style "join within 5 minutes").

    One shuffle (the window). For hot keys use ``asof_join_blocked``.
    """
    payloads = payloads if payloads is not None else [
        c for c in build.columns if c not in set(keys) | {build_ts}
    ]
    u, order = _asof_union(probe, build, keys, probe_ts, build_ts, payloads, tiebreak)
    w = (
        Window.partitionBy("_ck")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = u.withColumn("_pay", F.last("_pay", ignorenulls=True).over(w)).filter(
        F.col("_tag") == 1
    )
    return _asof_finish(matched, probe.columns, probe_ts, payloads, tolerance_s)


def asof_join_blocked(
    probe: DataFrame,
    build: DataFrame,
    keys: list[str],
    probe_ts: str = "ts",
    build_ts: str = "ts",
    payloads: list[str] | None = None,
    tolerance_s: float | None = None,
    tiebreak: str | None = None,
    block_s: int = 3600,
) -> DataFrame:
    """``asof_join`` with bounded per-task state (identical results,
    verified in tests): rows bucket into ``block_s``-second time blocks;
    phase 1 runs the running-last window within (key, block) only;
    phase 2 computes each block's carry-in — the last build payload in
    any EARLIER block — from a per-(key, block) summary table (one row
    per non-empty block, tiny); phase 3 coalesces in-block last with
    the carry. No task sorts more than one block of one key.

    The summary join is on the (struct key, block) pair, as in
    ``skew.block_prefix_sums`` — struct equality is null-safe, so NULL
    keys behave exactly like the single-window form — and NULL probe
    timestamps land in NULL_BLOCK (sorts before every real block,
    matches nothing). The carry-in is a last-value carry, not a sum, so
    it keeps its own code rather than that helper.
    """
    payloads = payloads if payloads is not None else [
        c for c in build.columns if c not in set(keys) | {build_ts}
    ]
    u, order = _asof_union(probe, build, keys, probe_ts, build_ts, payloads, tiebreak)
    u = u.withColumn("_blk", null_safe_block(_ts_micros(F.col("_ats")), block_s * 1_000_000))

    w_loc = (
        Window.partitionBy("_ck", "_blk")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = u.withColumn("_loc", F.last("_pay", ignorenulls=True).over(w_loc))

    # per-(key, block) last build payload; spine = every non-empty block
    # (probe-only blocks included, so gaps still receive a carry)
    summaries = (
        u.groupBy("_ck", "_blk")
        .agg(
            F.max_by(
                "_pay", F.when(F.col("_tag") == 0, F.struct("_ats", "_tie"))
            ).alias("_blast")
        )
    )
    w_carry = (
        Window.partitionBy("_ck")
        .orderBy("_blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carries = summaries.withColumn(
        "_carry", F.last("_blast", ignorenulls=True).over(w_carry)
    ).select("_ck", "_blk", "_carry")

    matched = (
        local.filter(F.col("_tag") == 1)
        .join(carries, ["_ck", "_blk"])
        .withColumn("_pay", F.coalesce("_loc", "_carry"))
    )
    return _asof_finish(matched, probe.columns, probe_ts, payloads, tolerance_s)


def range_join(
    facts: DataFrame,
    intervals: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    end_exclusive: bool = True,
    bucket_width_s: int = 3600,
) -> DataFrame:
    """INNER interval join: every (fact, interval) pair on the same key
    with ``start <= ts < end`` (``<=`` end when ``end_exclusive=False``).
    Output = fact columns + interval columns (minus the join keys);
    overlapping intervals emit one row each. NULL fact ts or NULL
    bounds match nothing (ANSI comparison semantics — oracle-exact).

    Each interval explodes into the ``bucket_width_s``-wide time
    buckets it overlaps, each fact computes exactly one bucket, and the
    join is an equi-join on (keys…, bucket) + exact residual filter;
    Spark broadcasts a small interval side and shuffles a large one.
    Cost: ceil(interval_len/width)+1 rows per interval — size the width
    to the typical interval so the explode stays O(1) per interval.
    """
    _check_reserved(facts, intervals)
    dup = (set(facts.columns) & set(intervals.columns)) - set(keys)
    if dup:
        raise ValueError(f"fact/interval columns collide: {dup}")
    start, end, ts = F.col(start_col), F.col(end_col), F.col(ts_col)
    in_range = (ts >= start) & ((ts < end) if end_exclusive else (ts <= end))
    nonempty = (start < end) if end_exclusive else (start <= end)
    iv = intervals.filter(start.isNotNull() & end.isNotNull() & nonempty)

    # keys join as ONE struct column: struct equality is null-safe (the
    # module contract — asof_join's group_key_struct convention) AND
    # shares hash partitioning, where an eqNullSafe join condition
    # would force an extra exchange (CLAUDE.md round-3 gotcha). The
    # interval side drops its raw key columns so the output keeps one
    # set (from facts).
    kf = F.struct(*[F.col(k) for k in keys])
    wus = bucket_width_s * 1_000_000
    last_us = _ts_micros(end) - (1 if end_exclusive else 0)
    iv_b = iv.withColumn("_rk", kf).drop(*keys).withColumn(
        "_rb",
        F.explode(F.sequence(F.floor(_ts_micros(start) / wus), F.floor(last_us / wus))),
    )
    f_b = facts.withColumn("_rk", kf).withColumn(
        "_rb", F.floor(_ts_micros(ts) / wus)
    )
    return (
        f_b.join(iv_b, on=["_rk", "_rb"], how="inner")
        .where(in_range)
        .drop("_rk", "_rb")
    )


def scd2_intervals(
    snapshots: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    ts_col: str = "snapshot_ts",
) -> DataFrame:
    """Build SCD2 validity intervals from periodic full snapshots of a
    dimension table (the lookup/enrichment tables the reference reloads
    from config — enrich.py's (role, tool) table being the canonical
    case): one output row per (key, value-run) with ``valid_from`` =
    the first snapshot timestamp carrying the value and ``valid_to`` =
    the next change's timestamp (NULL = still current, half-open
    ``[from, to)``). Consecutive snapshots with unchanged values
    collapse (run-length encoding), so the output is sized by CHANGES,
    not by snapshots — the shape ``asof_join`` / ``range_join`` then
    consume to answer "which dimension version was live for this
    event".

    A key absent from a snapshot simply has no row at that ts — its
    current run stays open (dimension deletions need an explicit
    tombstone row, i.e. a snapshot row with the deleted marker as its
    value; the run machinery then closes the previous run at that ts).

    Spark form: one key-partitioned window chain — value struct
    null-safe-compared to its ``lag`` marks run starts (first row's
    lag is NULL → always a start), run starts filter, and ``lead(ts)``
    over the surviving run starts is each run's close. Per-task work
    is bounded by one key's snapshot count; no join. DuckDB twin:
    LAG + IS DISTINCT FROM + LEAD."""
    _check_reserved(snapshots)
    bad = {"valid_from", "valid_to"} & (
        set(key_cols) | set(value_cols) | {ts_col}
    )
    if bad:
        raise ValueError(
            f"scd2_intervals output names collide with input columns: "
            f"{sorted(bad)} — rename them first"
        )
    val = F.struct(*[F.col(c) for c in value_cols])
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    marked = snapshots.withColumn(
        "_chg", ~val.eqNullSafe(F.lag(val).over(w))
    )
    runs = marked.filter(F.col("_chg")).withColumn(
        "valid_to", F.lead(F.col(ts_col)).over(w)
    )
    return runs.select(
        *key_cols,
        *value_cols,
        F.col(ts_col).alias("valid_from"),
        "valid_to",
    )
