"""Call-graph and service aggregations (reference: internal/graph/,
internal/tui/screen1.go, screen2.go).

The reference's CallGraph is a mutex-guarded in-memory map updated per
event (graph.go:63-154). Here it is a plain shuffle aggregation —
``groupBy(src, dst, op)`` with map-side partial aggregation — and the
"snapshot" is simply the resulting immutable DataFrame (A8).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .skew import null_safe_window

P99_WINDOW = 100  # ring-buffer size (reference: types.go:61)


def is_error_col(status_code: Column) -> Column:
    """IsError mapping used by the graph sink (reference: app.go:140-148)."""
    return status_code >= 500


def edge_agg(
    df: DataFrame,
    src_col: str = "src_service",
    dst_col: str = "dst_service",
    op_col: str = "operation",
    ts_col: str = "event_ts",
    latency_col: str = "latency_us",
    order_cols: list[str] | None = None,
    ring_block_s: int | None = 3600,
) -> DataFrame:
    """Per-edge aggregate (reference: graph.go:63-154, types.go:30-58).

    Rows with empty src or dst are skipped (graph.go:68-70). LatencyP99
    uses the reference's exact nearest-rank percentile over the **last
    100 events** per edge (types.go:60-86): idx = int((n-1)*0.99) on the
    sorted window. ``order_cols`` pins the "last" ordering (stable turn
    ordering — W11); defaults to the timestamp alone. The ring counts
    *events* (a null-latency event occupies a ring slot; nulls are then
    skipped for the percentile), matching the reference's ring buffer.

    Hot-edge posture: with ``ring_block_s`` set (default 1 h), the ring
    is computed in two bounded phases — per (edge, time-block) top-100
    inside one groupBy (per-task work bounded by the edge's per-block
    event rate), then a merge of the per-block top-100 lists (≤ 100 ×
    blocks-per-edge elements, bounded by retention / block size). No
    task ever sorts a hot edge's full history. ``ring_block_s=None``
    selects the single-window plan (one shuffle; fine when no edge is
    hot enough to matter). Which plan to run is the caller's choice;
    ``pipeline.commit_batch`` runs the single window. ``order_cols[0]``
    must be timestamp-typed for the blocked path.

    Tie rule: both plans rank by ``order_cols`` descending, then by
    latency descending with NULLs last (the order the blocked plan's
    struct sort already used), so rows tied on the whole order tuple
    enter the ring largest latency first. The two plans therefore give
    identical output on every input: blocks partition the primary order
    column's value range, so block-major order == global order, and
    rows tied on order tuple AND latency are interchangeable.
    """
    order_cols = order_cols or [ts_col]
    src, dst, op = F.col(src_col), F.col(dst_col), F.col(op_col)
    fed = df.filter((src != "") & (dst != ""))
    keys = [src.alias("src"), dst.alias("dst"), op.alias("op")]
    base_aggs = [
        F.count("*").alias("call_count"),
        F.sum(is_error_col(F.col("status_code")).cast("long")).alias("error_count"),
        F.sum(latency_col).alias("latency_sum_us"),
        F.min(ts_col).alias("first_seen"),
        F.max(ts_col).alias("last_seen"),
    ]
    out_cols = [
        "src", "dst", "op", "call_count", "error_count", "latency_sum_us",
        "latency_p99_us", "first_seen", "last_seen",
    ]
    ring_order = [F.col(c).desc() for c in order_cols]
    ring_order.append(F.col(latency_col).desc_nulls_last())

    if ring_block_s is None:
        # Single-shuffle plan: the row_number window hash-partitions on
        # the edge key; the groupBy on the same keys reuses that
        # partitioning (no second exchange, no join). The last-100 ring
        # folds into the same aggregation as a conditional collect_list.
        w = Window.partitionBy(src_col, dst_col, op_col).orderBy(*ring_order)
        ranked = fed.withColumn("_rn", F.row_number().over(w))
        lat_in_ring = F.when(F.col("_rn") <= P99_WINDOW, F.col(latency_col))
        aggd = ranked.groupBy(*keys).agg(
            *base_aggs, F.sort_array(F.collect_list(lat_in_ring)).alias("_lats")
        )
        return aggd.withColumn("latency_p99_us", _ring_p99(F.col("_lats"))).select(
            *out_cols
        )

    # Bounded two-phase plan. Phase 1: ONE shuffle on (edge, block) —
    # a row_number window ranks within each (edge, block) via the
    # Tungsten sort (per-task work bounded by the edge's per-block
    # rate), and a groupBy on the SAME keys reuses the exchange to fold
    # the base aggregates plus a conditional collect of only the
    # block's top-100 rows. Not skew.salted_topk: the ring is a
    # top-100 MERGE folded into the edge aggregate, not a ranked output.
    blk = F.floor(
        F.unix_micros(F.col(order_cols[0]).cast("timestamp"))
        / F.lit(ring_block_s * 1_000_000)
    )
    ostruct = F.struct(
        *[F.col(c).alias(f"_o{i}") for i, c in enumerate(order_cols)],
        F.col(latency_col).alias("_lat"),
    )
    with_blk = fed.withColumn("_blk", blk)
    wb = Window.partitionBy(src_col, dst_col, op_col, "_blk").orderBy(*ring_order)
    ranked = with_blk.withColumn("_rn", F.row_number().over(wb))
    top_in_blk = F.when(F.col("_rn") <= P99_WINDOW, ostruct)
    part = ranked.groupBy(*keys, "_blk").agg(
        F.count("*").alias("_cnt"),
        F.sum(is_error_col(F.col("status_code")).cast("long")).alias("_err"),
        F.sum(latency_col).alias("_lsum"),
        F.min(ts_col).alias("_min_ts"),
        F.max(ts_col).alias("_max_ts"),
        F.sort_array(F.collect_list(top_in_blk), asc=False).alias("_top"),
    )
    # Phase 2: merge per-block partials per edge (rows = blocks-per-edge,
    # tiny). Per-block tops are each desc-sorted; flatten + one sort of
    # ≤ 100 × blocks elements recovers the global last-100.
    merged = part.groupBy("src", "dst", "op").agg(
        F.sum("_cnt").alias("call_count"),
        F.sum("_err").alias("error_count"),
        F.sum("_lsum").alias("latency_sum_us"),
        F.min("_min_ts").alias("first_seen"),
        F.max("_max_ts").alias("last_seen"),
        F.slice(
            F.sort_array(F.flatten(F.collect_list("_top")), asc=False), 1, P99_WINDOW
        ).alias("_ring"),
    )
    ring_lats = F.sort_array(
        F.filter(
            F.transform(F.col("_ring"), lambda s: s["_lat"]), lambda x: x.isNotNull()
        )
    )
    return merged.withColumn("latency_p99_us", _ring_p99(ring_lats)).select(*out_cols)


def _ring_p99(lats: Column) -> Column:
    """Nearest-rank p99 over a sorted latency array; 0 when the ring is
    empty (all-null latencies) — the reference's calcP99(nil) returns 0
    (types.go:70-84) rather than erroring."""
    idx = (F.floor((F.size(lats) - 1) * 0.99) + 1).cast("int")
    return F.when(
        F.size(lats) > 0, F.try_element_at(lats, idx)
    ).otherwise(F.lit(0)).cast("long")


def derived_edge_metrics(edges: DataFrame) -> DataFrame:
    """ErrorRate / AvgLatency with zero-call guards (types.go:46-58);
    integer-truncated avg matches Go's Duration division."""
    calls = F.col("call_count")
    return edges.withColumn(
        "error_rate",
        F.when(calls == 0, F.lit(0.0)).otherwise(F.col("error_count") / calls),
    ).withColumn(
        "avg_latency_us",
        # `div` (exact long division), not floor(double /): doubles
        # lose integer precision past 2^53 (~1e9 calls at ~9ms) —
        # Go's Duration division is exact at any magnitude
        F.when(calls == 0, F.lit(0).cast("long")).otherwise(
            F.expr("latency_sum_us div call_count")
        ),
    )


def nodes(edges: DataFrame) -> DataFrame:
    """Distinct services appearing as src or dst (graph.go:78-79,211-220)."""
    return (
        edges.select(F.col("src").alias("service"))
        .unionByName(edges.select(F.col("dst").alias("service")))
        .distinct()
    )


def first_seen_edges(
    df: DataFrame,
    src_col: str = "src_service",
    dst_col: str = "dst_service",
    op_col: str = "operation",
    ts_col: str = "event_ts",
) -> DataFrame:
    """New-edge detection, batch form (graph.go:108-127): the first
    occurrence timestamp per edge key — emitted exactly once per key."""
    src, dst = F.col(src_col), F.col(dst_col)
    return (
        df.filter((src != "") & (dst != ""))
        .groupBy(src.alias("src"), dst.alias("dst"), F.col(op_col).alias("op"))
        .agg(F.min(ts_col).alias("first_seen"))
    )


def edge_sessions(
    df: DataFrame,
    src_col: str = "src_service",
    dst_col: str = "dst_service",
    op_col: str = "operation",
    ts_col: str = "event_ts",
    ttl: str = "5 minutes",
) -> DataFrame:
    """Batch form of "TTL eviction + a re-appearing edge is new again"
    (reference: graph.go:247-293 with EdgeTTL, types_test.go:345-361):
    observations of an edge key more than ``ttl`` apart belong to
    different lifetimes. ``session_window`` sessionizes exactly that —
    one row per edge lifetime with its first/last observation and call
    count; a "new edge" event ≙ each session's start."""
    src, dst = F.col(src_col), F.col(dst_col)
    return (
        df.filter((src != "") & (dst != ""))
        .groupBy(
            src.alias("src"), dst.alias("dst"), F.col(op_col).alias("op"),
            F.session_window(F.col(ts_col), ttl).alias("w"),
        )
        .agg(F.count("*").alias("call_count"), F.min(ts_col).alias("first_seen"),
             F.max(ts_col).alias("last_seen"))
        .select("src", "dst", "op", "call_count", "first_seen", "last_seen")
    )


def sweep_stale(edges: DataFrame, now_ts: str, ttl_seconds: int = 300) -> DataFrame:
    """TTL eviction (graph.go:247-293 watermark semantics): keep edges
    whose last_seen is within the TTL of the sweep time."""
    deadline = F.lit(now_ts).cast("timestamp") - F.expr(f"INTERVAL {ttl_seconds} SECONDS")
    return edges.filter(F.col("last_seen") >= deadline)


def service_rollup(edges: DataFrame, anomaly_counts: DataFrame | None = None) -> DataFrame:
    """Per-service rollup (reference: screen1.go:58-108): in/out degree,
    weighted avg latency over outgoing edges, error rate, risk score.

    Mirrors the reference's integer arithmetic: per-edge AvgLatency is
    an integer division before re-weighting, and the risk formula uses
    whole milliseconds.
    """
    calls = F.col("call_count")
    # Go Duration division — exact long `div`, not floor(double /),
    # which drifts once latency_sum_us crosses 2^53
    per_edge_avg = F.expr("latency_sum_us div call_count")
    out_side = edges.groupBy(F.col("src").alias("service")).agg(
        F.count("*").alias("out_deg"),
        F.sum(per_edge_avg * calls).alias("_lat_weighted"),
        F.sum(calls).alias("_calls"),
        F.sum("error_count").alias("_errors"),
    )
    in_side = edges.groupBy(F.col("dst").alias("service")).agg(
        F.count("*").alias("in_deg")
    )
    svc = out_side.join(in_side, "service", "full_outer").fillna(
        0, subset=["out_deg", "in_deg", "_lat_weighted", "_calls", "_errors"]
    )
    avg_lat = F.when(
        F.col("_calls") > 0, F.expr("_lat_weighted div _calls")
    ).otherwise(F.lit(0)).cast("long")
    err_rate = F.when(F.col("_calls") > 0, F.col("_errors") / F.col("_calls")).otherwise(F.lit(0.0))
    svc = svc.withColumn("avg_latency_us", avg_lat).withColumn("error_rate", err_rate)

    if anomaly_counts is not None:
        svc = svc.join(anomaly_counts, "service", "left").fillna(0, subset=["anomalies"])
    else:
        svc = svc.withColumn("anomalies", F.lit(0).cast("long"))

    # riskScore (screen1.go:105-108): whole milliseconds, truncated
    ms = F.expr("avg_latency_us div 1000")
    svc = svc.withColumn(
        "risk", F.col("anomalies") * 2.0 + F.col("error_rate") * 10.0 + ms / 100.0
    )
    return svc.select(
        "service", "in_deg", "out_deg", "avg_latency_us", "error_rate", "anomalies", "risk"
    )


def edge_rollup(
    df: DataFrame,
    src_col: str = "src_service",
    dst_col: str = "dst_service",
    latency_col: str = "latency_us",
) -> DataFrame:
    """Multi-level edge report in ONE pass via ROLLUP over (src, dst):
    per-edge rows, per-src subtotals, and the grand total, with
    ``gid`` (grouping_id: 0 = edge, 1 = per-src subtotal, 3 = grand
    total) distinguishing levels — rolled-up key columns are NULL, the
    SQL-standard convention both engines share. Aggregates are exact
    longs: ``n_events``, ``n_errors`` (is_error_col), and
    ``latency_sum_us`` (null latencies contribute 0).

    The reference renders per-edge, per-service, and total counters as
    separate passes over its in-memory graph (screen1.go); at 100 TB a
    ROLLUP is the right shape — Spark expands the grouping sets
    map-side BEFORE the single hash shuffle, and map-side partial
    aggregation combines every level, so three report levels cost one
    exchange instead of three scans."""
    d = df.filter((F.col(src_col) != "") & (F.col(dst_col) != ""))
    return d.rollup(src_col, dst_col).agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(is_error_col(F.col("status_code")).cast("long")).alias("n_errors"),
        F.sum(F.coalesce(F.col(latency_col), F.lit(0)).cast("long")).alias(
            "latency_sum_us"
        ),
    )


def format_level_matrix(
    df: DataFrame,
    formats: list[str],
    format_col: str = "format",
    level_col: str = "level",
) -> DataFrame:
    """Format × level count matrix (the counters dashboard view): one
    row per level, one column per format from the EXPLICIT ``formats``
    list — pivot with a pinned value list keeps the output schema
    deterministic (no extra distinct-scan job, no run-to-run column
    drift) and is required for oracle comparison. Formats outside the
    list are ignored; counts are exact longs (0 where absent).

    One map-side-combined shuffle on the level key; the pivot is a
    conditional aggregation, not a join."""
    counts = [
        F.sum((F.col(format_col) == f).cast("long")).alias(f)
        for f in formats
    ]
    return df.groupBy(level_col).agg(*counts)


def filter_services(rollup: DataFrame, contains: str) -> DataFrame:
    """Case-insensitive substring filter (screen1.go:110-117)."""
    return rollup.filter(F.lower(F.col("service")).contains(contains.lower()))


def sort_services(rollup: DataFrame, by: str = "risk", asc: bool = False) -> DataFrame:
    """Sortable service list (screen1.go:119-138)."""
    col = F.col(by)
    return rollup.orderBy(col.asc() if asc else col.desc(), F.col("service"))


def upstream_downstream(edges: DataFrame, service: str) -> DataFrame:
    """Screen2 split (screen2.go:66-98): edges into the service are
    upstream, edges out of it downstream."""
    up = edges.filter(F.col("dst") == service).withColumn("direction", F.lit("upstream"))
    down = edges.filter(F.col("src") == service).withColumn("direction", F.lit("downstream"))
    return up.unionByName(down)


def last_n_events(
    df: DataFrame,
    n: int = 100,
    key_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Last-N ring per edge (screen3.go:59-75 / W9)."""
    key_cols = key_cols or ["src_service", "dst_service", "operation"]
    order_cols = order_cols or ["event_ts"]
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= n).drop("_rn")


def top_k(df: DataFrame, by: str, k: int, tiebreak: list[str] | None = None) -> DataFrame:
    """Top-k (W8): deterministic ordering with explicit tiebreak."""
    order = [F.col(by).desc()] + [F.col(c) for c in (tiebreak or [])]
    return df.orderBy(*order).limit(k)


def time_buckets(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 minute",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Tumbling-window counts (A13; the honest version of the TUI's
    calls/min approximation, screen2.go:211-217).

    NULL timestamps land in a NULL ``window_start`` group (SQL GROUP
    BY semantics — ``skew.null_safe_window``)."""
    keys = [
        null_safe_window(F.col(ts_col), duration).alias("w"),
        F.col(ts_col).isNull().alias("_ts_null"),
    ] + [F.col(k) for k in (extra_keys or [])]
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("calls"))
        .select(
            F.when(~F.col("_ts_null"), F.col("w.start")).alias("window_start"),
            *(extra_keys or []),
            "calls",
        )
    )


def dense_time_buckets(
    df: DataFrame,
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    bucket_s: int = 60,
) -> DataFrame:
    """Gap-FILLED per-key time-bucket counts: one row per key per
    ``bucket_s``-second bucket between that key's first and last
    event, with empty buckets emitted as 0 — the densified rate series
    a dashboard or anomaly baseline needs (plain ``time_buckets``
    skips silent minutes, so a rate chart lies by omission during
    outages, exactly when it matters). Output ``(*key_cols,
    bucket_start, n)`` with ``bucket_start`` in epoch seconds.

    Scale posture: one map-side-combined (key, bucket) count shuffle
    over the events; the spine derives from the BUCKET table (per-key
    min/max over rows-per-(key, bucket), not events), and the gap
    explode emits span/bucket_s rows per key — sized by wall-clock
    coverage, never event volume. The spine joins the counts on the
    same (key, bucket) key. NULL timestamps are excluded (a densified
    rate series has no place for unknown time; `time_buckets` keeps
    the NULL lane for accounting)."""
    keys = key_cols or []
    bucket = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(bucket_s))
        * F.lit(bucket_s)
    ).cast("long")
    counts = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(*keys, bucket.alias("bucket_start"))
        .agg(F.count("*").cast("long").alias("_n"))
    )
    spans = counts.groupBy(*keys).agg(
        F.min("bucket_start").alias("_lo"), F.max("bucket_start").alias("_hi")
    )
    spine = spans.select(
        *keys,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.lit(int(bucket_s)))
        ).alias("bucket_start"),
    )
    return spine.join(counts, [*keys, "bucket_start"], "left").select(
        *keys, "bucket_start", F.coalesce("_n", F.lit(0)).cast("long").alias("n")
    )


def burst_flags(
    df: DataFrame,
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    bucket_s: int = 60,
    window: int = 10,
    factor_pct: int = 300,
    min_periods: int = 3,
) -> DataFrame:
    """Rate-burst detection over the GAP-FILLED bucket series: a
    bucket is a burst when its count exceeds ``factor_pct``% of the
    trailing-``window`` mean. Runs on ``dense_time_buckets`` output —
    z-scoring or thresholding the RAW bucket table inflates the
    trailing baseline by silently skipping zero-count buckets, which
    is exactly the outage shape a burst detector must see. The
    comparison is exact integer cross-multiplication
    (``n · window_len · 100 > factor_pct · trailing_sum``) — no float
    threshold, so the verdict is engine- and partition-order exact.
    Output: ``(*key_cols, bucket_start, n, trailing_sum, burst)``;
    buckets with fewer than ``min_periods`` trailing buckets are never
    flagged (cold start).

    Scale posture: dense_time_buckets' shuffles plus ONE per-key
    window over the bucket series (rows = wall-clock buckets, not
    events)."""
    keys = key_cols or []
    dense = dense_time_buckets(df, ts_col, keys, bucket_s)
    w = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy("bucket_start")
        .rowsBetween(-window, -1)
    )
    trailing = F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long")
    n_trail = F.count("n").over(w).cast("long")
    burst = (
        (F.col("_nt") >= min_periods)
        & (
            F.col("n") * F.col("_nt") * F.lit(100)
            > F.lit(factor_pct) * F.col("trailing_sum")
        )
    )
    return (
        dense.withColumn("trailing_sum", trailing)
        .withColumn("_nt", n_trail)
        .withColumn("burst", burst)
        .select(*keys, "bucket_start", "n", "trailing_sum", "burst")
    )
