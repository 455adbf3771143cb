"""Z-score anomaly detection (reference: internal/anomaly/).

Batch layer:

* rolling mean / population stddev / z-score over the last-N window per
  (key, metric) — pure window functions (reference RollingStats,
  stats.go:21-67; note **population** stddev: m2/n);
* min-samples gate (detector.go:73-75);
* edge-trigger + cooldown (detector.go:78-94) — inherently sequential
  per key because the in-anomaly flag flips only on *emitted* alerts
  and cooldown suppresses emissions. This is the engine's one
  per-key-sequential kernel: an Arrow-batched ``applyInPandas`` whose
  Python loop touches only the (rare) above-threshold rows; all stats
  stay vectorized. Documented policy, SURVEY.md §7.3.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .session import hold

DEFAULT_WINDOW = 100
DEFAULT_THRESHOLD = 3.0
DEFAULT_COOLDOWN_S = 30.0


def rolling_zscore(
    df: DataFrame,
    key_cols: list[str],
    value_col: str = "value",
    order_cols: list[str] | None = None,
    window_size: int = DEFAULT_WINDOW,
    min_samples: int | None = None,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """Append rolling mean/stddev/z-score/is_anomaly columns.

    Window includes the current row (the reference Adds the value
    before scoring it, detector.go:71-77). stddev is population
    (stats.go:50-55); z is 0 when stddev is 0 (stats.go:61-67); no
    verdict below min_samples (default window/2, detector.go:41).
    """
    if min_samples is None:
        min_samples = window_size // 2
    order_cols = order_cols or ["ts"]
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-(window_size - 1), 0)
    )
    v = F.col(value_col)
    out = (
        df.withColumn("mean", F.avg(v).over(w))
        .withColumn("stddev", F.coalesce(F.stddev_pop(v).over(w), F.lit(0.0)))
        .withColumn("n_samples", F.count(v).over(w))
    )
    z = F.when(F.col("stddev") == 0.0, F.lit(0.0)).otherwise(
        (v - F.col("mean")) / F.col("stddev")
    )
    out = out.withColumn("zscore", z)
    gated = (F.col("n_samples") >= min_samples) & (F.abs(F.col("zscore")) > threshold)
    return out.withColumn("is_anomaly", gated)


def rolling_zscore_blocked(
    df: DataFrame,
    key_cols: list[str],
    value_col: str = "value",
    order_col: str = "event_id",
    window_size: int = DEFAULT_WINDOW,
    min_samples: int | None = None,
    threshold: float = DEFAULT_THRESHOLD,
    block_size: int = 4096,
) -> DataFrame:
    """Bounded two-phase form of ``rolling_zscore`` — the 100 TB path
    for a HOT key: the single-window form sorts a key's entire history
    through one task (the same hazard class ``edge_metric_feed``'s
    two-phase default engineered out for running sums). A last-N-rows
    sliding aggregate decomposes over prefix sums: windowed
    sum = cum(r) − cum(r−N), so

    - phase 1 computes per-(key, block) local running (count, sum,
      sum-of-squares) + a tiny per-block offset table — the exact
      ``turn_rank_salted`` pattern, no task scans more than one block;
    - phase 2 fetches the prefix at rank r−N with a co-partitioned
      1:1 equi-join on (key, rank−N) — a hash join on bounded keys,
      never a per-key sort.

    Requirements/caveats vs the reference-exact ``rolling_zscore``:

    - ``order_col`` must be a UNIQUE-per-key integer (event id / turn
      index) — blocks are ranges of it. ``block_size`` is in ORDER-ID
      units: pick it so one block holds many × ``window_size`` ROWS
      (for sparse / hash-derived ids scale it up accordingly) — the
      r−N prefix then resolves via an in-block lag riding the phase-1
      sort, and only each block's first ≤ N rows pay the cross-block
      join (AQE broadcasts that boundary set when it is small);
    - ``value_col`` is cast to long: integer prefix sums are exact, so
      windowed sums (hence means and n_samples) are IDENTICAL to the
      single-window form; quantize float metrics first (micro-bit
      convention). Cumulative sum-of-squares is a long — exact up to
      ~9.2e18 (e.g. 10^6-scale values for ~10^6 rows/key per the
      p99/edge-sum posture; cast wider upstream beyond that);
    - variance comes from the EXACT integer identity
      ``n·Σx² − (Σx)²`` evaluated in decimal(38,0) over the windowed
      sums (small — window-bounded), then ONE double division: no
      E[x²]−mean² float cancellation, so stddev is the true population
      stddev to double rounding even for large-mean/tight-spread keys
      where the naive recomposition collapses (requires
      window·window·max(v)² < 10³⁸ — any realistic quantized metric).
      The contract oracle keeps ``rolling_zscore`` (reference-exact
      window) and this form is parity-tested to 1e-8;
    - NULL values and NULL keys ride through like the single-window
      form: n_samples/mean/stddev count only non-null values (a
      separate non-null prefix lane), and both internal joins run on a
      struct-wrapped key (struct equality is null-safe AND shares the
      windows' hash partitioning) so NULL-key rows are scored, never
      dropped. A NULL
      ``order_col`` violates the uniqueness contract (those rows
      collapse into one block with undefined relative order) but still
      flows through.

    Priced-in cost (re-measured post-hardening, interleaved ABAB
    best-of-5 on the cached 600k-row / 200-key bench feed): ~1.45x the
    single-window form (4.86 s vs 3.34 s; ~9% of that is the non-null
    lane + struct key — BASELINE.md round-3h). Use it when a key's
    history exceeds one task — the same trade as edge_agg's bounded
    ring (+39%) but for sliding windows. The single-window form stays
    the default.
    """
    if min_samples is None:
        min_samples = window_size // 2
    v = F.col(value_col).cast("long")
    # _jk wraps the key columns in ONE struct: struct equality is
    # null-safe (NULL fields compare equal), so a NULL-key group joins
    # its own offset/boundary rows through plain equi-joins — and the
    # windows, groupBy, and joins all hash-partition on the same
    # column, so the exchange is planned once and reused (an
    # eqNullSafe join condition would force an extra full-data
    # exchange: its required distribution differs from the windows')
    from .skew import group_key_struct, null_safe_block

    # null-safe group key + never-null block id (skew.py invariant):
    # NULL-key and NULL-order rows must flow through the offset
    # equi-join, not vanish
    d = (
        df.withColumn("_jk", group_key_struct(*key_cols))
        .withColumn("_v", v)
        .withColumn("_blk", null_safe_block(F.col(order_col), block_size))
    )
    w_loc = (
        Window.partitionBy("_jk", "_blk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # running-sum lanes: row count (rank / lag distance), NON-NULL
    # value count (the n_samples/mean denominator — F.count/F.avg/
    # stddev_pop skip NULLs in the single-window form), value sum and
    # sum of squares (F.sum skips NULLs; coalesce the all-NULL-prefix
    # case to 0 so the cum arithmetic never NULL-poisons).
    local = (
        d.withColumn("_c_loc", F.count(F.lit(1)).over(w_loc))
        .withColumn("_n_loc", F.count("_v").over(w_loc))
        .withColumn(
            "_s_loc", F.coalesce(F.sum("_v").over(w_loc), F.lit(0))
        )
        .withColumn(
            "_q_loc",
            F.coalesce(
                F.sum(F.col("_v") * F.col("_v")).over(w_loc), F.lit(0)
            ),
        )
    )
    # in-block lag at distance N: same partitioning+order as w_loc, so
    # it rides the SAME sort (one WindowExec chain, no extra exchange).
    # Non-null iff the r−N row lives in this block — then its prefix is
    # this block's offset + its local running sums, and the expensive
    # cross-block fetch is skipped entirely.
    w_ord = Window.partitionBy("_jk", "_blk").orderBy(order_col)
    local = (
        local.withColumn("_c_lag", F.lag("_c_loc", window_size).over(w_ord))
        .withColumn("_n_lag", F.lag("_n_loc", window_size).over(w_ord))
        .withColumn("_s_lag", F.lag("_s_loc", window_size).over(w_ord))
        .withColumn("_q_lag", F.lag("_q_loc", window_size).over(w_ord))
    )
    totals = d.groupBy("_jk", "_blk").agg(
        F.count("*").alias("_c_tot"),
        F.count("_v").alias("_n_tot"),
        F.coalesce(F.sum("_v"), F.lit(0)).alias("_s_tot"),
        F.coalesce(F.sum(F.col("_v") * F.col("_v")), F.lit(0)).alias(
            "_q_tot"
        ),
    )
    w_off = (
        Window.partitionBy("_jk")
        .orderBy("_blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_jk",
        "_blk",
        F.coalesce(F.sum("_c_tot").over(w_off), F.lit(0)).alias("_c_off"),
        F.coalesce(F.sum("_n_tot").over(w_off), F.lit(0)).alias("_n_off"),
        F.coalesce(F.sum("_s_tot").over(w_off), F.lit(0)).alias("_s_off"),
        F.coalesce(F.sum("_q_tot").over(w_off), F.lit(0)).alias("_q_off"),
    )
    pre = (
        local.join(offsets, ["_jk", "_blk"])
        .withColumn("_r", F.col("_c_off") + F.col("_c_loc"))
        .withColumn("_nn", F.col("_n_off") + F.col("_n_loc"))
        .withColumn("_cum", F.col("_s_off") + F.col("_s_loc"))
        .withColumn("_cumq", F.col("_q_off") + F.col("_q_loc"))
        # prefix at r−N resolved in-block where the lag hit (offsets
        # are the SAME block's, so offset + lagged local sums is exact)
        .withColumn(
            "_nn_l",
            F.when(
                F.col("_c_lag").isNotNull(),
                F.col("_n_off") + F.col("_n_lag"),
            ),
        )
        .withColumn(
            "_cum_l",
            F.when(
                F.col("_c_lag").isNotNull(),
                F.col("_s_off") + F.col("_s_lag"),
            ),
        )
        .withColumn(
            "_cumq_l",
            F.when(
                F.col("_c_lag").isNotNull(),
                F.col("_q_off") + F.col("_q_lag"),
            ),
        )
        .withColumn("_resolved", F.col("_c_lag").isNotNull())
        .drop(
            "_blk", "_c_loc", "_n_loc", "_s_loc", "_q_loc", "_c_off",
            "_n_off", "_s_off", "_q_off", "_c_lag", "_n_lag", "_s_lag",
            "_q_lag",
        )
    )
    # pre feeds up to three consumers (resolved rows, boundary rows,
    # and the boundary lookup side) — hold it so the prefix
    # computation doesn't run repeatedly (self-join-recompute trap).
    pre = hold(pre)
    # cross-block fetch ONLY for boundary rows — the first ≤ N rows of
    # each block (their r−N row lives in an earlier block). That set is
    # ~N per (key, block), so it BROADCASTS into a hash join against
    # the full prefix frame: no full-data sort-merge join, the big side
    # streams. Rows with _r <= N need no prefix at all (cum_l = 0).
    resolved = pre.filter(
        F.col("_resolved") | (F.col("_r") <= window_size)
    )
    boundary = pre.filter(
        ~F.col("_resolved") & (F.col("_r") > window_size)
    ).drop("_nn_l", "_cum_l", "_cumq_l")
    lagref = pre.select(
        "_jk",
        F.col("_r").alias("_rprev"),
        F.col("_nn").alias("_nn_l"),
        F.col("_cum").alias("_cum_l"),
        F.col("_cumq").alias("_cumq_l"),
    )
    # no explicit broadcast hint: with well-sized blocks the boundary
    # side is tiny and AQE broadcasts it at runtime; with mis-sized
    # blocks (boundary ≈ all rows) AQE falls back to a shuffle join
    # instead of OOM-broadcasting half the corpus
    bd = (
        boundary.withColumn("_rprev", F.col("_r") - F.lit(window_size))
        .join(lagref, ["_jk", "_rprev"], "left")
        .drop("_rprev")
    )
    j = resolved.unionByName(bd)
    # windowed aggregates from exact integer prefix differences;
    # n_samples counts NON-NULL values (single-window parity)
    nn = (F.col("_nn") - F.coalesce(F.col("_nn_l"), F.lit(0))).cast("long")
    wsum = F.col("_cum") - F.coalesce(F.col("_cum_l"), F.lit(0))
    wsumq = F.col("_cumq") - F.coalesce(F.col("_cumq_l"), F.lit(0))
    mean = F.when(nn > 0, wsum / nn)
    # exact integer variance identity in decimal(38,0): nn·Σx² − (Σx)²
    # (≥ 0 by Cauchy–Schwarz, computed exactly — no float cancellation)
    dec = "decimal(38,0)"
    varnum = nn.cast(dec) * wsumq.cast(dec) - wsum.cast(dec) * wsum.cast(
        dec
    )
    var = F.greatest(varnum.cast("double"), F.lit(0.0)) / (nn * nn)
    std = F.when(nn > 0, F.sqrt(var)).otherwise(F.lit(0.0))
    z = F.when(std == 0.0, F.lit(0.0)).otherwise((F.col("_v") - mean) / std)
    out = (
        j.withColumn("mean", mean)
        .withColumn("stddev", std)
        .withColumn("n_samples", nn)
        .withColumn("zscore", z)
        .drop(
            "_jk", "_v", "_r", "_nn", "_cum", "_cumq", "_resolved",
            "_nn_l", "_cum_l", "_cumq_l",
        )
    )
    gated = (F.col("n_samples") >= min_samples) & (
        F.abs(F.col("zscore")) > threshold
    )
    return out.withColumn("is_anomaly", gated)


def detect_alerts(
    df: DataFrame,
    key_cols: list[str],
    value_col: str = "value",
    order_cols: list[str] | None = None,
    ts_col: str = "ts",
    window_size: int = DEFAULT_WINDOW,
    min_samples: int | None = None,
    threshold: float = DEFAULT_THRESHOLD,
    cooldown_s: float = DEFAULT_COOLDOWN_S,
) -> DataFrame:
    """Emit alert rows with exact reference gating (detector.go:59-112):
    alert only on the false→true transition of the in-anomaly state,
    where the state becomes true only when an alert is actually emitted
    (a cooldown-suppressed candidate leaves the state false), and an
    alert within ``cooldown_s`` of the previous emitted alert for the
    same key is suppressed.

    Scored via vectorized windows; the sequential replay runs per key
    over Arrow batches and loops only where ``is_anomaly`` is set.

    Rows with a NULL event time are excluded: a time-ordered state
    machine has no place for them (engines even disagree on where
    NULLs sort — Spark NULLS FIRST, DuckDB NULLS LAST — and a NULL ts
    reaching the cooldown arithmetic is pandas NaT, which raises), and
    ``streaming_alerts`` applies the same rule so stream == batch
    holds.
    """
    order_cols = order_cols or [ts_col]
    df = df.filter(F.col(ts_col).isNotNull())
    scored = rolling_zscore(
        df, key_cols, value_col, order_cols, window_size, min_samples, threshold
    )
    cols = [*key_cols, *order_cols, ts_col, value_col, "mean", "stddev", "zscore", "is_anomaly"]
    seen, dedup = set(), []
    for c in cols:
        if c not in seen:
            seen.add(c)
            dedup.append(c)
    scored = scored.select(*dedup)
    # Replay only keys that have at least one candidate: keys with no
    # above-threshold row can never alert, so they need not transit
    # Arrow into the pandas kernel at all (on healthy systems that is
    # almost every key). The flag is a max() window over the SAME key
    # partitioning the rolling stats already shuffled on — one more
    # window pass on the existing exchange, no join, no recompute.
    wk = Window.partitionBy(*key_cols)
    scored = (
        scored.withColumn("_key_has_cand", F.max(F.col("is_anomaly").cast("int")).over(wk))
        .filter(F.col("_key_has_cand") == 1)
        .drop("_key_has_cand")
    )
    schema = scored.withColumn("alert", F.lit(True)).schema

    ts_name, order_names = ts_col, list(order_cols)

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_names, kind="mergesort").reset_index(drop=True)
        alert = pd.Series(False, index=pdf.index)
        in_anomaly = False
        last_alert_ts: pd.Timestamp | None = None
        anom_idx = pdf.index[pdf["is_anomaly"].fillna(False)]
        prev_scored = -1
        for i in anom_idx:
            # a gap between consecutive anomaly indices always resets
            # the state: every row in the gap is a SCORED non-anomalous
            # value (NULL verdicts exist only in the min_samples prefix
            # of a key, before any anomaly can fire; stddev==0 scores
            # z=0, a scored non-anomaly)
            if in_anomaly and i > prev_scored + 1:
                in_anomaly = False
            if not in_anomaly:
                ts_i = pdf[ts_name].iloc[i]
                if last_alert_ts is None or (ts_i - last_alert_ts).total_seconds() >= cooldown_s:
                    alert.iloc[i] = True
                    in_anomaly = True
                    last_alert_ts = ts_i
            prev_scored = i
        out = pdf[alert.values].copy()
        out["alert"] = True
        return out

    return scored.groupBy(*key_cols).applyInPandas(replay, schema=schema)


def edge_metric_feed(
    df: DataFrame,
    key_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
    ts_col: str = "ts",
    latency_col: str = "latency_us",
    status_col: str = "status_code",
    two_phase: bool = True,
    block_duration: str = "15 minutes",
) -> DataFrame:
    """The reference's detector feed (graph.go:149-152): per event, two
    metric samples per edge — latency in ms, and the **cumulative**
    error rate *as of that event* (errors-so-far / calls-so-far under
    stable turn ordering, mirroring the order-dependent rate the Go
    code computes from its running aggregate; SURVEY.md §7.3.4).

    ``two_phase`` (default) computes the running sums BOUNDED: rows are
    blocked by ``block_duration`` time buckets of ``ts_col`` (monotone
    in the primary ordering column, so block order == row order), the
    running error/call counts accumulate locally per (edge, block), and
    each block's starting offsets come from a window over the tiny
    per-block totals table — the exact ``turn_rank_salted`` pattern
    (skew.py:33). No task ever sorts or scans a hot edge's full
    history, only one block of it; running sums are associative so the
    result is identical to the single-window form (``two_phase=False``,
    kept for plan comparison) for any block choice.

    Output: key columns + (ts, metric, value) with metric ∈
    {'latency', 'error_rate'} — feed straight into rolling_zscore /
    detect_alerts keyed on (*key_cols, 'metric').
    """
    key_cols = key_cols or ["src_service", "dst_service", "operation"]
    order_cols = order_cols or [ts_col]
    # NULL status counts as non-error (0), matching the oracle's
    # CASE WHEN ... THEN 1 ELSE 0 END — and keeping the running sums
    # null-free so the two-phase offsets can never NULL-poison a block
    is_err = F.coalesce((F.col(status_col) >= 500).cast("long"), F.lit(0))
    # window expressions can't live inside a generator's projection —
    # materialize the running rate as a column first, then explode
    if two_phase:
        from .skew import group_key_struct

        # null-safe edge key + never-null block id (skew.py invariant).
        # The coalesce must sit INSIDE window(): Spark's TimeWindowing
        # rule injects an `input IS NOT NULL` filter, so a NULL ts fed
        # directly to window() silently drops the row; the sentinel
        # timestamp (Spark's minimum year) sorts before all real data,
        # matching the window form's ASC-nulls-first ordering
        blk = F.window(
            F.coalesce(
                F.col(ts_col), F.to_timestamp(F.lit("0001-01-01 00:00:00"))
            ),
            block_duration,
        )["start"]
        with_blk = df.withColumn("_ek", group_key_struct(*key_cols)).withColumn(
            "_blk", blk
        )
        w_loc = (
            Window.partitionBy("_ek", "_blk")
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        local = with_blk.withColumn("_err_loc", F.sum(is_err).over(w_loc)).withColumn(
            "_cnt_loc", F.count(F.lit(1)).over(w_loc)
        )
        totals = with_blk.groupBy("_ek", "_blk").agg(
            F.sum(is_err).alias("_err_tot"), F.count("*").alias("_cnt_tot")
        )
        w_off = (
            Window.partitionBy("_ek")
            .orderBy("_blk")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = totals.select(
            "_ek",
            "_blk",
            F.coalesce(F.sum("_err_tot").over(w_off), F.lit(0)).alias("_err_off"),
            F.coalesce(F.sum("_cnt_tot").over(w_off), F.lit(0)).alias("_cnt_off"),
        )
        with_rate = (
            local.join(offsets, ["_ek", "_blk"])
            .withColumn(
                "_rate",
                (F.col("_err_off") + F.col("_err_loc"))
                / (F.col("_cnt_off") + F.col("_cnt_loc")),
            )
            .drop("_ek", "_blk", "_err_loc", "_cnt_loc", "_err_off", "_cnt_off")
        )
    else:
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        with_rate = df.withColumn(
            "_rate", F.sum(is_err).over(w) / F.count(F.lit(1)).over(w)
        )
    lat_ms = F.col(latency_col) / 1000.0
    pair = F.array(
        F.struct(F.lit("latency").alias("metric"), lat_ms.alias("value")),
        F.struct(F.lit("error_rate").alias("metric"), F.col("_rate").alias("value")),
    )
    return (
        with_rate.select(
            *key_cols, *order_cols, F.col(ts_col).alias("_ts"), F.explode(pair).alias("_m")
        )
        .select(
            *key_cols,
            *[c for c in order_cols if c != ts_col],
            F.col("_ts").alias(ts_col),
            F.col("_m.metric").alias("metric"),
            F.col("_m.value").alias("value"),
        )
    )
