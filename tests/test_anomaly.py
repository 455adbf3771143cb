"""Anomaly-layer tests (reference: internal/anomaly/anomaly_test.go)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from logshipper_spark.anomaly import detect_alerts, rolling_zscore
from logshipper_spark.session import release_held


def _df(spark, values, key="e:latency", start=None, step_s=1):
    start = start or datetime(2024, 3, 1)
    rows = [
        (key, i, float(v), start + timedelta(seconds=i * step_s))
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, "key string, idx long, value double, ts timestamp")


# ── anomaly_test.go:25-97 rolling stats: population stddev ──
def test_population_stddev(spark):
    vals = [2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0]
    out = rolling_zscore(
        _df(spark, vals), ["key"], "value", ["idx"], window_size=8, min_samples=1
    ).orderBy("idx").collect()
    last = out[-1]
    assert last["mean"] == pytest.approx(5.0)
    assert last["stddev"] == pytest.approx(2.0)  # √(m2/n), not /n-1
    assert last["zscore"] == pytest.approx((9.0 - 5.0) / 2.0)


def test_window_slides(spark):
    vals = [1.0] * 10 + [100.0] * 10
    out = rolling_zscore(
        _df(spark, vals), ["key"], "value", ["idx"], window_size=5, min_samples=1
    ).orderBy("idx").collect()
    # once the window holds only 100s, stddev is 0 → z = 0 (stats.go:61-67)
    assert out[-1]["stddev"] == 0.0
    assert out[-1]["zscore"] == 0.0


# ── detector.go:73-75 min-samples gate ──
def test_min_samples_gate(spark):
    vals = [10.0, 10.0, 10.0, 500.0]
    out = rolling_zscore(
        _df(spark, vals), ["key"], "value", ["idx"], window_size=100, min_samples=10
    ).orderBy("idx").collect()
    assert all(not r["is_anomaly"] for r in out)  # below gate, never flagged


# ── anomaly_test.go:138-175 edge-trigger dedup ──
def test_edge_trigger_single_alert(spark):
    vals = [50.0] * 30 + [500.0, 500.0, 500.0] + [50.0] * 5
    alerts = detect_alerts(
        _df(spark, vals), ["key"], "value", ["idx"],
        window_size=100, min_samples=10, threshold=3.0, cooldown_s=0.0,
    ).collect()
    # consecutive in-anomaly samples alert once (transition only)
    assert len(alerts) == 1
    assert alerts[0]["value"] == 500.0


def test_retrigger_after_recovery(spark):
    base = [50.0] * 30
    vals = base + [500.0] + [50.0] * 10 + [500.0]
    alerts = detect_alerts(
        _df(spark, vals), ["key"], "value", ["idx"],
        window_size=100, min_samples=10, threshold=3.0, cooldown_s=0.0,
    ).orderBy("idx").collect()
    assert len(alerts) == 2  # state reset on recovery → second alert fires


# ── anomaly_test.go:191-210 cooldown suppression ──
def test_cooldown_suppression(spark):
    base = [50.0] * 30
    # two spikes 5 seconds apart with a 30s cooldown → second suppressed
    vals = base + [500.0] + [50.0] * 4 + [500.0]
    alerts = detect_alerts(
        _df(spark, vals), ["key"], "value", ["idx"],
        window_size=100, min_samples=10, threshold=3.0, cooldown_s=30.0,
    ).collect()
    assert len(alerts) == 1
    # with cooldown elapsed (spikes 40s apart via step), both fire
    df2 = _df(spark, vals, step_s=40)
    alerts2 = detect_alerts(
        df2, ["key"], "value", ["idx"],
        window_size=100, min_samples=10, threshold=3.0, cooldown_s=30.0,
    ).collect()
    assert len(alerts2) == 2


# ── anomaly_test.go multi-key isolation ──
def test_multi_key_isolation(spark):
    a = _df(spark, [50.0] * 30 + [500.0], key="a:latency")
    b = _df(spark, [50.0] * 31, key="b:latency")
    df = a.unionByName(b)
    alerts = detect_alerts(
        df, ["key"], "value", ["idx"],
        window_size=100, min_samples=10, threshold=3.0,
    ).collect()
    assert len(alerts) == 1
    assert alerts[0]["key"] == "a:latency"


# ── bench/anomaly_eval_test.go:14-153 statistical eval: F1 ≥ 0.85 ──
def test_statistical_eval_f1(spark):
    import numpy as np

    rng = np.random.default_rng(42)
    n, n_anoms = 10_000, 50
    values = rng.normal(50.0, 10.0, n)
    labels = np.zeros(n, dtype=bool)
    positions = rng.choice(np.arange(200, n), size=n_anoms, replace=False)
    ks = rng.choice([4.0, 5.0, 6.0], size=n_anoms)
    values[positions] = 50.0 + ks * 10.0
    labels[positions] = True

    df = spark.createDataFrame(
        [("eval", int(i), float(v), datetime(2024, 3, 1) + timedelta(seconds=int(i)))
         for i, v in enumerate(values)],
        "key string, idx long, value double, ts timestamp",
    ).cache()

    grid = [(2.0, 50), (2.5, 50), (3.0, 50), (3.0, 100), (3.0, 200), (3.5, 100)]
    best_f1 = 0.0
    for threshold, window in grid:
        flagged = rolling_zscore(
            df, ["key"], "value", ["idx"],
            window_size=window, min_samples=window // 2, threshold=threshold,
        ).filter("is_anomaly").select("idx").collect()
        got = {r["idx"] for r in flagged}
        want = set(map(int, positions))
        tp = len(got & want)
        fp = len(got - want)
        fn = len(want - got)
        p = tp / (tp + fp) if tp + fp else 0.0
        r = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * p * r / (p + r) if p + r else 0.0
        best_f1 = max(best_f1, f1)
    df.unpersist()
    assert best_f1 >= 0.85, best_f1


# ── bounded two-phase error-rate feed (round-3 scale fix) ──
_FEED_SCHEMA = (
    "src_service string, dst_service string, operation string, "
    "ts timestamp, event_id long, latency_us long, status_code int"
)
_FEED_KEYS = ["src_service", "dst_service", "operation"]
_FEED_ORDER = ["ts", "event_id"]


def _feed_vs_oracle(spark, rows):
    """edge_metric_feed and oracle.edge_error_rate_feed over the same
    rows, each as {(src_service, event_id, metric): value}."""
    from logshipper_spark.anomaly import edge_metric_feed

    from . import oracle

    df = spark.createDataFrame(rows, _FEED_SCHEMA)
    feed = edge_metric_feed(df, key_cols=_FEED_KEYS, order_cols=_FEED_ORDER)
    key = lambda r: (r["src_service"], r["event_id"], r["metric"])  # noqa: E731
    got = {key(r): r["value"] for r in feed.collect()}
    names = [f.name for f in df.schema.fields]
    want = {
        key(r): r["value"]
        for r in oracle.edge_error_rate_feed(
            [dict(zip(names, row)) for row in rows], _FEED_KEYS, _FEED_ORDER
        )
    }
    return df, got, want


def test_edge_metric_feed_two_phase_parity_hot_edge(spark):
    """Blocked running sums == the plain-Python running feed on a
    synthetic hot edge spanning many time blocks, and no (edge, block)
    group holds more than one block's worth of rows."""
    from logshipper_spark.anomaly import FEED_BLOCK

    start = datetime(2024, 3, 1)
    rows = []
    for i in range(600):  # one hot edge, rows every 30 s → 50 blocks at 15 min
        rows.append(("hot", "dst", "op", start + timedelta(seconds=30 * i), i,
                     1000 + i, 500 if i % 7 == 0 else 200))
    for i in range(20):  # one cold edge in a single block
        rows.append(("cold", "dst", "op", start + timedelta(seconds=i), 1000 + i,
                     50, 200))
    df, got, want = _feed_vs_oracle(spark, rows)
    assert got == want
    assert len(got) == 2 * len(rows)  # every row emits latency + rate
    # per-task bound: the hot edge's 600 rows split across ~50 blocks,
    # so no (edge, block) partition holds more than 2 blocks' rows
    blk = df.groupBy(
        "src_service", F.window("ts", FEED_BLOCK)["start"].alias("b")
    ).count()
    assert blk.agg(F.max("count")).first()[0] <= 30
    assert blk.filter("src_service = 'hot'").count() >= 20


def test_rolling_zscore_blocked_parity_hot_key(spark):
    """Bounded two-phase rolling zscore == single-window rolling_zscore
    on a hot key spanning many blocks: mean/n_samples EXACT (integer
    prefix sums), stddev/zscore to 1e-8 (sum-of-squares recomposition
    vs incremental moments), is_anomaly identical."""
    from logshipper_spark.anomaly import rolling_zscore, rolling_zscore_blocked

    rows = [("hot", i, 1000 + (i * 37) % 500) for i in range(900)]
    rows += [("hot", 950, 99_000)]  # genuine spike
    rows += [("cold", i, 50 + i % 3) for i in range(30)]
    df = spark.createDataFrame(rows, "k string, event_id long, value long")
    kw = dict(key_cols=["k"], value_col="value", window_size=100)
    slow = rolling_zscore(df, order_cols=["event_id"], **kw)
    want = {(r["k"], r["event_id"]): r for r in slow.collect()}
    # block 64 < window 100: every row resolves through the cross-block
    # boundary join; block 4096 > the id range: every row resolves via
    # the in-block lag. Both paths must agree with the window form.
    for bs in (64, 4096):
        fast = rolling_zscore_blocked(
            df, order_col="event_id", block_size=bs, **kw
        )
        got = {(r["k"], r["event_id"]): r for r in fast.collect()}
        _assert_blocked_parity(got, want)
    # per-task bound: the hot key's 901 rows split across blocks of 64
    # ids, so no (key, block) group exceeds the block size
    blk = df.groupBy("k", F.floor(F.col("event_id") / 64).alias("b")).count()
    assert blk.agg(F.max("count")).first()[0] <= 64
    assert blk.filter("k = 'hot'").count() >= 14


def _assert_blocked_parity(got, want):
    release_held()
    assert set(got) == set(want)
    for key, g in got.items():
        w = want[key]
        assert g["mean"] == w["mean"], key  # exact: integer sums
        assert g["n_samples"] == w["n_samples"], key
        assert abs(g["stddev"] - w["stddev"]) <= 1e-8 * max(1.0, w["stddev"])
        assert abs(g["zscore"] - w["zscore"]) <= 1e-6, key
        assert g["is_anomaly"] == w["is_anomaly"], key
    # the spike is flagged by both forms
    assert got[("hot", 950)]["is_anomaly"]


def test_rolling_zscore_blocked_null_keys_and_values_parity(spark):
    """NULL keys and NULL values must ride through the blocked form
    exactly like the single-window form: NULL-key rows are scored (the
    internal joins are null-safe — an equi-join would silently drop
    them), n_samples/mean/stddev count only non-null values, and no
    row ever disappears."""
    from logshipper_spark.anomaly import rolling_zscore, rolling_zscore_blocked

    rows = []
    for i in range(300):  # NULL key group spanning several 64-id blocks
        rows.append((None, i, None if i % 7 == 0 else 100 + (i * 13) % 40))
    for i in range(150):  # named key with interleaved NULL values
        rows.append(("a", i, None if i % 5 == 0 else 500 + (i * 3) % 9))
    rows.append(("b", 0, None))  # all-NULL key: n_samples 0, mean NULL
    df = spark.createDataFrame(rows, "k string, event_id long, value long")
    kw = dict(key_cols=["k"], value_col="value", window_size=20)
    want = {
        (r["k"], r["event_id"]): r
        for r in rolling_zscore(df, order_cols=["event_id"], **kw).collect()
    }
    fast = rolling_zscore_blocked(df, order_col="event_id", block_size=64, **kw)
    got = {(r["k"], r["event_id"]): r for r in fast.collect()}
    release_held()
    assert set(got) == set(want)  # nothing dropped, nothing duplicated
    for key, g in got.items():
        w = want[key]
        assert g["n_samples"] == w["n_samples"], key
        assert g["mean"] == w["mean"], key  # exact (incl. None == None)
        if w["stddev"] is None:
            assert g["stddev"] is None, key
        else:
            assert abs(g["stddev"] - w["stddev"]) <= 1e-8 * max(1.0, w["stddev"]), key
        if w["zscore"] is None:
            assert g["zscore"] is None, key
        else:
            assert abs(g["zscore"] - w["zscore"]) <= 1e-6, key
        assert g["is_anomaly"] == w["is_anomaly"], key
    assert got[("b", 0)]["n_samples"] == 0
    assert got[("b", 0)]["mean"] is None


def test_rolling_zscore_blocked_large_mean_tight_spread_stddev(spark):
    """Catastrophic-cancellation regression: values ~3e7 with spread
    ~sqrt(2) make the naive E[x²]−mean² double recomposition lose ~all
    precision (wsumq ≈ 9e16 > 2^53). The exact decimal identity
    nn·Σx² − (Σx)² must stay within 1e-8 of the single-window
    stddev_pop (and of the true value)."""
    import statistics

    from logshipper_spark.anomaly import rolling_zscore, rolling_zscore_blocked

    vals = [30_000_000 + (i * 37) % 5 for i in range(400)]
    df = spark.createDataFrame(
        [("m", i, v) for i, v in enumerate(vals)],
        "k string, event_id long, value long",
    )
    kw = dict(key_cols=["k"], value_col="value", window_size=100)
    want = {
        r["event_id"]: r
        for r in rolling_zscore(df, order_cols=["event_id"], **kw).collect()
    }
    fast = rolling_zscore_blocked(df, order_col="event_id", block_size=64, **kw)
    got = {r["event_id"]: r for r in fast.collect()}
    release_held()
    for i, g in got.items():
        w = want[i]
        assert g["mean"] == w["mean"], i
        assert abs(g["stddev"] - w["stddev"]) <= 1e-8 * max(1.0, w["stddev"]), i
    # spot-check against the true population stddev at a full window
    true_std = statistics.pstdev(vals[300 - 99 : 301])
    assert abs(got[300]["stddev"] - true_std) <= 1e-9 * max(1.0, true_std)


def test_edge_metric_feed_two_phase_null_key_and_ts_parity(spark):
    """NULL key columns and NULL ts rows must produce the plain-Python
    running feed — the struct-keyed offset join keeps them; a plain
    equi-join dropped the whole NULL-key group. NULL status counts as
    non-error (the oracle's CASE ... ELSE 0 convention)."""
    start = datetime(2024, 3, 1)
    rows = []
    for i in range(40):  # NULL-src edge spanning several 15-min blocks
        rows.append((None, "dst", "op", start + timedelta(minutes=2 * i), i,
                     100 + i, 500 if i % 5 == 0 else None))
    rows.append(("a", "dst", "op", None, 100, 50, 200))  # NULL ts
    rows.append(("a", "dst", "op", start, 101, 60, 503))
    _, got, want = _feed_vs_oracle(spark, rows)
    assert got == want
    assert len(got) == 2 * len(rows)  # every row emits latency + rate
