"""Aggregate-layer tests (reference: internal/graph/types_test.go,
internal/tui/tui_test.go)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from logshipper_spark import aggregate as agg

SCHEMA = (
    "src_service string, dst_service string, operation string, "
    "status_code int, latency_us long, event_ts timestamp"
)


def _ts(i):
    return datetime(2024, 3, 1, 0, 0, i)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


# ── types_test.go:143-176 basic feed aggregation ──
def test_edge_agg_basic(spark):
    rows = [
        ("a", "b", "op", 200, 10_000, _ts(1)),
        ("a", "b", "op", 500, 30_000, _ts(2)),
        ("a", "b", "op", 200, 20_000, _ts(3)),
        ("a", "c", "op2", 200, 5_000, _ts(4)),
    ]
    edges = {(r["src"], r["dst"], r["op"]): r.asDict() for r in agg.edge_agg(_df(spark, rows)).collect()}
    e = edges[("a", "b", "op")]
    assert e["call_count"] == 3
    assert e["error_count"] == 1  # only status >= 500
    assert e["latency_sum_us"] == 60_000
    assert e["first_seen"] == _ts(1)
    assert e["last_seen"] == _ts(3)
    assert edges[("a", "c", "op2")]["call_count"] == 1


# ── bounded two-phase ring == single-window plan, hot edge spanning blocks ──
def test_edge_agg_blocked_ring_matches_single_window(spark):
    from datetime import timedelta

    base = datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    # hot edge: 900 events over 5 hours (spans 5 one-hour blocks),
    # latencies patterned so the last-100 p99 is order-sensitive
    for i in range(900):
        rows.append(
            ("hot", "dst", "op", 500 if i % 7 == 0 else 200,
             ((i * 37) % 997) * 100, base + timedelta(seconds=i * 20))
        )
    # cold edge + an all-null-latency edge
    for i in range(30):
        rows.append(("cold", "dst", "op", 200, i * 1000, base + timedelta(seconds=i)))
    rows.append(("n", "d", "op", 200, None, base))
    df = _df(spark, rows)
    kw = dict(order_cols=["event_ts", "latency_us"])
    blocked = {
        (r["src"], r["dst"], r["op"]): r.asDict()
        for r in agg.edge_agg(df, ring_block_s=3600, **kw).collect()
    }
    single = {
        (r["src"], r["dst"], r["op"]): r.asDict()
        for r in agg.edge_agg(df, ring_block_s=None, **kw).collect()
    }
    assert blocked == single
    # per-task bound: no (edge, block) group holds the hot edge's full history
    from pyspark.sql import functions as F

    blk = F.floor(F.unix_micros(F.col("event_ts")) / F.lit(3600 * 1_000_000))
    max_grp = (
        df.groupBy("src_service", "dst_service", "operation", blk.alias("b"))
        .count().agg(F.max("count")).collect()[0][0]
    )
    assert max_grp < 900  # 900-event hot edge split across 5 blocks


# ── ring ties: both plans cut the last 100 the same way ──
def _ring_p99_reference(rows, order_key):
    """Nearest-rank p99 over the last 100 rows of one edge: rows ranked
    by ``order_key`` descending, then latency descending with NULLs
    last; NULL latencies hold a ring slot but are skipped (types.go:60-86)."""
    ranked = sorted(
        rows,
        key=lambda r: (order_key(r), r[4] is not None, r[4] or 0),
        reverse=True,
    )
    lats = sorted(r[4] for r in ranked[:100] if r[4] is not None)
    return lats[int((len(lats) - 1) * 0.99)] if lats else 0


def test_edge_agg_ring_ties_are_deterministic(spark):
    """One edge with 150 rows on ONE event_ts: the ring's cut at 100
    falls inside a full order-tuple tie, so only the latency tie key
    decides which rows enter it. 60 distinct latencies and 90 NULLs:
    the ring holds the 60 latencies and 40 NULLs. The input order
    (NULLs, then the largest latency, 58 smaller ones, the second
    largest, NULLs) makes a cut by arrival order, either way round,
    drop one of the two latencies the p99 depends on."""
    t = _ts(5)
    lats = [20_000] + [(i * 37) % 997 * 10 for i in range(1, 59)] + [19_000]
    rows = [("a", "b", "op", 200, None, t) for _ in range(45)]
    rows += [("a", "b", "op", 200, lat, t) for lat in lats]
    rows += [("a", "b", "op", 200, None, t) for _ in range(45)]
    # a second edge whose tied rows straddle two one-hour blocks
    base = datetime(2024, 3, 1, 0, 59, 59)
    for i in range(260):
        ts = base if i < 130 else datetime(2024, 3, 1, 1, 0, 1)
        rows.append(("c", "d", "op", 200, None if i % 9 == 0 else i * 3 % 211, ts))
    df = _df(spark, rows)
    plans = {
        ring: {
            (r["src"], r["dst"], r["op"]): r["latency_p99_us"]
            for r in agg.edge_agg(df, order_cols=["event_ts"], ring_block_s=ring).collect()
        }
        for ring in (3600, None)
    }
    want = {
        (src, dst, "op"): _ring_p99_reference(
            [r for r in rows if r[0] == src], lambda r: r[5]
        )
        for src, dst in (("a", "b"), ("c", "d"))
    }
    assert plans[3600] == plans[None] == want


# ── types.go:70-84: calcP99(nil) returns 0, never errors ──
def test_p99_all_null_latency_is_zero(spark):
    rows = [
        ("a", "b", "op", 200, None, _ts(1)),
        ("a", "b", "op", 200, None, _ts(2)),
    ]
    out = agg.edge_agg(_df(spark, rows)).collect()
    assert len(out) == 1
    assert out[0]["latency_p99_us"] == 0
    assert out[0]["latency_sum_us"] is None


# ── graph.go:68-70: empty src or dst skipped ──
def test_edge_agg_skips_empty(spark):
    rows = [
        ("", "b", "op", 200, 1, _ts(1)),
        ("a", "", "op", 200, 1, _ts(1)),
        ("a", "b", "op", 200, 1, _ts(1)),
    ]
    out = agg.edge_agg(_df(spark, rows)).collect()
    assert len(out) == 1
    assert out[0]["call_count"] == 1


# ── types_test.go:77-110 p99 ring-buffer semantics ──
def test_p99_nearest_rank_small_n(spark):
    # n=10 → idx = int(9*0.99) = 8 → 2nd largest
    rows = [("a", "b", "op", 200, (i + 1) * 1000, _ts(i)) for i in range(10)]
    e = agg.edge_agg(_df(spark, rows)).collect()[0]
    assert e["latency_p99_us"] == 9000


def test_p99_window_slides_last_100(spark):
    # 150 events: first 50 latency=1000, then 100 latency=2000..
    # window holds only the last 100 → p99 ignores the early values
    rows = [("a", "b", "op", 200, 1_000_000, _ts(0))] * 50
    rows = [("a", "b", "op", 200, 1_000_000, datetime(2024, 3, 1, 0, 0, 0, i)) for i in range(50)]
    rows += [
        ("a", "b", "op", 200, 5_000, datetime(2024, 3, 1, 0, 1, 0, i)) for i in range(100)
    ]
    e = agg.edge_agg(_df(spark, rows), order_cols=["event_ts"]).collect()[0]
    assert e["latency_p99_us"] == 5_000  # early 1s latencies fell out of the ring


# ── types_test.go:49-75 derived metrics ──
def test_derived_metrics(spark):
    rows = [
        ("a", "b", "op", 500, 10_000, _ts(1)),
        ("a", "b", "op", 200, 25_000, _ts(2)),
    ]
    e = agg.derived_edge_metrics(agg.edge_agg(_df(spark, rows))).collect()[0]
    assert e["error_rate"] == 0.5
    assert e["avg_latency_us"] == 17_500


# ── graph.go:211-220 node set ──
def test_nodes(spark):
    rows = [
        ("a", "b", "op", 200, 1, _ts(1)),
        ("b", "c", "op", 200, 1, _ts(1)),
    ]
    nodes = {r["service"] for r in agg.nodes(agg.edge_agg(_df(spark, rows))).collect()}
    assert nodes == {"a", "b", "c"}


# ── types_test.go:247-257 new-edge first seen once ──
def test_first_seen(spark):
    rows = [
        ("a", "b", "op", 200, 1, _ts(5)),
        ("a", "b", "op", 200, 1, _ts(2)),
        ("a", "b", "op", 200, 1, _ts(9)),
    ]
    out = agg.first_seen_edges(_df(spark, rows)).collect()
    assert len(out) == 1
    assert out[0]["first_seen"] == _ts(2)


# ── types_test.go:310-361 TTL eviction ──
def test_sweep_stale(spark):
    rows = [
        ("a", "b", "op", 200, 1, _ts(1)),     # stale
        ("c", "d", "op", 200, 1, _ts(50)),    # fresh
    ]
    edges = agg.edge_agg(_df(spark, rows))
    kept = agg.sweep_stale(edges, "2024-03-01 00:00:59", ttl_seconds=30).collect()
    assert [(r["src"], r["dst"]) for r in kept] == [("c", "d")]


# ── screen1.go:58-108 service rollup ──
def test_service_rollup(spark):
    rows = [
        ("a", "b", "op", 500, 10_000, _ts(1)),
        ("a", "b", "op", 200, 30_000, _ts(2)),
        ("a", "c", "op", 200, 100_000, _ts(3)),
        ("b", "c", "op", 200, 50_000, _ts(4)),
    ]
    edges = agg.edge_agg(_df(spark, rows))
    roll = {r["service"]: r.asDict() for r in agg.service_rollup(edges).collect()}
    a = roll["a"]
    assert a["out_deg"] == 2 and a["in_deg"] == 0
    # weighted avg over outgoing: (floor(40000/2)*2 + 100000*1) / 3
    assert a["avg_latency_us"] == (20_000 * 2 + 100_000) // 3
    assert a["error_rate"] == pytest.approx(1 / 3)
    # risk = anomalies*2 + errRate*10 + whole_ms/100 (screen1.go:105-108)
    assert a["risk"] == pytest.approx(0 + (1 / 3) * 10 + 46 / 100)
    c = roll["c"]
    assert c["in_deg"] == 2 and c["out_deg"] == 0
    assert c["avg_latency_us"] == 0 and c["error_rate"] == 0.0


# ── tui_test.go sort/filter ──
def test_filter_and_sort(spark):
    rows = [
        ("api-gw", "db", "op", 200, 10_000, _ts(1)),
        ("auth", "db", "op", 500, 90_000, _ts(2)),
    ]
    roll = agg.service_rollup(agg.edge_agg(_df(spark, rows)))
    assert [r["service"] for r in agg.filter_services(roll, "AUTH").collect()] == ["auth"]
    by_risk = [r["service"] for r in agg.sort_services(roll, "risk").collect()]
    assert by_risk[0] == "auth"  # errors dominate risk


# ── screen2.go:66-98 upstream/downstream ──
def test_upstream_downstream(spark):
    rows = [
        ("a", "b", "op", 200, 1, _ts(1)),
        ("b", "c", "op", 200, 1, _ts(2)),
        ("x", "b", "op", 200, 1, _ts(3)),
    ]
    edges = agg.edge_agg(_df(spark, rows))
    split = agg.upstream_downstream(edges, "b").collect()
    ups = {(r["src"], r["dst"]) for r in split if r["direction"] == "upstream"}
    downs = {(r["src"], r["dst"]) for r in split if r["direction"] == "downstream"}
    assert ups == {("a", "b"), ("x", "b")}
    assert downs == {("b", "c")}


# ── screen3.go:59-75 last-N ring ──
def test_last_n_events(spark):
    rows = [("a", "b", "op", 200, i, _ts(i % 60)) for i in range(150)]
    df = spark.createDataFrame(
        [(s, d, o, st, lat, datetime(2024, 3, 1, 0, i // 60, i % 60))
         for i, (s, d, o, st, lat, _) in enumerate(rows)],
        SCHEMA,
    )
    out = agg.last_n_events(df, n=100)
    assert out.count() == 100
    assert out.agg(F.min("latency_us")).first()[0] == 50  # oldest 50 dropped


def test_time_buckets(spark):
    df = spark.createDataFrame(
        [("c1", datetime(2024, 3, 1, 0, 0, 30)), ("c1", datetime(2024, 3, 1, 0, 0, 45)),
         ("c1", datetime(2024, 3, 1, 0, 1, 10)), ("c2", datetime(2024, 3, 1, 0, 0, 5))],
        "conv_id string, ts timestamp",
    )
    out = {
        (r["conv_id"], r["window_start"].minute): r["calls"]
        for r in agg.time_buckets(df, ts_col="ts", extra_keys=["conv_id"]).collect()
    }
    assert out == {("c1", 0): 2, ("c1", 1): 1, ("c2", 0): 1}


def test_time_buckets_null_ts_keeps_row(spark):
    """NULL ts → NULL window_start group, never a dropped row."""
    df = spark.createDataFrame(
        [("c1", datetime(2024, 3, 1, 0, 0, 30)), ("c1", None)],
        "conv_id string, ts timestamp",
    )
    rows = agg.time_buckets(df, ts_col="ts", extra_keys=["conv_id"]).collect()
    assert sum(r["calls"] for r in rows) == 2
    assert {r["window_start"] is None for r in rows} == {True, False}


def test_top_k(spark):
    df = spark.createDataFrame(
        [("a", 5), ("b", 9), ("c", 9), ("d", 1)], "name string, v int"
    )
    got = [r["name"] for r in agg.top_k(df, "v", 2, tiebreak=["name"]).collect()]
    assert got == ["b", "c"]


def test_edge_rollup(spark):
    """Three report levels in one pass: edge rows (gid 0), per-src
    subtotals (gid 1, dst NULL), grand total (gid 3, both NULL)."""
    df = spark.createDataFrame(
        [("a", "b", 200, 10), ("a", "b", 503, 20), ("a", "c", 200, None),
         ("b", "c", 500, 5), ("", "c", 500, 5), ("a", "", 200, 1)],
        "src_service string, dst_service string, status_code int, latency_us long",
    )
    rows = {
        (r["src_service"], r["dst_service"], r["gid"]): (
            r["n_events"], r["n_errors"], r["latency_sum_us"])
        for r in agg.edge_rollup(df).collect()
    }
    # empty-src / empty-dst rows are excluded everywhere
    assert rows[("a", "b", 0)] == (2, 1, 30)
    assert rows[("a", "c", 0)] == (1, 0, 0)       # NULL latency -> 0
    assert rows[("a", None, 1)] == (3, 1, 30)     # per-src subtotal
    assert rows[("b", None, 1)] == (1, 1, 5)
    assert rows[(None, None, 3)] == (4, 2, 35)    # grand total
    assert len(rows) == 6  # 3 edges + 2 subtotals + 1 total


def test_format_level_matrix(spark):
    df = spark.createDataFrame(
        [("json", "info"), ("json", "error"), ("plain", "info"),
         ("ecs_json", "info"), ("weird", "info")],
        "format string, level string",
    )
    got = {
        r["level"]: (r["json"], r["ecs_json"], r["plain"])
        for r in agg.format_level_matrix(
            df, formats=["json", "ecs_json", "plain"]
        ).collect()
    }
    # unknown formats ignored; absent cells are 0, not NULL
    assert got == {"info": (1, 1, 1), "error": (1, 0, 0)}


def test_dense_time_buckets(spark):
    """Gap filling: every bucket between a key's first and last event
    appears, empties are 0, NULL timestamps drop, keys don't bleed."""
    from logshipper_spark import aggregate as agg

    rows = [
        ("a", "2024-01-01 00:00:10"),
        ("a", "2024-01-01 00:00:50"),
        ("a", "2024-01-01 00:03:05"),   # 2 empty minutes between
        ("b", "2024-01-01 00:05:00"),
        ("b", None),
    ]
    df = spark.createDataFrame(rows, "k string, ts string").select(
        "k", F.to_timestamp("ts").alias("ts")
    )
    got = sorted(
        (r["k"], r["bucket_start"], r["n"])
        for r in agg.dense_time_buckets(df, key_cols=["k"]).collect()
    )
    t0 = 1704067200  # 2024-01-01 00:00:00 UTC
    assert got == [
        ("a", t0, 2), ("a", t0 + 60, 0), ("a", t0 + 120, 0),
        ("a", t0 + 180, 1),
        ("b", t0 + 300, 1),
    ]


def test_burst_flags(spark):
    """Exact integer burst verdicts over the densified series: the
    zero-filled outage minutes LOWER the trailing baseline so the
    recovery spike flags; cold-start buckets never flag."""
    from logshipper_spark import aggregate as agg

    rows = []
    # key 'a': steady 2/min for 5 min, 3 silent min, then 6 in 1 min
    for m in range(5):
        rows += [("a", f"2024-01-01 00:0{m}:10"), ("a", f"2024-01-01 00:0{m}:40")]
    rows += [("a", "2024-01-01 00:08:%02d" % s) for s in range(6)]
    df = spark.createDataFrame(rows, "k string, ts string").select(
        "k", F.to_timestamp("ts").alias("ts")
    )
    got = {
        r["bucket_start"]: (r["n"], r["trailing_sum"], r["burst"])
        for r in agg.burst_flags(
            df, key_cols=["k"], window=5, factor_pct=200, min_periods=3
        ).collect()
    }
    t0 = 1704067200
    # burst bucket: n=6, trailing 5 buckets = [2,0,0,0] + [2] = sum 4,
    # count 5 -> 6*5*100 > 200*4 -> flagged
    assert got[t0 + 480] == (6, 4, True)
    # steady bucket with full window: 2*5*100 = 1000 !> 200*8
    assert got[t0 + 240] == (2, 8, False)
    # cold start (fewer than 3 trailing buckets): never flagged
    assert got[t0][2] is False and got[t0 + 60][2] is False
    # zero buckets exist and are unflagged
    assert got[t0 + 300] == (0, 10, False)
