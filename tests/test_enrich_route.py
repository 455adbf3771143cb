"""Resolver/enrichment tests (reference: internal/resolve/resolve_test.go)
and routing fan-out tests."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from logshipper_spark import gen, route
from logshipper_spark.enrich import enrich_roles, resolve_expr, resolve_services
from logshipper_spark.session import local_frame

from .conftest import plan_string
from .oracle import resolve_one

LOOKUP = [
    ("10.0.0.5", "payment-db", False, 0),
    ("db.internal", "db-service", False, 1),
    ("*.redis.svc", "redis-cache", True, 2),
    ("cache-*", "cache-tier", True, 3),
]


# ── resolve_test.go:13-36 exact, case-insensitive ──
def test_exact_resolution(spark):
    df = spark.createDataFrame(
        [("10.0.0.5",), ("DB.INTERNAL",), ("unknown-host",)], ["host"]
    )
    got = [r[0] for r in df.select(resolve_expr(F.col("host"), LOOKUP)).collect()]
    assert got == ["payment-db", "db-service", None]


# ── resolve_test.go:38-61 wildcards, first match wins ──
def test_wildcard_resolution(spark):
    df = spark.createDataFrame(
        [("node1.redis.svc",), ("cache-7",), ("redis.svc",)], ["host"]
    )
    got = [r[0] for r in df.select(resolve_expr(F.col("host"), LOOKUP)).collect()]
    assert got == ["redis-cache", "cache-tier", None]  # '*.redis.svc' needs a prefix


# ── chain.go: first-hit wins across exact→wildcard order ──
def test_exact_beats_wildcard(spark):
    rows = LOOKUP + [("10.0.0.*", "wild-db", True, 9)]
    df = spark.createDataFrame([("10.0.0.5",)], ["host"])
    assert df.select(resolve_expr(F.col("host"), rows)).first()[0] == "payment-db"


def test_resolve_one_matches_expr():
    for host, want in [
        ("10.0.0.5", "payment-db"),
        ("node1.redis.svc", "redis-cache"),
        ("nope", None),
    ]:
        assert resolve_one(host, LOOKUP) == want


# ── docker.go:27-46 replica-suffix strip (J5) ──
def test_docker_replica_suffix_stage(spark):
    rows = LOOKUP + [("web", "web-frontend", False, 4)]
    hosts = spark.createDataFrame(
        rows, "host_pattern string, service string, is_wildcard boolean, priority int"
    )
    df = spark.createDataFrame(
        [
            ("", "web-3", "s"),        # strip → static hit on 'web'
            ("", "web_12", "s"),       # underscore replicas too
            ("", "worker-2", "s"),     # strip → no static hit → stripped name
            ("", "worker", "s"),       # not replica-shaped → kept as-is
            ("", "replica-1.redis.svc", "s"),  # wildcard wins before docker stage
            ("", "10.0.0.5", "s"),     # exact wins before docker stage
        ],
        "src_service string, dst_service string, source_name string",
    )
    got = [
        r["dst_service"]
        for r in resolve_services(df, hosts, docker_replicas=True).collect()
    ]
    assert got == [
        "web-frontend", "web-frontend", "worker", "worker", "redis-cache",
        "payment-db",
    ]


def test_docker_replica_off_by_default(spark):
    hosts = spark.createDataFrame(
        LOOKUP, "host_pattern string, service string, is_wildcard boolean, priority int"
    )
    df = spark.createDataFrame(
        [("", "web-3", "s")],
        "src_service string, dst_service string, source_name string",
    )
    assert resolve_services(df, hosts).collect()[0]["dst_service"] == "web-3"


def test_resolve_one_docker_parity():
    rows = LOOKUP + [("web", "web-frontend", False, 4)]
    for host, want in [
        ("web-3", "web-frontend"),
        ("worker-2", "worker"),
        ("worker", None),
        ("replica-1.redis.svc", "redis-cache"),
    ]:
        assert resolve_one(host, rows, docker_replicas=True) == want


# ── pipeline.go:178-192 dst enrich + src backfill ──
def test_resolve_services(spark):
    hosts = spark.createDataFrame(
        LOOKUP, "host_pattern string, service string, is_wildcard boolean, priority int"
    )
    df = spark.createDataFrame(
        [
            ("svc-a", "db.internal", "file-1"),   # dst resolved
            ("svc-a", "unknown", "file-1"),        # dst kept as-is
            ("", "", "10.0.0.5"),                  # src backfilled via resolver
            ("", "", "plainsource"),               # src backfilled raw
        ],
        "src_service string, dst_service string, source_name string",
    )
    out = resolve_services(df, hosts).collect()
    assert out[0]["dst_service"] == "db-service"
    assert out[1]["dst_service"] == "unknown"
    assert out[2]["src_service"] == "payment-db"
    assert out[3]["src_service"] == "plainsource"


def test_enrich_roles_compiled(spark):
    lookup = gen.lookup_roles(spark)
    df = spark.createDataFrame(
        [("tool", "code_exec"), ("user", ""), ("mystery", ""), (None, "search"),
         ("tool", None)],
        "role string, tool string",
    )
    out = {(r["role"], r["tool"]): r.asDict() for r in enrich_roles(df, lookup).collect()}
    assert len(out) == 5
    assert out[("tool", "code_exec")]["cost_tier"] == "high"
    assert out[("tool", "code_exec")]["sink_hint"] == "sink_tools"
    assert out[("user", "")]["team"] == "end-user"
    assert out[("mystery", "")]["team"] == ""  # unmatched → empty, row kept
    # a NULL role or tool never matches, as in the equi-join; row kept
    for key in [(None, "search"), ("tool", None)]:
        assert [out[key][c] for c in ("team", "cost_tier", "sink_hint")] == ["", "", ""]
    # the dimension is compiled into the projection: no join of any kind
    assert "Join" not in plan_string(enrich_roles(df, lookup))

    schema = "role string, tool string, team string, cost_tier string, sink_hint string"
    facts = spark.createDataFrame([("user", ""), ("tool", "search")], "role string, tool string")

    def enriched(rows):
        got = enrich_roles(facts, local_frame(spark, rows, schema)).collect()
        return {(r["role"], r["tool"]): (r["team"], r["cost_tier"], r["sink_hint"]) for r in got}

    # a lookup row with a NULL key never matched the join: ignored; a
    # NULL value becomes ""
    assert enriched([
        (None, "", "ghost", "x", "y"), ("tool", None, "ghost", "x", "y"),
        ("user", "", "end-user", None, "sink_default"),
    ]) == {("user", ""): ("end-user", "", "sink_default"), ("tool", "search"): ("", "", "")}
    # an empty lookup enriches every row with ""
    assert set(enriched([]).values()) == {("", "", "")}
    # a duplicate key would have duplicated fact rows: refused up front
    with pytest.raises(ValueError, match="duplicate"):
        enriched([("user", "", "a", "b", "c"), ("user", "", "d", "e", "f")])


def test_routed_rows_fanout(spark):
    df = spark.createDataFrame(
        [
            ("c1", 0, "error", 500, "", "json"),
            ("c1", 1, "info", 200, "search", "json"),
            ("c1", 2, "info", 200, "", "metric_json"),
            ("c1", 3, "info", 200, "", "json"),
        ],
        "conv_id string, turn_idx int, level string, status_code int, tool string, format string",
    )
    routed = route.routed_rows(df, gen.routing_rules())
    got = {}
    for r in routed.collect():
        got.setdefault(r["turn_idx"], set()).add(r["sink"])
    assert got[0] == {"sink_errors", "sink_default"}
    assert got[1] == {"sink_tools", "sink_default"}
    assert got[2] == {"sink_metrics", "sink_default"}
    assert got[3] == {"sink_default"}


def test_sink_counts(spark):
    ts = datetime(2024, 3, 1, 0, 0, 30)
    df = spark.createDataFrame(
        [
            ("c1", 0, "error", 500, "", "json", ts),
            ("c1", 1, "info", 200, "search", "json", ts),
        ],
        "conv_id string, turn_idx int, level string, status_code int, "
        "tool string, format string, ts timestamp",
    )
    routed = route.routed_rows(df, gen.routing_rules())
    counts = {
        (r["sink"], r["conv_id"]): r.asDict()
        for r in route.sink_counts(routed).collect()
    }
    d = counts[("sink_default", "c1")]
    assert d["turn_count"] == 2
    assert d["tool_call_count"] == 1
    assert d["error_pattern_count"] == 1
    assert counts[("sink_errors", "c1")]["turn_count"] == 1


def test_sink_counts_null_ts_keeps_row(spark):
    """A NULL timestamp lands in a NULL window_start bucket (SQL GROUP
    BY semantics) instead of being silently dropped by Spark's
    TimeWindowing IS NOT NULL filter — SUM(turn_count) must always
    reconcile with the routed row count."""
    ts = datetime(2024, 3, 1, 0, 0, 30)
    df = spark.createDataFrame(
        [
            ("c1", 0, "info", 200, "", "json", ts),
            ("c1", 1, "info", 200, "", "json", None),
        ],
        "conv_id string, turn_idx int, level string, status_code int, "
        "tool string, format string, ts timestamp",
    )
    routed = route.routed_rows(df, gen.routing_rules())
    counts = route.sink_counts(routed).collect()
    total = sum(r["turn_count"] for r in counts if r["sink"] == "sink_default")
    assert total == routed.filter("sink = 'sink_default'").count() == 2
    null_rows = [r for r in counts if r["window_start"] is None]
    assert len(null_rows) == 1 and null_rows[0]["turn_count"] == 1
    real = [r for r in counts if r["window_start"] is not None]
    assert all(r["window_start"].year == 2024 for r in real)
