"""North-rule fixture equality: the Spark pipeline vs a pure-Python
oracle that replays the reference's Go semantics.

Checks, over deterministic generated transcripts:
  * per-turn equality of every normalized field under stable turn
    ordering (the per-turn text-equality invariant);
  * routed-row equality: each turn lands in exactly the same sinks;
  * per-sink aggregate counts (turn/tool-call/error-pattern);
  * edge-aggregate equality incl. exact last-100 nearest-rank p99.
"""

from __future__ import annotations

from datetime import timezone

import pytest
from pyspark.sql import functions as F

from logshipper_spark import gen, pipeline, route
from logshipper_spark import aggregate as agg

from . import oracle

N_TURNS = 3000


@pytest.fixture(scope="module")
def frames(spark):
    tx = gen.transcripts(spark, N_TURNS).cache()
    enriched = pipeline.normalize_and_enrich(spark, tx).cache()
    lookup_rows = [
        (r["host_pattern"], r["service"], r["is_wildcard"], r["priority"])
        for r in gen.lookup_hosts(spark).collect()
    ]
    role_rows = [tuple(r) for r in gen.lookup_roles(spark).collect()]
    tx_rows = sorted(
        (r.asDict() for r in tx.collect()), key=lambda r: (r["conv_id"], r["turn_idx"])
    )
    expected = []
    for r in tx_rows:
        n = oracle.parse_normalized(r["text"], r["role"])
        n = oracle.resolve(n, lookup_rows)
        n = oracle.enrich_roles(n, r["role"], r["tool"], role_rows)
        n["conv_id"], n["turn_idx"], n["tool"], n["ts"] = (
            r["conv_id"], r["turn_idx"], r["tool"], r["ts"],
        )
        expected.append(n)
    yield {"tx": tx, "enriched": enriched, "expected": expected}
    enriched.unpersist()
    tx.unpersist()


def _naive(dt):
    return dt.astimezone(timezone.utc).replace(tzinfo=None) if dt.tzinfo else dt


FIELDS = [
    "trace_id", "span_id", "src_service", "dst_service", "operation",
    "status_code", "latency_us", "level", "format", "team", "cost_tier",
    "sink_hint",
]


def test_per_turn_equality(frames):
    got = {
        (r["conv_id"], r["turn_idx"]): r.asDict()
        for r in frames["enriched"].collect()
    }
    assert len(got) == len(frames["expected"])
    for exp in frames["expected"]:
        g = got[(exp["conv_id"], exp["turn_idx"])]
        for f in FIELDS:
            assert g[f] == exp[f], (exp["conv_id"], exp["turn_idx"], f, g[f], exp[f])
        assert g["event_ts"] == _naive(exp["event_ts"]), (exp["conv_id"], exp["turn_idx"])
        assert g["source_name"] == exp["source_name"]


def test_routed_row_equality(frames):
    routed = route.routed_rows(frames["enriched"], gen.routing_rules())
    got: dict = {}
    for r in routed.select("conv_id", "turn_idx", "sink").collect():
        got.setdefault((r["conv_id"], r["turn_idx"]), set()).add(r["sink"])
    for exp in frames["expected"]:
        want = set(oracle.route_row(exp, exp["tool"]))
        assert got[(exp["conv_id"], exp["turn_idx"])] == want, (
            exp["conv_id"], exp["turn_idx"],
        )


def test_routed_rows_carry_text_verbatim(frames):
    """The literal per-turn text-equality invariant: every routed row's
    text column is byte-identical to the source turn's text, under the
    stable (conv_id, turn_idx) ordering."""
    source = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in frames["tx"].collect()
    }
    routed = route.routed_rows(frames["enriched"], gen.routing_rules())
    for r in routed.select("conv_id", "turn_idx", "text").collect():
        assert r["text"] == source[(r["conv_id"], r["turn_idx"])]


def test_per_sink_aggregate_counts(frames):
    routed = route.routed_rows(frames["enriched"], gen.routing_rules())
    counts = route.sink_counts(routed, ts_col="ts")
    got_totals = {
        r["sink"]: (r["tc"], r["tl"], r["ec"])
        for r in counts.groupBy("sink")
        .agg(
            F.sum("turn_count").alias("tc"),
            F.sum("tool_call_count").alias("tl"),
            F.sum("error_pattern_count").alias("ec"),
        )
        .collect()
    }
    want_totals: dict = {}
    for exp in frames["expected"]:
        for sink in oracle.route_row(exp, exp["tool"]):
            t = want_totals.setdefault(sink, [0, 0, 0])
            t[0] += 1
            t[1] += 1 if exp["tool"] != "" else 0
            t[2] += 1 if (exp["level"] == "error" or exp["status_code"] >= 500) else 0
    assert got_totals == {k: tuple(v) for k, v in want_totals.items()}


def test_edge_aggregate_equality(frames):
    edges = agg.edge_agg(
        frames["enriched"], ts_col="event_ts", order_cols=["ts", "conv_id", "turn_idx"]
    )
    got = {
        (r["src"], r["dst"], r["op"]): r.asDict() for r in edges.collect()
    }
    ordered = sorted(
        frames["expected"], key=lambda e: (e["ts"], e["conv_id"], e["turn_idx"])
    )
    want = oracle.edge_aggregate(ordered)
    assert set(got) == set(want)
    for key, w in want.items():
        g = got[key]
        assert g["call_count"] == w["call_count"], key
        assert g["error_count"] == w["error_count"], key
        assert g["latency_sum_us"] == w["latency_sum_us"], key
        assert g["first_seen"] == _naive(w["first_seen"]), key
        assert g["last_seen"] == _naive(w["last_seen"]), key
        assert g["latency_p99_us"] == w["latency_p99_us"], key


def test_stable_turn_ordering(frames):
    rows = frames["enriched"].select("conv_id", "turn_idx", "turn_rank").collect()
    for r in rows:
        assert r["turn_rank"] == r["turn_idx"] + 1  # contiguous turns → rank = idx+1


def test_run_batch_counters(spark, frames, tmp_path):
    out = str(tmp_path / "out")
    summary = pipeline.run_batch(spark, frames["tx"], out, run_id="t", batch_id=0)
    assert summary["rows_in"] == N_TURNS
    want_sinks: dict = {}
    for exp in frames["expected"]:
        for s in oracle.route_row(exp, exp["tool"]):
            want_sinks[s] = want_sinks.get(s, 0) + 1
    assert summary["sink_rows"] == want_sinks
    # lineage committed → batch resumable
    assert pipeline.completed_batches(spark, out) == {0}
    # lineage parse-stage rows sum to the input size
    lineage = spark.read.parquet(f"{out}/lineage")
    parse_rows = (
        lineage.filter(F.col("stage") == "parse").agg(F.sum("rows_out")).first()[0]
    )
    assert parse_rows == N_TURNS
