"""run_batch's per-sink counts, lineage commit and fixed cost per batch
and per streaming epoch.

Per-sink row counts ride the write pass as ``observe()`` metrics, and
lineage is one driver-built file per batch. These tests hold both to
the routed rows actually written and to the pure-Python oracle, and
guard the job budget that motivated them.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from logshipper_spark import gen, pipeline, route, streaming
from logshipper_spark.datapipe import compaction

from . import oracle
from .conftest import plan_string

# two rules share sink_mixed; status_code >= 500 is NULL wherever the
# transform below drops a zero status (a source without the field)
RULES = [
    ("sink_mixed", "tool <> ''", 0),
    ("sink_5xx", "status_code >= 500", 1),
    ("sink_mixed", "format = 'metric_json'", 2),
    ("sink_never", "false", 3),
    ("sink_all", "true", 4),
]


def _null_zero_status(df):
    return df.withColumn("status_code", F.expr("nullif(status_code, 0)"))


def _oracle_route(n: dict, tool: str) -> list[str]:
    """RULES evaluated Go-style over an oracle-parsed turn. After
    _null_zero_status a zero status is NULL and matches no status
    predicate, which is what ``0 >= 500`` gives here too."""
    sinks = ["sink_mixed"] if tool != "" else []
    if n["status_code"] >= 500:
        sinks.append("sink_5xx")
    if n["format"] == "metric_json":
        sinks.append("sink_mixed")
    return sinks + ["sink_all"]


ORACLE_CASES = {
    "default_rules": (gen.routing_rules(), None, oracle.route_row),
    "shared_name_null_predicate": (RULES, _null_zero_status, _oracle_route),
}


def _group_counts(df) -> dict[str, int]:
    return {r["sink"]: r["n"] for r in df.groupBy("sink").agg(F.count("*").alias("n")).collect()}


def _data_files(path: str) -> list[str]:
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def test_observed_sink_counts_match_routed_and_written_rows(spark, tmp_path):
    tr = gen.transcripts(spark, 1500)
    out = str(tmp_path / "out")
    s = pipeline.run_batch(
        spark, tr, out, run_id="c", batch_id=0, rules=RULES,
        transform_fn=_null_zero_status,
    )
    # cached: filters pushed into the generator's expression trees
    # would make every count below re-plan a huge tree
    enriched = _null_zero_status(pipeline.normalize_and_enrich(spark, tr)).cache()
    # the NULL-predicate case is really exercised
    assert enriched.filter(F.col("status_code").isNull()).count() > 0
    routed = _group_counts(route.routed_rows(enriched, RULES))
    written = _group_counts(spark.read.parquet(os.path.join(out, "sinks_by", "batch_id=0")))
    assert s["sink_rows"] == routed == written
    # a shared sink name sums its rules; an empty sink is left out
    n_tools = enriched.filter("tool <> ''").count()
    n_metric = enriched.filter("format = 'metric_json'").count()
    assert s["sink_rows"]["sink_mixed"] == n_tools + n_metric
    assert s["sink_rows"]["sink_5xx"] == enriched.filter("status_code >= 500").count()
    assert s["sink_rows"]["sink_all"] == 1500
    assert "sink_never" not in s["sink_rows"]
    enriched.unpersist()


# the two sources of the edge aggregate: with a catch-all rule it reads
# the catch-all partition back from the single written pass; with only
# filtered per-sink rules it recomputes the narrow parse chain
EMPTY_BATCH_RULES = {
    "single_pass": RULES,
    "per_sink": [r for r in RULES if r[1] != "true"],
}


@pytest.mark.parametrize("case", sorted(EMPTY_BATCH_RULES))
def test_empty_batch_has_no_sink_counts(spark, tmp_path, case):
    tr = gen.transcripts(spark, 100).filter("false")
    out = str(tmp_path / "out")
    s = pipeline.run_batch(
        spark, tr, out, run_id="e", batch_id=0, rules=EMPTY_BATCH_RULES[case]
    )
    assert s["rows_in"] == 0 and s["sink_rows"] == {}
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert lineage.filter(F.col("stage").startswith("sink:")).count() == 0
    assert pipeline.completed_batches(spark, out, "e") == {0}


@pytest.mark.parametrize("case", sorted(ORACLE_CASES))
def test_written_sinks_and_counts_match_oracle(spark, tmp_path, case):
    """Every turn lands in exactly the sinks (with multiplicity: a turn
    matching two rules of one sink name is written twice) the oracle
    routes it to, and the summary and lineage totals are the oracle's."""
    rules, transform_fn, route_row = ORACLE_CASES[case]
    tr = gen.transcripts(spark, 1500)
    out = str(tmp_path / "out")
    s = pipeline.run_batch(
        spark, tr, out, run_id="o", batch_id=0, rules=rules,
        transform_fn=transform_fn,
    )

    want: dict = {}
    formats: Counter = Counter()
    parse_errors = zero_status = 0
    for r in tr.select("conv_id", "turn_idx", "role", "tool", "text").collect():
        n = oracle.parse_normalized(r["text"], r["role"])
        want[(r["conv_id"], r["turn_idx"])] = Counter(route_row(n, r["tool"]))
        formats[n["format"]] += 1
        parse_errors += n["src_service"] == ""
        zero_status += n["status_code"] == 0
    assert len(want) == 1500
    if transform_fn is not None:
        # the shared sink name and the NULL predicate are really exercised
        assert any(c["sink_mixed"] == 2 for c in want.values())
        assert zero_status > 0

    written = spark.read.parquet(os.path.join(out, "sinks_by", "batch_id=0"))
    got: dict = {}
    for r in written.select("conv_id", "turn_idx", "sink").collect():
        got.setdefault((r["conv_id"], r["turn_idx"]), Counter())[r["sink"]] += 1
    assert got == want

    sink_rows = dict(sum(want.values(), Counter()))
    assert s["rows_in"] == 1500
    assert s["sink_rows"] == sink_rows
    assert s["format_counts"] == dict(formats)
    assert s["parse_errors"] == parse_errors

    lineage = spark.read.parquet(os.path.join(out, "lineage", "batch_id=0"))
    sinks = {
        r["stage"][len("sink:"):]: r["rows_out"]
        for r in lineage.filter(F.col("stage").startswith("sink:")).collect()
    }
    counters = {
        r["counter"]: r["value"] for r in lineage.filter("stage = 'counters'").collect()
    }
    assert sinks == sink_rows
    assert counters == {
        "events_received_total": 1500,
        "parse_errors_total": parse_errors,
        **{f"parse_total_{f}": k for f, k in formats.items()},
        **{f"sink_rows_{sink}": k for sink, k in sink_rows.items()},
    }


def test_lineage_replay_leaves_one_identical_file(spark, tmp_path):
    tr = gen.transcripts(spark, 1000)
    out = str(tmp_path / "out")
    part = os.path.join(out, "lineage", "batch_id=3")
    s = pipeline.run_batch(spark, tr, out, run_id="l", batch_id=3)
    first = sorted(map(tuple, spark.read.parquet(part).collect()))
    pipeline.run_batch(spark, tr, out, run_id="l", batch_id=3)  # replay
    assert len(_data_files(part)) == 1
    again = sorted(map(tuple, spark.read.parquet(part).collect()))
    assert again == first

    lineage = spark.read.parquet(part)
    sinks = {
        r["stage"][len("sink:"):]: r["rows_out"]
        for r in lineage.filter(F.col("stage").startswith("sink:")).collect()
    }
    counters = {
        r["counter"][len("sink_rows_"):]: r["value"]
        for r in lineage.filter(F.col("counter").startswith("sink_rows_")).collect()
    }
    assert sinks == counters == s["sink_rows"]
    parse_rows = lineage.filter("stage = 'parse'").agg(F.sum("rows_out")).first()[0]
    assert parse_rows == 1000
    assert {r["partition_id"] for r in lineage.collect()} == {-1}


# Spark jobs one run_batch launches over gen.transcripts(spark, 1000) at
# local[4] with the default rules, as measured. AQE runs each shuffle
# map stage as its own job: the turn_rank shuffle (1), the sink write
# (1), the windowed sink counts' shuffle and write (2), and the edge
# aggregate's shuffle and write (2; a 1000-row batch takes the
# one-shuffle ring). The lineage commit is a driver-side file write and
# runs none. It was 14 while sink counts were a groupBy/cache/collect
# over the written rows and the lookup and lineage frames were Python
# RDDs, 9 while lineage was a Spark write and every batch ran the
# two-phase ring, and 7 while the roles lookup was a broadcast join
# (its broadcast ran one job per execution; it is now compiled into the
# projection).
JOB_BUDGET = 6
# Spark jobs per epoch of run_stream (one 1000-turn file per epoch):
# run_batch's 6 less the turn_rank shuffle, which streamed rows do not
# carry. Counted as perfbench counts them: every job in the query's
# run-id job group, divided by the committed epochs. It was 6 while the
# roles lookup's broadcast ran a job in every epoch.
STREAM_EPOCH_JOB_BUDGET = 5


def test_run_batch_job_budget(spark, tmp_path):
    sc = spark.sparkContext
    tr = gen.transcripts(spark, 1000)
    group = "test-run-batch-job-budget"
    sc.setJobGroup(group, "run_batch job budget")
    try:
        s = pipeline.run_batch(spark, tr, str(tmp_path / "out"), run_id="j", batch_id=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert s["rows_in"] == 1000
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= JOB_BUDGET


def test_run_stream_epoch_job_budget(spark, tmp_path):
    in_dir, out = str(tmp_path / "in"), str(tmp_path / "out")
    gen.transcripts(spark, 3000).repartition(3).write.parquet(in_dir)
    q = streaming.run_stream(
        spark, in_dir, out, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    q.awaitTermination(180)
    epochs = len(pipeline.completed_batches(spark, out))
    assert epochs == 3
    jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))
    assert 0 < jobs / epochs <= STREAM_EPOCH_JOB_BUDGET, jobs


def test_small_driver_frames_stay_in_the_jvm(spark):
    for df in (gen.lookup_roles(spark), gen.lookup_hosts(spark)):
        plan = plan_string(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    lineage = pipeline.lineage_rows(
        "r", 10, {"sink_a": 4}, [("events_received_total", 10)]
    )
    assert lineage == [
        ("r", "parse", -1, 10, 10, None, None),
        ("r", "sink:sink_a", -1, 10, 4, None, None),
        ("r", "counters", -1, 10, None, "events_received_total", 10),
    ]


def test_lineage_commit_failing_before_rename_replays_once(spark, tmp_path, monkeypatch):
    """A crash between the lineage temp-file write and its rename leaves
    only the ``_``-prefixed temp file, which readers skip: the batch is
    not committed, and the replay commits it exactly once."""
    tr = gen.transcripts(spark, 500)
    out = str(tmp_path / "out")
    part = os.path.join(out, "lineage", "batch_id=2")

    def crash(fs, tmp, final):
        raise RuntimeError("crash before rename")

    with monkeypatch.context() as m:
        m.setattr(compaction, "_publish", crash)
        with pytest.raises(RuntimeError, match="before rename"):
            pipeline.run_batch(spark, tr, out, run_id="x", batch_id=2)
    assert [f for f in os.listdir(part) if not f.startswith(".")] == [
        "_part-00000.lz4.parquet.tmp"
    ]
    assert pipeline.completed_batches(spark, out, "x") == set()

    s = pipeline.run_batch(spark, tr, out, run_id="x", batch_id=2)  # replay
    assert pipeline.completed_batches(spark, out, "x") == {2}
    assert _data_files(part) == ["part-00000.lz4.parquet"]
    assert not [f for f in os.listdir(part) if f.startswith("_")]
    events = (
        spark.read.parquet(os.path.join(out, "lineage"))
        .filter("counter = 'events_received_total'")
        .collect()
    )
    assert [(r["batch_id"], r["value"]) for r in events] == [(2, 500)]
    assert s["rows_in"] == 500
