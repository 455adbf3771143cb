"""run_batch's per-sink counts, lineage commit and fixed cost per batch.

Per-sink row counts ride the write pass as ``observe()`` metrics, and
lineage is one driver-built file per batch. These tests hold both to
the routed rows actually written, and guard the job budget that
motivated them.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from logshipper_spark import gen, pipeline, route

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


@pytest.mark.parametrize("mode", ["single_pass", "per_sink"])
def test_empty_batch_has_no_sink_counts(spark, tmp_path, mode):
    tr = gen.transcripts(spark, 100).filter("false")
    out = str(tmp_path / "out")
    s = pipeline.run_batch(
        spark, tr, out, run_id="e", batch_id=0, rules=RULES, sink_write_mode=mode
    )
    assert s["rows_in"] == 0 and s["sink_rows"] == {}
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert lineage.filter(F.col("stage").startswith("sink:")).count() == 0
    assert pipeline.completed_batches(spark, out, "e") == {0}


def test_per_sink_counts_match_single_pass(spark, tmp_path):
    tr = gen.transcripts(spark, 1500)
    a, b = (
        pipeline.run_batch(
            spark, tr, str(tmp_path / mode), run_id="p", batch_id=0, rules=RULES,
            sink_write_mode=mode, transform_fn=_null_zero_status,
        )
        for mode in ("per_sink", "single_pass")
    )
    assert a["sink_rows"] == b["sink_rows"]
    assert a["format_counts"] == b["format_counts"]
    assert a["parse_errors"] == b["parse_errors"]
    # per_sink writes one table per sink name; a shared name holds the
    # rows of both its rules
    per_sink = {
        sink: spark.read.parquet(str(tmp_path / "per_sink" / "sinks" / sink)).count()
        for sink in a["sink_rows"]
    }
    assert per_sink == a["sink_rows"]
    # the lineage both modes commit is the same set of totals
    rows = [
        sorted(
            map(tuple, spark.read.parquet(str(tmp_path / mode / "lineage"))
                .drop("committed_at").collect())
        )
        for mode in ("per_sink", "single_pass")
    ]
    assert rows[0] == rows[1]


def test_unknown_sink_write_mode_is_refused(spark, tmp_path):
    with pytest.raises(ValueError, match="sink_write_mode"):
        pipeline.run_batch(
            spark, gen.transcripts(spark, 10), str(tmp_path / "o"),
            sink_write_mode="per-sink",
        )


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
# map stage as its own job: the sink write with its turn_rank shuffle,
# the windowed sink counts and the edge aggregate take 8, the lineage
# write 1. It was 14 while sink counts were a groupBy/cache/collect over
# the written rows and the lookup and lineage frames were Python RDDs.
JOB_BUDGET = 9


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


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_small_driver_frames_stay_in_the_jvm(spark):
    lineage = pipeline.lineage_frame(
        spark, "r", 10, {"sink_a": 4}, [("events_received_total", 10)]
    )
    for df in (gen.lookup_roles(spark), gen.lookup_hosts(spark), lineage):
        plan = _plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert [tuple(r)[:7] for r in lineage.collect()] == [
        ("r", "parse", -1, 10, 10, None, None),
        ("r", "sink:sink_a", -1, 10, 4, None, None),
        ("r", "counters", -1, 10, None, "events_received_total", 10),
    ]
