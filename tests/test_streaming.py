"""Streaming pipeline: exactly-once restart + watermarked aggregates.

Reference has no restart story (state dies with the process); the north
rule adds checkpoint/resume — these tests pin that behavior.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from logshipper_spark import gen, pipeline, route, streaming
from logshipper_spark.datapipe import compaction
from logshipper_spark.session import release_held


def _write_input(spark, path, n_turns, n_files):
    tr = gen.transcripts(spark, n_turns)
    tr.repartition(n_files).write.mode("overwrite").parquet(path)
    return tr


def _row_multiset(df, drop=()) -> Counter:
    """Every row of ``df`` as one JSON string over its columns in name
    order (map columns included), counted: a multiset that compares all
    columns without sorting rows that hold maps."""
    cols = sorted(c for c in df.columns if c not in drop)
    return Counter(
        r[0] for r in df.select(F.to_json(F.struct(*cols))).collect()
    )


def test_streamed_rows_equal_batch_rows(spark, tmp_path):
    """The streaming contract: over the same turns, the sink rows of all
    epochs equal run_batch's on every column except batch_id and
    turn_rank, and per-epoch sink_counts summed over batch_id equal
    the batch's."""
    input_dir = str(tmp_path / "in")
    out_s, out_b = str(tmp_path / "s"), str(tmp_path / "b")
    _write_input(spark, input_dir, 3000, 3)
    q = streaming.run_stream(
        spark, input_dir, out_s, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    q.awaitTermination(180)
    assert pipeline.completed_batches(spark, out_s) == {0, 1, 2}
    pipeline.run_batch(spark, spark.read.parquet(input_dir), out_b, run_id="b")

    streamed = spark.read.parquet(os.path.join(out_s, "sinks_by"))
    batch = spark.read.parquet(os.path.join(out_b, "sinks_by"))
    assert "turn_rank" not in streamed.columns and "turn_rank" in batch.columns
    assert set(streamed.columns) == set(batch.columns) - {"turn_rank"}
    s_rows = _row_multiset(streamed, drop=("batch_id",))
    assert s_rows == _row_multiset(batch, drop=("batch_id", "turn_rank"))
    assert sum(s_rows.values()) > 3000  # every turn, some in several sinks

    def summed_counts(out):
        key = ["sink", "conv_id", "window_start"]
        sums = (
            spark.read.parquet(os.path.join(out, "sink_counts"))
            .groupBy(*key)
            .agg(*[F.sum(c).alias(c) for c in
                   ("turn_count", "tool_call_count", "error_pattern_count")])
            .collect()
        )
        return {tuple(r[k] for k in key): tuple(r)[3:] for r in sums}

    s_counts = summed_counts(out_s)
    assert s_counts == summed_counts(out_b) and len(s_counts) > 0


def test_stream_key_scheme_vs_relative_colon():
    """Run-id canonicalization: real URI schemes hash verbatim, but a
    RELATIVE path that merely contains a colon must abspath — else a
    restart from a different cwd silently re-claims a directory Spark
    resolves to a different checkpoint location (ADVICE r3)."""
    import os

    from logshipper_spark.streaming import _stream_key

    assert _stream_key("hdfs://nn/cp") == "hdfs://nn/cp"
    assert _stream_key("s3a://b/cp") == "s3a://b/cp"
    assert _stream_key("file:/x/cp") == "file:/x/cp"
    # colon-bearing relative paths are NOT schemes
    assert _stream_key("ckpt:v2/cp") == os.path.abspath("ckpt:v2/cp")
    assert _stream_key("9p:/cp") == os.path.abspath("9p:/cp")
    assert _stream_key("/abs/cp") == "/abs/cp"


def test_run_stream_refuses_foreign_out_dir(spark, tmp_path):
    """Batch outputs are keyed by batch_id alone, so a NEW logical
    stream (fresh checkpoint) over a reused out_dir would overwrite the
    old run's batch_id=N partitions — run_stream refuses loudly. A
    restart with the SAME checkpoint keeps its derived run_id and
    resumes (covered by the drain/resume and chaos tests)."""
    import pytest

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    _write_input(spark, input_dir, 500, 1)
    q = streaming.run_stream(spark, input_dir, out_dir, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    assert len(pipeline.completed_batches(spark, out_dir)) == 1
    with pytest.raises(ValueError, match="ONE logical stream"):
        streaming.run_stream(spark, input_dir, out_dir, str(tmp_path / "ck2"))


def test_stream_drains_and_resumes(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_input(spark, input_dir, 2000, 4)

    q = streaming.run_stream(
        spark, input_dir, out_dir, ckpt, max_files_per_trigger=2
    )
    q.awaitTermination(120)

    done = pipeline.completed_batches(spark, out_dir)
    assert len(done) >= 2  # maxFilesPerTrigger=2 over 4 files → ≥2 epochs

    # all routed sink rows present exactly once across batches
    # (default single_pass layout: sinks_by/batch_id=N/sink=<name>)
    total = spark.read.parquet(os.path.join(out_dir, "sinks_by")).count()
    enr = pipeline.normalize_and_enrich(spark, spark.read.parquet(input_dir))
    expected = route.routed_rows(enr, gen.routing_rules()).count()
    assert total == expected

    # resume with new data: only the new file becomes a new batch
    more = gen.transcripts(spark, 3000).filter("turn_idx >= 20")  # disjoint-ish rows
    more.coalesce(1).write.mode("append").parquet(input_dir)
    q2 = streaming.run_stream(
        spark, input_dir, out_dir, ckpt, max_files_per_trigger=2
    )
    q2.awaitTermination(120)
    done2 = pipeline.completed_batches(spark, out_dir)
    assert len(done2) == len(done) + 1

    # lineage counters reconcile with input rows per batch
    lineage = spark.read.parquet(os.path.join(out_dir, "lineage"))
    got = (
        lineage.filter("counter = 'events_received_total'")
        .agg(F.sum("value"))
        .first()[0]
    )
    assert got == spark.read.parquet(input_dir).count()


def test_streaming_sink_counts_watermark(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "agg")
    ckpt = str(tmp_path / "ckpt2")
    _write_input(spark, input_dir, 2000, 2)

    q = streaming.streaming_sink_counts(spark, input_dir, out_dir, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    # append mode only emits windows sealed by the watermark; every emitted
    # row must match the batch-mode aggregate for its (sink, conv, window)
    enr = pipeline.normalize_and_enrich(spark, spark.read.parquet(input_dir))
    batch = route.sink_counts(
        route.routed_rows(enr, gen.routing_rules()), ts_col="ts"
    )
    joined = got.join(
        batch.withColumnRenamed("turn_count", "expected_turns"),
        ["sink", "conv_id", "window_start"],
        "left",
    )
    assert joined.filter("expected_turns IS NULL").count() == 0
    assert joined.filter("turn_count <> expected_turns").count() == 0
    assert got.count() > 0


def test_streaming_first_seen_exactly_once(spark, tmp_path):
    """New-edge stream: each (src, dst, op) emitted once across epochs
    and restarts; key set equals the batch distinct-edge set."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "fs")
    ckpt = str(tmp_path / "ckfs")
    _write_input(spark, input_dir, 2000, 2)

    q = streaming.streaming_first_seen(spark, input_dir, out_dir, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    keys = [(r["src"], r["dst"], r["op"]) for r in got.collect()]
    assert len(keys) == len(set(keys))  # exactly once

    enr = pipeline.normalize_and_enrich(spark, spark.read.parquet(input_dir))
    want = {
        (r["src_service"], r["dst_service"], r["operation"])
        for r in enr.filter("src_service <> '' AND dst_service <> ''")
        .select("src_service", "dst_service", "operation").distinct().collect()
    }
    assert set(keys) == want

    # restart with more data: only genuinely new edges are appended
    gen.transcripts(spark, 6000).filter("turn_idx >= 20").coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)
    q2 = streaming.streaming_first_seen(spark, input_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    keys2 = [
        (r["src"], r["dst"], r["op"])
        for r in spark.read.parquet(out_dir).collect()
    ]
    assert len(keys2) == len(set(keys2))
    assert set(keys) <= set(keys2)


def test_streaming_exact_dedup(spark, tmp_path):
    """Streaming document dedup: each distinct text emitted once within
    the TTL horizon, across epochs and restarts (same 128-bit key as
    the batch exact_dedup)."""
    input_dir = str(tmp_path / "docs_in")
    out_dir = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "docs_ck")
    schema = "doc_id long, text string, ts timestamp"
    base = [
        (1, "alpha beta gamma", "2024-03-01 00:00:00"),
        (2, "alpha beta gamma", "2024-03-01 00:00:10"),  # dup of 1
        (3, "delta epsilon", "2024-03-01 00:00:20"),
    ]
    spark.createDataFrame(
        [(i, t, __import__("datetime").datetime.fromisoformat(ts)) for i, t, ts in base],
        schema,
    ).coalesce(1).write.mode("append").parquet(input_dir)

    q = streaming.streaming_exact_dedup(
        spark, input_dir, out_dir, ckpt, schema=schema, ttl="1 hour"
    )
    q.awaitTermination(120)
    got = spark.read.schema(schema).parquet(out_dir)
    texts = [r["text"] for r in got.collect()]
    assert sorted(texts) == ["alpha beta gamma", "delta epsilon"]

    # restart with one dup of an already-seen text and one new text
    more = [
        (4, "alpha beta gamma", "2024-03-01 00:10:00"),  # still in TTL → dropped
        (5, "zeta eta", "2024-03-01 00:10:05"),
    ]
    spark.createDataFrame(
        [(i, t, __import__("datetime").datetime.fromisoformat(ts)) for i, t, ts in more],
        schema,
    ).coalesce(1).write.mode("append").parquet(input_dir)
    q2 = streaming.streaming_exact_dedup(
        spark, input_dir, out_dir, ckpt, schema=schema, ttl="1 hour"
    )
    q2.awaitTermination(120)
    texts2 = sorted(
        r["text"] for r in spark.read.schema(schema).parquet(out_dir).collect()
    )
    assert texts2 == ["alpha beta gamma", "delta epsilon", "zeta eta"]


def test_streaming_near_dedup(spark, tmp_path):
    """Streaming NEAR-dup dedup against the growing MinHash index:
    batch-internal lower-id losers drop, survivors' signatures become
    index state, and a later epoch's near-copy of ANY kept document
    drops — across a restart (new query, same checkpoint + index)."""
    input_dir = str(tmp_path / "nd_in")
    out_dir = str(tmp_path / "nd_out")
    ckpt = str(tmp_path / "nd_ck")
    idx = str(tmp_path / "nd_idx")
    schema = "doc_id long, text string"
    long_a = " ".join(f"alpha{i} tok{i} word{i}" for i in range(12))
    long_b = " ".join(f"beta{i} item{i} unit{i}" for i in range(12))
    spark.createDataFrame(
        [(1, long_a), (2, long_a), (3, long_b)], schema
    ).coalesce(1).write.mode("append").parquet(input_dir)

    q = streaming.streaming_near_dedup(
        spark, input_dir, out_dir, ckpt, idx, schema=schema
    )
    q.awaitTermination(180)
    kept = sorted(
        r["doc_id"] for r in spark.read.schema(schema).parquet(out_dir).collect()
    )
    assert kept == [1, 3]  # 2 is the batch-internal higher-id loser
    assert compaction.committed_batches(spark, idx) == {0}

    # epoch 2 after restart: exact copy of an indexed doc drops, a
    # one-token edit of an indexed doc drops (NEAR dup), fresh survives
    near_b = long_b.replace("item5", "CHANGED")
    fresh = " ".join(f"gamma{i} new{i} page{i}" for i in range(12))
    spark.createDataFrame(
        [(10, long_a), (11, near_b), (12, fresh)], schema
    ).coalesce(1).write.mode("append").parquet(input_dir)
    q2 = streaming.streaming_near_dedup(
        spark, input_dir, out_dir, ckpt, idx, schema=schema
    )
    q2.awaitTermination(180)
    kept2 = sorted(
        r["doc_id"] for r in spark.read.schema(schema).parquet(out_dir).collect()
    )
    assert kept2 == [1, 3, 12]
    # index state = the kept corpus, one sig row per survivor
    sig_ids = sorted(
        r["doc_id"]
        for r in spark.read.schema("doc_id long, sig array<long>")
        .parquet(idx + "/sigs")
        .select("doc_id")
        .collect()
    )
    assert sig_ids == [1, 3, 12]
    release_held()


def test_streaming_near_dedup_crash_in_commit_gap(spark, tmp_path):
    """Crash AFTER the batch committed (outputs + index + marker) but
    BEFORE Spark's checkpoint records the epoch: the replay must skip
    cleanly — in particular the replayed batch must NOT see its own
    index partition and drop itself as a near-dup."""
    input_dir = str(tmp_path / "cg_in")
    out_dir = str(tmp_path / "cg_out")
    ckpt = str(tmp_path / "cg_ck")
    idx = str(tmp_path / "cg_idx")
    schema = "doc_id long, text string"
    long_a = " ".join(f"alpha{i} tok{i} word{i}" for i in range(12))
    spark.createDataFrame([(1, long_a)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)

    def boom(batch_id: int) -> None:
        raise RuntimeError(f"chaos: crash after commit of batch {batch_id}")

    q = streaming.streaming_near_dedup(
        spark, input_dir, out_dir, ckpt, idx, schema=schema, chaos=boom
    )
    try:
        q.awaitTermination(180)
    except Exception:
        pass  # the injected crash surfaces through the stream
    assert compaction.committed_batches(spark, idx) == {0}

    # restart without chaos: epoch replays, batch skips (marker), and
    # the output still holds the survivor exactly once
    q2 = streaming.streaming_near_dedup(
        spark, input_dir, out_dir, ckpt, idx, schema=schema
    )
    q2.awaitTermination(180)
    got = spark.read.schema(schema).parquet(out_dir).collect()
    assert [r["doc_id"] for r in got] == [1]


def _edge_turns(spark, day, svc_pairs):
    """Transcript rows whose JSON text parses to the given (src, dst)
    edges with event time on the given day of 2024-03."""
    rows = []
    for i, (src, dst) in enumerate(svc_pairs):
        text = (
            f'{{"timestamp":"2024-03-{day:02d}T00:00:{i:02d}.000Z",'
            f'"service":"{src}","dst_service":"{dst}",'
            f'"operation":"op","level":"info","status_code":200,"latency_ms":5}}'
        )
        rows.append((f"c{day}", i, "user", text, "", None))
    from datetime import datetime

    return spark.createDataFrame(
        [(c, t, r, x, tl, datetime(2024, 3, day, 0, 0, i)) for i, (c, t, r, x, tl, _) in enumerate(rows)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def test_streaming_first_seen_ttl_reappearance(spark, tmp_path):
    """With a TTL, an edge that goes quiet past the watermark is state-
    evicted and its re-appearance is a NEW edge event (streaming twin of
    edge_sessions / graph.go TTL eviction)."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "fs")
    ckpt = str(tmp_path / "ck")

    def drain(df):
        df.coalesce(1).write.mode("append").parquet(input_dir)
        q = streaming.streaming_first_seen(
            spark, input_dir, out_dir, ckpt, ttl="1 day"
        )
        q.awaitTermination(120)

    drain(_edge_turns(spark, 1, [("A", "B")]))          # day 1: A->B appears
    drain(_edge_turns(spark, 3, [("C", "D")]))          # day 3: watermark passes day 1+TTL
    drain(_edge_turns(spark, 5, [("A", "B")]))          # day 5: A->B re-appears -> new again
    got = [
        (r["src"], r["dst"], r["first_seen"].day)
        for r in spark.read.parquet(out_dir).collect()
    ]
    assert ("A", "B", 1) in got and ("A", "B", 5) in got and ("C", "D", 3) in got
    assert len(got) == 3


def test_batch_replay_is_idempotent(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    tr = gen.transcripts(spark, 1000)
    r1 = pipeline.run_batch(spark, tr, out_dir, run_id="r", batch_id=7)
    r2 = pipeline.run_batch(spark, tr, out_dir, run_id="r", batch_id=7)  # replay
    assert r1["sink_rows"] == r2["sink_rows"]
    on_disk = (
        spark.read.parquet(os.path.join(out_dir, "sinks_by", "batch_id=7"))
        .groupBy("sink").count().collect()
    )
    assert {r["sink"]: r["count"] for r in on_disk} == r1["sink_rows"]
    # lineage/counters must NOT double-append on replay (exactly-once)
    lineage = spark.read.parquet(os.path.join(out_dir, "lineage"))
    got = (
        lineage.filter("counter = 'events_received_total'")
        .agg(F.sum("value"))
        .first()[0]
    )
    assert got == 1000


def test_stream_crash_in_commit_gap_is_exactly_once(spark, tmp_path):
    """Chaos drill (deterministic): kill the stream AFTER batch 0's
    sinks+lineage committed but BEFORE the streaming checkpoint records
    the epoch — the worst-case window, where a naive pipeline would
    re-run the batch on restart and double-commit counters. Assert the
    resumed run's outputs are identical to an uninterrupted run."""
    import pytest as _pytest

    input_dir = str(tmp_path / "in")
    ckpt_a = str(tmp_path / "cka")
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    _write_input(spark, input_dir, 3000, 3)

    armed = {"on": True}

    def chaos(batch_id: int) -> None:
        if armed["on"]:
            armed["on"] = False
            raise RuntimeError("chaos: crash in the commit gap")

    q = streaming.run_stream(
        spark, input_dir, out_a, ckpt_a, max_files_per_trigger=1, chaos=chaos
    )
    with _pytest.raises(Exception, match="chaos"):
        q.awaitTermination()

    # resume: the killed epoch replays; its lineage says done -> skipped
    q2 = streaming.run_stream(spark, input_dir, out_a, ckpt_a, max_files_per_trigger=1)
    q2.awaitTermination(180)

    # uninterrupted control run over the same input
    q3 = streaming.run_stream(
        spark, input_dir, out_b, str(tmp_path / "ckb"), max_files_per_trigger=1
    )
    q3.awaitTermination(180)

    # counters committed exactly once (sum == input rows, same as control)
    def counter_sum(out):
        return (
            spark.read.parquet(os.path.join(out, "lineage"))
            .filter("counter = 'events_received_total'")
            .agg(F.sum("value")).first()[0]
        )

    n_input = spark.read.parquet(input_dir).count()
    assert counter_sum(out_a) == n_input
    assert counter_sum(out_b) == n_input

    # sink contents identical to the uninterrupted run: the full row
    # multiset, every written column
    a_rows = _row_multiset(spark.read.parquet(os.path.join(out_a, "sinks_by")))
    b_rows = _row_multiset(spark.read.parquet(os.path.join(out_b, "sinks_by")))
    assert a_rows == b_rows and sum(a_rows.values()) > 0


def test_single_pass_empty_batch_does_not_crash(spark, tmp_path):
    """An all-empty batch writes no data files; the schema-pinned
    read-back must yield an empty frame, not an inference error (this
    is the streaming no-matching-rows micro-batch case)."""
    tr = gen.transcripts(spark, 100).filter("false")
    s = pipeline.run_batch(spark, tr, str(tmp_path / "out"), run_id="e", batch_id=0)
    assert s["rows_in"] == 0
    assert s["sink_rows"] == {}


def test_streaming_substr_screen(spark, tmp_path):
    """Streaming substring screening against the growing fingerprint
    index: epoch 1 populates the index; a later epoch's page that is
    mostly a kept passage (high contamination) drops, a fresh page and
    a lightly-contaminated page survive — across a restart (new query,
    same checkpoint + index)."""
    input_dir = str(tmp_path / "ss_in")
    out_dir = str(tmp_path / "ss_out")
    ckpt = str(tmp_path / "ss_ck")
    idx = str(tmp_path / "ss_idx")
    schema = "doc_id long, text string"
    passage = " ".join(f"alpha{i} tok{i} word{i}" for i in range(12))
    other = " ".join(f"beta{i} item{i} unit{i}" for i in range(12))
    spark.createDataFrame([(1, passage), (2, other)], schema).coalesce(
        1
    ).write.mode("append").parquet(input_dir)

    q = streaming.streaming_substr_screen(
        spark, input_dir, out_dir, ckpt, idx, schema=schema, w=4, window=3
    )
    q.awaitTermination(180)
    kept = sorted(
        r["doc_id"] for r in spark.read.schema(schema).parquet(out_dir).collect()
    )
    assert kept == [1, 2]  # empty index: everything passes epoch 1
    assert compaction.committed_batches(spark, idx) == {0}

    # epoch 2: a near-copy of the kept passage (mostly contaminated)
    # drops; a page quoting only a short prefix of it survives; fresh
    # content survives
    mostly_copy = passage + " trailing new bit"
    light_quote = (
        " ".join(passage.split()[:6])
        + " "
        + " ".join(f"gamma{i} own{i} text{i}" for i in range(12))
    )
    fresh = " ".join(f"delta{i} page{i} new{i}" for i in range(12))
    spark.createDataFrame(
        [(10, mostly_copy), (11, light_quote), (12, fresh)], schema
    ).coalesce(1).write.mode("append").parquet(input_dir)
    q2 = streaming.streaming_substr_screen(
        spark, input_dir, out_dir, ckpt, idx, schema=schema, w=4, window=3
    )
    q2.awaitTermination(180)
    kept2 = sorted(
        r["doc_id"] for r in spark.read.schema(schema).parquet(out_dir).collect()
    )
    assert kept2 == [1, 2, 11, 12]
    # replay idempotence: a third run with the drained checkpoint adds
    # nothing and the committed set is exactly the two epochs
    q3 = streaming.streaming_substr_screen(
        spark, input_dir, out_dir, ckpt, idx, schema=schema, w=4, window=3
    )
    q3.awaitTermination(180)
    kept3 = sorted(
        r["doc_id"] for r in spark.read.schema(schema).parquet(out_dir).collect()
    )
    assert kept3 == kept2
    assert compaction.committed_batches(spark, idx) == {0, 1}
    # index state: survivors' fingerprints only (dropped doc 10 absent)
    n_grams = (
        spark.read.schema("gram_hash long").parquet(idx + "/grams").count()
    )
    assert n_grams > 0


def test_streaming_substr_screen_crash_in_commit_gap(spark, tmp_path):
    """Crash AFTER the screen committed (output + index + marker) but
    BEFORE the checkpoint records the epoch: the replay must skip
    cleanly — in particular the replayed batch must NOT see its own
    fingerprint partition and drop itself as 100%-contaminated."""
    input_dir = str(tmp_path / "sg_in")
    out_dir = str(tmp_path / "sg_out")
    ckpt = str(tmp_path / "sg_ck")
    idx = str(tmp_path / "sg_idx")
    schema = "doc_id long, text string"
    passage = " ".join(f"alpha{i} tok{i} word{i}" for i in range(12))
    spark.createDataFrame([(1, passage)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)

    def boom(batch_id: int) -> None:
        raise RuntimeError(f"chaos: crash after commit of batch {batch_id}")

    q = streaming.streaming_substr_screen(
        spark, input_dir, out_dir, ckpt, idx, schema=schema, w=4, window=3,
        chaos=boom,
    )
    try:
        q.awaitTermination(180)
    except Exception:
        pass  # the injected crash surfaces through the stream
    assert compaction.committed_batches(spark, idx) == {0}

    q2 = streaming.streaming_substr_screen(
        spark, input_dir, out_dir, ckpt, idx, schema=schema, w=4, window=3
    )
    q2.awaitTermination(180)
    got = spark.read.schema(schema).parquet(out_dir).collect()
    assert [r["doc_id"] for r in got] == [1]


def test_streaming_semantic_dedup(spark, tmp_path):
    """Streaming SEMANTIC dedup against the growing cell-partitioned
    vector index: batch-internal lower-id semantic losers drop,
    survivors' vectors become index state, and a later epoch's
    semantic near-copy of ANY kept vector drops — across a restart
    (new query, same checkpoint + index). Cross-cell near-copies
    survive (the documented cell-blindness trade)."""
    import math

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    input_dir = str(tmp_path / "sd_in")
    out_dir = str(tmp_path / "sd_out")
    ckpt = str(tmp_path / "sd_ck")
    idx = str(tmp_path / "sd_idx")
    schema = "vec_id long, embedding array<double>"
    cents = [[1.0, 0.0], [0.0, 1.0]]
    spark.createDataFrame(
        [(1, unit(2.0)), (2, unit(3.0)), (3, unit(88.0))], schema
    ).coalesce(1).write.mode("append").parquet(input_dir)

    q = streaming.streaming_semantic_dedup(
        spark, input_dir, out_dir, ckpt, idx, schema=schema,
        centroids=cents, threshold=0.99,
    )
    q.awaitTermination(180)
    kept = sorted(
        r["vec_id"] for r in spark.read.schema(schema).parquet(out_dir).collect()
    )
    assert kept == [1, 3]  # 2 is the batch-internal higher-id loser
    assert compaction.committed_batches(spark, idx) == {0}

    # epoch 2 after restart: a near-copy of an indexed vector drops,
    # a genuinely new direction survives
    spark.createDataFrame(
        [(10, unit(1.0)), (11, unit(45.0))], schema
    ).coalesce(1).write.mode("append").parquet(input_dir)
    q2 = streaming.streaming_semantic_dedup(
        spark, input_dir, out_dir, ckpt, idx, schema=schema,
        centroids=cents, threshold=0.99,
    )
    q2.awaitTermination(180)
    kept2 = sorted(
        r["vec_id"] for r in spark.read.schema(schema).parquet(out_dir).collect()
    )
    assert kept2 == [1, 3, 11]
    # index state = the kept vectors, one row each, cell-partitioned
    vec_ids = sorted(
        r["vec_id"]
        for r in spark.read.schema(schema).parquet(idx + "/vectors").collect()
    )
    assert vec_ids == [1, 3, 11]
    release_held()


def test_streaming_semantic_dedup_crash_in_commit_gap(spark, tmp_path):
    """Crash AFTER commit, BEFORE the checkpoint epoch: the replay must
    skip via the marker — the replayed batch must NOT see its own index
    partition and drop itself as a semantic dup of itself."""
    input_dir = str(tmp_path / "sg_in")
    out_dir = str(tmp_path / "sg_out")
    ckpt = str(tmp_path / "sg_ck")
    idx = str(tmp_path / "sg_idx")
    schema = "vec_id long, embedding array<double>"
    spark.createDataFrame([(1, [1.0, 0.0])], schema).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)

    def boom(batch_id: int) -> None:
        raise RuntimeError(f"chaos: crash after commit of batch {batch_id}")

    q = streaming.streaming_semantic_dedup(
        spark, input_dir, out_dir, ckpt, idx, schema=schema,
        centroids=[[1.0, 0.0]], threshold=0.99, chaos=boom,
    )
    try:
        q.awaitTermination(180)
    except Exception:
        pass  # the injected crash surfaces through the stream
    assert compaction.committed_batches(spark, idx) == {0}

    q2 = streaming.streaming_semantic_dedup(
        spark, input_dir, out_dir, ckpt, idx, schema=schema,
        centroids=[[1.0, 0.0]], threshold=0.99,
    )
    q2.awaitTermination(180)
    got = spark.read.schema(schema).parquet(out_dir).collect()
    assert [r["vec_id"] for r in got] == [1]
    release_held()


def test_streaming_conv_stats_sessions(spark, tmp_path):
    """Watermarked session rollup: every emitted conversation session
    equals the batch conv_stats row over the same turns (gen's 2 s turn
    step < the 5 min gap, so each conversation is exactly one session),
    and each session is emitted exactly once."""
    from logshipper_spark import transcript

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "cs")
    ckpt = str(tmp_path / "ckcs")
    _write_input(spark, input_dir, 2000, 2)

    q = streaming.streaming_conv_stats(spark, input_dir, out_dir, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    rows = got.collect()
    assert len(rows) > 0
    # exactly one emission per (conv, session); one session per conv here
    keys = [(r["conv_id"], r["session_start"]) for r in rows]
    assert len(keys) == len(set(keys))
    assert len({r["conv_id"] for r in rows}) == len(rows)

    batch = {
        r["conv_id"]: r.asDict()
        for r in transcript.conv_stats(
            spark.read.parquet(input_dir)
        ).collect()
    }
    for r in rows:
        b = batch[r["conv_id"]]
        for col in (
            "n_turns", "max_turn_idx", "user_turns", "assistant_turns",
            "system_turns", "tool_turns", "tool_calls", "distinct_tools",
            "first_ts", "last_ts", "duration_s",
        ):
            assert r[col] == b[col], (r["conv_id"], col, r[col], b[col])
        # session bounds bracket the turns: start = first turn,
        # end = last turn + gap
        assert r["session_start"] == b["first_ts"]
        assert (r["session_end"] - b["last_ts"]).total_seconds() == 300.0


def test_streaming_asof_enrich_pins_state_epoch(spark, tmp_path):
    """Crash drill for the stream-table as-of: batch 0 pins state epoch
    {0}, crashes before writing output, and the state table GROWS while
    it is down. The replay must enrich with the PINNED view (ver 1),
    not the grown one; the next batch pins {0,1} and sees ver 2."""
    from datetime import datetime

    input_dir = str(tmp_path / "asof_in")
    state_dir = str(tmp_path / "asof_state")
    out_dir = str(tmp_path / "asof_out")
    ckpt = str(tmp_path / "asof_ck")
    schema = "pid long, key string, ts timestamp_ntz"
    st_schema = "key string, ts timestamp_ntz, ver long"
    t0 = datetime(2024, 6, 1, 12, 0, 0)

    def probe(pid):
        return spark.createDataFrame(
            [(pid, "a", datetime(2024, 6, 1, 12, 0, 10))], schema
        )

    streaming.asof_state_append(
        spark, spark.createDataFrame([("a", t0, 1)], st_schema), state_dir, 0
    )
    probe(1).coalesce(1).write.mode("append").parquet(input_dir)

    def boom(batch_id, stage):
        if stage == "pinned":
            raise RuntimeError(f"chaos: crash after pin of batch {batch_id}")

    q = streaming.streaming_asof_enrich(
        spark, input_dir, state_dir, out_dir, ckpt,
        schema=schema, state_schema=st_schema, keys=["key"],
        payloads=["ver"], chaos=boom,
    )
    try:
        q.awaitTermination(180)
    except Exception:
        pass  # the injected crash surfaces through the stream

    # state grows while the stream is down: a later version whose ts
    # STILL precedes the probe ts — the un-pinned recompute trap
    streaming.asof_state_append(
        spark,
        spark.createDataFrame([("a", datetime(2024, 6, 1, 12, 0, 1), 2)], st_schema),
        state_dir,
        1,
    )
    q2 = streaming.streaming_asof_enrich(
        spark, input_dir, state_dir, out_dir, ckpt,
        schema=schema, state_schema=st_schema, keys=["key"], payloads=["ver"],
    )
    q2.awaitTermination(180)

    probe(2).coalesce(1).write.mode("append").parquet(input_dir)
    q3 = streaming.streaming_asof_enrich(
        spark, input_dir, state_dir, out_dir, ckpt,
        schema=schema, state_schema=st_schema, keys=["key"], payloads=["ver"],
    )
    q3.awaitTermination(180)

    out_schema = "pid long, key string, ts timestamp_ntz, asof_ts timestamp_ntz, ver long"
    got = {
        r["pid"]: r["ver"]
        for r in spark.read.schema(out_schema).parquet(out_dir).collect()
    }
    assert got == {1: 1, 2: 2}


def test_streaming_asof_enrich_pins_empty_state(spark, tmp_path):
    """A stream that starts before any state epoch is committed pins
    the empty set as a zero-row pin file. Its batch crashes after the
    pin, state epoch 0 lands, and the replay reuses the empty pin: the
    probe row is written once with a NULL payload."""
    from datetime import datetime

    import pyarrow.parquet as pq

    input_dir = str(tmp_path / "asof_in")
    state_dir = str(tmp_path / "asof_state")
    out_dir = str(tmp_path / "asof_out")
    ckpt = str(tmp_path / "asof_ck")
    schema = "pid long, key string, ts timestamp_ntz"
    st_schema = "key string, ts timestamp_ntz, ver long"
    spark.createDataFrame(
        [(1, "a", datetime(2024, 6, 1, 12, 0, 10))], schema
    ).coalesce(1).write.mode("append").parquet(input_dir)

    def boom(batch_id, stage):
        if stage == "pinned":
            raise RuntimeError(f"chaos: crash after pin of batch {batch_id}")

    kw = dict(schema=schema, state_schema=st_schema, keys=["key"], payloads=["ver"])
    q = streaming.streaming_asof_enrich(
        spark, input_dir, state_dir, out_dir, ckpt, chaos=boom, **kw
    )
    try:
        q.awaitTermination(180)
    except Exception:
        pass  # the injected crash surfaces through the stream

    pin_dir = tmp_path / "asof_out" / "_epoch_pins" / "batch_id=0"
    pins = [f for f in os.listdir(pin_dir) if not f.startswith(("_", "."))]
    assert len(pins) == 1
    pin = pq.read_table(pin_dir / pins[0])
    assert pin.num_rows == 0 and pin.column_names == ["state_batch_id"]

    streaming.asof_state_append(
        spark,
        spark.createDataFrame([("a", datetime(2024, 6, 1, 12, 0, 1), 2)], st_schema),
        state_dir,
        0,
    )
    q2 = streaming.streaming_asof_enrich(spark, input_dir, state_dir, out_dir, ckpt, **kw)
    q2.awaitTermination(180)

    out_schema = "pid long, key string, ts timestamp_ntz, asof_ts timestamp_ntz, ver long"
    got = [
        (r["pid"], r["ver"])
        for r in spark.read.schema(out_schema).parquet(out_dir).collect()
    ]
    assert got == [(1, None)]


def test_streaming_asof_enrich_pins_foreign_checkpoint_refused(spark, tmp_path):
    """The epoch pins under ``out_dir`` belong to ONE logical stream: a
    second checkpoint over the same ``out_dir`` is refused before any
    batch runs (its batch ids would reuse the first stream's pins and
    enrich new rows against a stale state view), while the same
    checkpoint resumes. The state table no stream owns carries NULL
    run ids."""
    from datetime import datetime

    input_dir = str(tmp_path / "asof_in")
    state_dir = str(tmp_path / "asof_state")
    out_dir = str(tmp_path / "asof_out")
    pins = os.path.join(out_dir, "_epoch_pins")
    schema = "pid long, key string, ts timestamp_ntz"
    st_schema = "key string, ts timestamp_ntz, ver long"
    kw = dict(schema=schema, state_schema=st_schema, keys=["key"], payloads=["ver"])

    def probe(pid):
        spark.createDataFrame(
            [(pid, "a", datetime(2024, 6, 1, 12, 0, 10))], schema
        ).coalesce(1).write.mode("append").parquet(input_dir)

    streaming.asof_state_append(
        spark,
        spark.createDataFrame([("a", datetime(2024, 6, 1, 12, 0, 0), 1)], st_schema),
        state_dir,
        0,
    )
    assert compaction.commit_runs(
        spark, os.path.join(state_dir, "_commits")
    ) == {None: {0}}
    probe(1)
    ckpt_a = str(tmp_path / "asof_ck_a")
    streaming.streaming_asof_enrich(
        spark, input_dir, state_dir, out_dir, ckpt_a, **kw
    ).awaitTermination(180)
    assert compaction.committed_batches(spark, pins) == {0}

    # the same checkpoint resumes: the next probe file is batch 1
    probe(2)
    streaming.streaming_asof_enrich(
        spark, input_dir, state_dir, out_dir, ckpt_a, **kw
    ).awaitTermination(180)
    assert compaction.committed_batches(spark, pins) == {0, 1}

    with pytest.raises(ValueError, match="ONE logical stream"):
        streaming.streaming_asof_enrich(
            spark, input_dir, state_dir, out_dir, str(tmp_path / "asof_ck_b"), **kw
        )


# the three index streams, each with a one-row input it keeps:
# (start, schema, row, extra arguments)
_INDEX_STREAMS = {
    "near": (
        streaming.streaming_near_dedup,
        "doc_id long, text string",
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        {},
    ),
    "semantic": (
        streaming.streaming_semantic_dedup,
        "vec_id long, embedding array<double>",
        (1, [1.0, 0.0]),
        {"centroids": [[1.0, 0.0]], "threshold": 0.99},
    ),
    "substr": (
        streaming.streaming_substr_screen,
        "doc_id long, text string",
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        {"w": 4, "window": 3},
    ),
}


@pytest.mark.parametrize("kind", sorted(_INDEX_STREAMS))
def test_index_stream_foreign_checkpoint_refused(spark, tmp_path, kind):
    """An accumulated index belongs to ONE logical stream: a second
    stream (different checkpoint) over the same index_dir must be
    refused loudly — Spark restarts batch ids at 0 per checkpoint, so
    the new stream would silently skip its first epochs via the old
    run's batch_id-keyed commit markers."""
    start, schema, row, kw = _INDEX_STREAMS[kind]
    input_dir = str(tmp_path / "fg_in")
    out_dir = str(tmp_path / "fg_out")
    ckpt_a = str(tmp_path / "fg_ck_a")
    idx = str(tmp_path / "fg_idx")
    spark.createDataFrame([row], schema).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)
    q = start(spark, input_dir, out_dir, ckpt_a, idx, schema=schema, **kw)
    q.awaitTermination(180)
    assert compaction.committed_batches(spark, idx) == {0}

    # same checkpoint resumes fine
    q2 = start(spark, input_dir, out_dir, ckpt_a, idx, schema=schema, **kw)
    q2.awaitTermination(180)

    # a DIFFERENT checkpoint over the same index is refused before any
    # batch runs
    with pytest.raises(ValueError, match="ONE logical stream"):
        start(
            spark, input_dir, str(tmp_path / "fg_out2"),
            str(tmp_path / "fg_ck_b"), idx, schema=schema, **kw,
        )


@pytest.mark.parametrize("kind", sorted(_INDEX_STREAMS))
def test_index_stream_releases_kept_frames(spark, tmp_path, kind):
    """Every frame an index stream persists for its epoch is released,
    whether the epoch crashes in the commit gap or drains cleanly —
    else each epoch leaks cached blocks for the session's lifetime.
    The clean drain's epoch reads a non-empty index."""
    start, schema, row, kw = _INDEX_STREAMS[kind]
    jsc = spark.sparkContext._jsc
    input_dir = str(tmp_path / "lk_in")
    out_dir = str(tmp_path / "lk_out")
    ckpt = str(tmp_path / "lk_ck")
    idx = str(tmp_path / "lk_idx")

    def boom(batch_id: int) -> None:
        raise RuntimeError(f"chaos: crash after commit of batch {batch_id}")

    spark.createDataFrame([row], schema).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)
    before = jsc.getPersistentRDDs().size()
    q = start(
        spark, input_dir, out_dir, ckpt, idx, schema=schema, chaos=boom, **kw
    )
    with pytest.raises(StreamingQueryException, match="chaos"):
        q.awaitTermination(180)
    assert jsc.getPersistentRDDs().size() == before

    spark.createDataFrame([(2, row[1])], schema).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)
    before = jsc.getPersistentRDDs().size()
    q2 = start(spark, input_dir, out_dir, ckpt, idx, schema=schema, **kw)
    q2.awaitTermination(180)
    assert q2.exception() is None
    assert compaction.committed_batches(spark, idx) == {0, 1}
    assert jsc.getPersistentRDDs().size() == before
