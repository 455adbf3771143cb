"""The benchmark's workloads. Each one generates its seeded inputs in
``setup``, runs one closed-loop operation per ``op`` call (the next
starts when the previous one has finished), checks that operation's
outputs in ``check``, and in a traced run times its layers one by one
in ``layers``, by calling each module's public functions on
materialized inputs.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import checks
import inputs
from spans import Tracer, cpu_seconds, dir_bytes, jobs_in_group

ORDER = ["ts", "conv_id", "turn_idx"]
EDGE_KEYS = ["src_service", "dst_service", "operation"]
MB = 1024.0 * 1024.0


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    seed: int
    cores: int
    tracer: Tracer
    jvm_pid: int = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class OpResult:
    """One operation. ``epochs`` holds (turns, wall seconds, CPU
    seconds) per committed epoch: the micro-batches of a stream, or the
    whole operation."""

    wall_s: float
    out_dir: str
    group: str
    epochs: list[tuple[int, float, float]]
    info: dict = field(default_factory=dict)

    @property
    def output_mb(self) -> float:
        return dir_bytes(self.out_dir)[1] / MB


def measured(ctx: Ctx, fn):
    """(fn(), wall seconds, CPU seconds)."""
    cpu0, t0 = cpu_seconds(ctx.jvm_pid), time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0, cpu_seconds(ctx.jvm_pid) - cpu0


def noop_s(ctx: Ctx, name: str, df: DataFrame) -> float:
    """Wall time to compute ``df`` fully and discard it."""
    with ctx.tracer.span(name) as s:
        df.write.format("noop").mode("overwrite").save()
    return s["end"] - s["start"]


def cached(df: DataFrame) -> DataFrame:
    df = df.cache()
    df.count()
    return df


def _unpersist(*dfs: DataFrame) -> None:
    for df in dfs:
        df.unpersist()


class Workload:
    name = ""
    n_turns = 0

    def setup(self, ctx: Ctx) -> None:
        """Generate and write the inputs (timed as set-up)."""
        raise NotImplementedError

    def prepare(self, ctx: Ctx) -> None:
        """Compute the expected outputs the checks compare against."""
        raise NotImplementedError

    def warmup(self, ctx: Ctx) -> None:
        """One untimed operation, so that generated code and the JIT are
        warm when timing starts: a cold first operation varies with
        compile time far more than warm ones vary with the program."""
        self.op(ctx, -1)

    def op(self, ctx: Ctx, i: int) -> OpResult:
        raise NotImplementedError

    def check(self, ctx: Ctx, res: OpResult) -> list[str]:
        raise NotImplementedError

    def layers(self, ctx: Ctx, ops: list[OpResult]) -> dict:
        raise NotImplementedError

    def _op_dir(self, ctx: Ctx, i: int) -> str:
        return ctx.path("out", f"{self.name}-{i}")


# ── batch ────────────────────────────────────────────────────────────


class Batch(Workload):
    """One ``pipeline.run_batch`` per operation (default single_pass
    mode, default routing rules, parquet sinks, lineage commit) over a
    partitioned transcript table."""

    name = "batch"
    n_turns = 15_000

    n_buckets = 8

    def setup(self, ctx: Ctx) -> None:
        from logshipper_spark import tables

        tables.write_transcripts(
            inputs.transcripts(ctx.spark, self.n_turns, ctx.seed, ctx.cores),
            ctx.path("tx"),
            n_buckets=self.n_buckets,
        )

    def prepare(self, ctx: Ctx) -> None:
        from logshipper_spark import tables

        self.oracle = checks.Oracle(
            ctx.spark,
            tables.read_transcripts(ctx.spark, ctx.path("tx")),
            inputs.sample_conv_ids(self.n_turns, ctx.seed),
        )

    def op(self, ctx: Ctx, i: int) -> OpResult:
        from logshipper_spark import pipeline, tables

        out = self._op_dir(ctx, i)
        res, wall, cpu = measured(
            ctx,
            lambda: pipeline.run_batch(
                ctx.spark, tables.read_transcripts(ctx.spark, ctx.path("tx")), out,
                run_id=f"bench-{i}",
            ),
        )
        return OpResult(wall, out, "", [(self.n_turns, wall, cpu)], {"run": res})

    def check(self, ctx: Ctx, res: OpResult) -> list[str]:
        from logshipper_spark import pipeline

        spark, out, run = ctx.spark, res.out_dir, res.info["run"]
        problems = []
        if run["rows_in"] != self.n_turns:
            problems.append(f"rows_in {run['rows_in']} != {self.n_turns}")
        routed = spark.read.parquet(os.path.join(out, "sinks_by", "batch_id=0"))
        problems += self.oracle.check_routed(routed)
        counts = spark.read.parquet(os.path.join(out, "sink_counts", "batch_id=0"))
        problems += self.oracle.check_windows(counts)
        totals = checks.sink_totals(counts)
        if totals != run["sink_rows"]:
            problems.append(f"sink_counts totals {totals} != sink_rows {run['sink_rows']}")
        if pipeline.completed_batches(spark, out, run["run_id"]) != {0}:
            problems.append("lineage not committed")
        return problems

    def layers(self, ctx: Ctx, ops: list[OpResult]) -> dict:
        from logshipper_spark import aggregate as agg
        from logshipper_spark import enrich, gen, parse, route, tables
        from logshipper_spark.schemas import DEFAULT_INGEST_TS

        spark = ctx.spark
        m: dict = {}
        tx = tables.read_transcripts(spark, ctx.path("tx"))
        m["tables.scan_s"] = noop_s(ctx, "tables.scan", tx)
        txc = cached(tx)
        base = noop_s(ctx, "base.transcripts", txc)
        parsed = parse.parse_normalized(
            txc, text_col="text", source_name=F.col("role"), ingest_ts=DEFAULT_INGEST_TS
        )
        m["parse.self_s"] = noop_s(ctx, "parse", parsed) - base
        pc = cached(parsed)
        base = noop_s(ctx, "base.parsed", pc)
        enriched = enrich.resolve_services(
            enrich.enrich_roles(pc, gen.lookup_roles(spark)), gen.lookup_hosts(spark)
        )
        m["enrich.self_s"] = noop_s(ctx, "enrich", enriched) - base
        ec = cached(enriched)
        base = noop_s(ctx, "base.enriched", ec)
        ranked = ec.withColumn(
            "turn_rank",
            F.row_number().over(Window.partitionBy("conv_id").orderBy("turn_idx")),
        )
        m["pipeline.turn_rank_s"] = noop_s(ctx, "pipeline.turn_rank", ranked) - base
        rc = cached(ranked)
        base = noop_s(ctx, "base.ranked", rc)
        routed = route.routed_rows(rc, gen.routing_rules())
        m["route.fanout_s"] = noop_s(ctx, "route.fanout", routed) - base
        roc = cached(routed)
        m["route.fanout_ratio"] = roc.count() / self.n_turns
        base_routed = noop_s(ctx, "base.routed", roc)
        sink_dir = ctx.path("layers", "sinks")
        with ctx.tracer.span("sinks.write") as s:
            roc.drop("text").write.mode("overwrite").partitionBy("sink").parquet(sink_dir)
        m["sinks.write_s"] = (s["end"] - s["start"]) - base_routed
        files, size = dir_bytes(sink_dir)
        m["sinks.files"], m["sinks.mb"] = files, size / MB
        m["route.sink_counts_s"] = (
            noop_s(ctx, "route.sink_counts", route.sink_counts(roc)) - base_routed
        )
        m["aggregate.edge_agg_s"] = (
            noop_s(
                ctx,
                "aggregate.edge_agg",
                agg.edge_agg(rc, ts_col="event_ts", order_cols=ORDER),
            )
            - base
        )
        _unpersist(roc, rc, ec, pc, txc)
        wall = statistics.median(r.wall_s for r in ops)
        selfs = [
            "tables.scan_s", "parse.self_s", "enrich.self_s", "pipeline.turn_rank_s",
            "route.fanout_s", "sinks.write_s", "route.sink_counts_s",
            "aggregate.edge_agg_s",
        ]
        m["pipeline.other_s"] = wall - sum(m[k] for k in selfs)
        m["pipeline.jobs"] = statistics.median(jobs_in_group(spark, r.group) for r in ops)
        return m


# ── stream ───────────────────────────────────────────────────────────


class Stream(Workload):
    """``streaming.run_stream`` with availableNow and one file per
    trigger: each operation drains the same per-epoch files into a
    fresh output and checkpoint directory."""

    name = "stream"
    n_turns = 3_000
    files = 3

    def setup(self, ctx: Ctx) -> None:
        inputs.transcripts(ctx.spark, self.n_turns, ctx.seed, ctx.cores).repartition(
            self.files, "conv_id", "turn_idx"
        ).write.mode("overwrite").parquet(ctx.path("sin"))
        # one epoch of other turns to warm up on
        inputs.transcripts(
            ctx.spark, self.n_turns // self.files, ctx.seed + 1, ctx.cores
        ).repartition(1).write.mode("overwrite").parquet(ctx.path("sin_warm"))

    def prepare(self, ctx: Ctx) -> None:
        # per-sink row counts of the reference pipeline over every turn
        # of the stream: what one batch over the identical turns commits
        self.expected = checks.Oracle(
            ctx.spark, ctx.spark.read.parquet(ctx.path("sin"))
        ).sink_rows()

    def warmup(self, ctx: Ctx) -> None:
        self._drain(ctx, ctx.path("sin_warm"), ctx.path("out", "warm"))

    def _drain(self, ctx: Ctx, src: str, out: str):
        """Run the stream to the end; (query, wall seconds, CPU marks)."""
        from logshipper_spark import streaming

        marks = EpochCpu(ctx.jvm_pid)
        ctx.spark.streams.addListener(marks)
        try:
            t0 = time.perf_counter()
            q = streaming.run_stream(
                ctx.spark, src, os.path.join(out, "sinks"), os.path.join(out, "ckpt"),
                max_files_per_trigger=1,
            )
            q.awaitTermination()
            wall = time.perf_counter() - t0
            marks.wait()
        finally:
            ctx.spark.streams.removeListener(marks)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q, wall, marks

    def op(self, ctx: Ctx, i: int) -> OpResult:
        out = self._op_dir(ctx, i)
        q, wall, marks = self._drain(ctx, ctx.path("sin"), out)
        progress = {p["batchId"]: p for p in q.recentProgress if p["numInputRows"] > 0}
        epochs = []
        for batch_id, p in sorted(progress.items()):
            cpu = marks.cpu[batch_id] - marks.cpu.get(batch_id - 1, marks.start)
            epochs.append(
                (p["numInputRows"], p["durationMs"]["triggerExecution"] / 1000.0, cpu)
            )
        return OpResult(
            wall, os.path.join(out, "sinks"), str(q.runId), epochs,
            {"durations": [dict(p["durationMs"]) for _, p in sorted(progress.items())]},
        )

    def check(self, ctx: Ctx, res: OpResult) -> list[str]:
        lineage = ctx.spark.read.parquet(os.path.join(res.out_dir, "lineage"))
        got = {
            r["counter"][len("sink_rows_"):]: int(r["n"])
            for r in lineage.filter(F.col("counter").startswith("sink_rows_"))
            .groupBy("counter")
            .agg(F.sum("value").alias("n"))
            .collect()
        }
        problems = []
        if got != self.expected:
            problems.append(f"summed epoch sink_rows {got} != reference {self.expected}")
        batches = lineage.select("batch_id").distinct().count()
        if batches != self.files or len(res.epochs) != self.files:
            problems.append(
                f"{batches} committed batches, {len(res.epochs)} epochs, "
                f"{self.files} files"
            )
        return problems

    def layers(self, ctx: Ctx, ops: list[OpResult]) -> dict:
        durs = [d for r in ops for d in r.info["durations"]]

        def med(key: str) -> float:
            return statistics.median(d.get(key, 0) for d in durs) / 1000.0

        epochs = sum(len(r.epochs) for r in ops)
        jobs = sum(jobs_in_group(ctx.spark, r.group) for r in ops)
        return {
            "streaming.epochs": epochs / len(ops),
            "streaming.add_batch_s": med("addBatch"),
            "streaming.wal_commit_s": med("walCommit"),
            "streaming.latest_offset_s": med("latestOffset"),
            "streaming.planning_s": med("queryPlanning"),
            "streaming.epoch_other_s": statistics.median(
                (d["triggerExecution"] - d.get("addBatch", 0)) / 1000.0 for d in durs
            ),
            "pipeline.jobs": jobs / epochs,
        }


class EpochCpu(StreamingQueryListener):
    """CPU seconds before a query starts and at each epoch's progress
    event, keyed by batch id. Events arrive asynchronously, in order;
    ``wait`` returns once the termination event has been seen."""

    def __init__(self, pid: int):
        self.pid = pid
        self.start = cpu_seconds(pid)
        self.cpu: dict[int, float] = {}
        self.done = threading.Event()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.cpu[event.progress.batchId] = cpu_seconds(self.pid)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.done.set()

    def wait(self) -> None:
        if not self.done.wait(timeout=60):
            raise RuntimeError("no termination event from the streaming query")


# ── analytics ────────────────────────────────────────────────────────

ANALYTICS_RULES = [
    ("sink_errors", "level = 'error' OR status_code >= 500", 0),
    ("sink_tools", "tool <> ''", 1),
    ("sink_metrics", "format = 'metric_json'", 2),
    ("sink_default", "true", 3),
    ("sink_role_user", "role = 'user'", 4),
    ("sink_role_assistant", "role = 'assistant'", 5),
    ("sink_role_system", "role = 'system'", 6),
    ("sink_role_tool", "role = 'tool'", 7),
    ("sink_fmt_json", "format = 'json'", 8),
    ("sink_fmt_ecs", "format = 'ecs_json'", 9),
    ("sink_fmt_plain", "format = 'plain'", 10),
    ("sink_slow", "latency_us > 100000", 11),
    ("sink_warn", "level = 'warn'", 12),
]


class Analytics(Workload):
    """Over an enriched table materialized in set-up: a 13-rule fan-out
    to per-sink windowed counts (plain and salted), the edge aggregate,
    and the detector feed into alert replay."""

    name = "analytics"
    n_turns = 50_000

    def setup(self, ctx: Ctx) -> None:
        from logshipper_spark import pipeline

        inputs.transcripts(ctx.spark, self.n_turns, ctx.seed, ctx.cores).write.mode(
            "overwrite"
        ).parquet(ctx.path("tx"))
        tx = ctx.spark.read.parquet(ctx.path("tx"))
        pipeline.normalize_and_enrich(ctx.spark, tx).drop("text").write.mode(
            "overwrite"
        ).parquet(ctx.path("enr"))

    def prepare(self, ctx: Ctx) -> None:
        self.oracle = checks.Oracle(
            ctx.spark,
            ctx.spark.read.parquet(ctx.path("tx")),
            inputs.sample_conv_ids(self.n_turns, ctx.seed),
        )

    def _run(self, ctx: Ctx, src: str, out: str) -> None:
        from logshipper_spark import aggregate as agg
        from logshipper_spark import anomaly, route, skew

        enr = ctx.spark.read.parquet(src)
        routed = route.routed_rows(enr, ANALYTICS_RULES)
        route.sink_counts(routed).write.parquet(os.path.join(out, "sink_counts"))
        skew.salted_sink_counts(routed).write.parquet(os.path.join(out, "salted"))
        agg.edge_agg(enr, ts_col="event_ts", order_cols=ORDER).write.parquet(
            os.path.join(out, "edges")
        )
        feed = anomaly.edge_metric_feed(enr, order_cols=ORDER)
        anomaly.detect_alerts(feed, [*EDGE_KEYS, "metric"], order_cols=ORDER).write.parquet(
            os.path.join(out, "alerts")
        )

    def op(self, ctx: Ctx, i: int) -> OpResult:
        out = self._op_dir(ctx, i)
        _, wall, cpu = measured(ctx, lambda: self._run(ctx, ctx.path("enr"), out))
        return OpResult(wall, out, "", [(self.n_turns, wall, cpu)])

    def check(self, ctx: Ctx, res: OpResult) -> list[str]:
        counts = ctx.spark.read.parquet(os.path.join(res.out_dir, "sink_counts"))
        salted = ctx.spark.read.parquet(os.path.join(res.out_dir, "salted"))
        return checks.same_rows(counts, salted) + self.oracle.check_windows(counts)

    def layers(self, ctx: Ctx, ops: list[OpResult]) -> dict:
        from logshipper_spark import aggregate as agg
        from logshipper_spark import anomaly, route, skew

        m: dict = {}
        ec = cached(ctx.spark.read.parquet(ctx.path("enr")))
        base = noop_s(ctx, "base.enriched", ec)
        routed = route.routed_rows(ec, ANALYTICS_RULES)
        m["route.fanout_s"] = noop_s(ctx, "route.fanout", routed) - base
        roc = cached(routed)
        m["route.fanout_ratio"] = roc.count() / self.n_turns
        base_routed = noop_s(ctx, "base.routed", roc)
        m["route.sink_counts_s"] = (
            noop_s(ctx, "route.sink_counts", route.sink_counts(roc)) - base_routed
        )
        m["skew.salted_sink_counts_s"] = (
            noop_s(ctx, "skew.salted_sink_counts", skew.salted_sink_counts(roc))
            - base_routed
        )
        m["aggregate.edge_agg_s"] = (
            noop_s(
                ctx, "aggregate.edge_agg",
                agg.edge_agg(ec, ts_col="event_ts", order_cols=ORDER),
            )
            - base
        )
        feed = anomaly.edge_metric_feed(ec, order_cols=ORDER)
        m["anomaly.feed_s"] = noop_s(ctx, "anomaly.feed", feed) - base
        fc = cached(feed)
        base_feed = noop_s(ctx, "base.feed", fc)
        keys = [*EDGE_KEYS, "metric"]
        m["anomaly.detect_alerts_s"] = (
            noop_s(
                ctx, "anomaly.detect_alerts",
                anomaly.detect_alerts(fc, keys, order_cols=ORDER),
            )
            - base_feed
        )
        scored = anomaly.rolling_zscore(fc, keys, "value", ORDER)
        m["anomaly.replay_keys"] = (
            scored.groupBy(*keys)
            .agg(F.max(F.col("is_anomaly").cast("int")).alias("c"))
            .filter("c = 1")
            .count()
        )
        m["anomaly.alerts"] = statistics.median(
            ctx.spark.read.parquet(os.path.join(r.out_dir, "alerts")).count() for r in ops
        )
        _unpersist(fc, roc, ec)
        return m


# ── dataprep ─────────────────────────────────────────────────────────

DATAPREP_ARGS = ["--near-dup", "--budget", "2048"]


class Dataprep(Workload):
    """``jobs/run_transcript_dataprep.main`` with near-dup curation and
    2048-token packing over a transcript table."""

    name = "dataprep"
    n_turns = 40_000

    def setup(self, ctx: Ctx) -> None:
        inputs.transcripts(ctx.spark, self.n_turns, ctx.seed, ctx.cores).write.mode(
            "overwrite"
        ).parquet(ctx.path("tx"))

    def _run(self, src: str, out: str) -> dict:
        import run_transcript_dataprep as job

        with contextlib.redirect_stdout(io.StringIO()):
            code = job.main(["--turns", src, "--out", out, *DATAPREP_ARGS])
        if code != 0:
            raise RuntimeError(f"dataprep exited {code}")
        with open(os.path.join(out, "summary.json")) as f:
            return json.load(f)

    def prepare(self, ctx: Ctx) -> None:
        pass

    def op(self, ctx: Ctx, i: int) -> OpResult:
        out = self._op_dir(ctx, i)
        summary, wall, cpu = measured(ctx, lambda: self._run(ctx.path("tx"), out))
        return OpResult(wall, out, "", [(self.n_turns, wall, cpu)], {"summary": summary})

    def check(self, ctx: Ctx, res: OpResult) -> list[str]:
        s = res.info["summary"]
        convs = inputs.shape(self.n_turns)[2]
        problems = []
        if not s["rendered_docs"] == s["conversations_in"] == convs:
            problems.append(
                f"rendered {s['rendered_docs']}, conversations {s['conversations_in']}, "
                f"generated {convs}"
            )
        chunk_tokens = sum(v["tokens"] for v in s["chunks"].values())
        if chunk_tokens != s["stream_tokens"] or chunk_tokens == 0:
            problems.append(f"chunk tokens {chunk_tokens} != stream tokens {s['stream_tokens']}")
        return problems

    def layers(self, ctx: Ctx, ops: list[OpResult]) -> dict:
        import run_transcript_dataprep as job

        from logshipper_spark import transcript
        from logshipper_spark.datapipe import curate, dedup, packing, tokenize

        spark, out = ctx.spark, ops[-1].out_dir
        m: dict = {}
        tc = cached(spark.read.schema(job.TURNS_SCHEMA).parquet(ctx.path("tx")))
        base = noop_s(ctx, "base.turns", tc)
        m["transcript.integrity_s"] = (
            noop_s(ctx, "transcript.integrity", transcript.integrity_report(tc)) - base
        )
        m["transcript.render_s"] = (
            noop_s(ctx, "transcript.render", transcript.render_conversations(tc)) - base
        )
        docs = cached(spark.read.parquet(os.path.join(out, "rendered")))
        base = noop_s(ctx, "base.rendered", docs)
        m["datapipe.curate_s"] = (
            noop_s(ctx, "datapipe.curate", curate.curate(docs, near_dup=True)) - base
        )
        curate.release_cached_frames()
        dedup.release_cached_signatures()
        s = ops[-1].info["summary"]
        m["datapipe.curate.kept_ratio"] = s["kept_docs"] / s["rendered_docs"]
        surv = cached(spark.read.parquet(os.path.join(out, "survivors")))
        base = noop_s(ctx, "base.survivors", surv)
        m["datapipe.tokenize.vocab_s"] = (
            noop_s(ctx, "datapipe.tokenize.vocab", tokenize.vocab_build(surv, min_count=2))
            - base
        )
        ids = cached(spark.read.parquet(os.path.join(out, "tokens")))
        base = noop_s(ctx, "base.tokens", ids)
        layout = packing.pack_chunks(ids, budget=2048, group_col="split", tokens_col="_n")
        m["datapipe.packing.output_s"] = (
            noop_s(
                ctx, "datapipe.packing.output",
                packing.assemble_chunks(ids, layout, group_col="split"),
            )
            - base
        )
        _unpersist(ids, surv, docs, tc)
        return m


WORKLOADS = {w.name: w for w in (Batch, Stream, Analytics, Dataprep)}
