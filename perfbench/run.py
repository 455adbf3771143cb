"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

Runs one workload (see workloads.py) in one Spark driver process at
local[<nproc>], as a closed loop, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (event log
on, layers timed one by one, tracing overhead). Every operation's
output is checked; a failed check or an exception counts as failed.

Everything it writes stays under ``.perfbench_work/`` (removed at the
end) and ``.perfbench_out/`` (the run record with its spans) in the
checkout it runs from.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from spans import Tracer, eventlog_stats, jvm_pid, peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"
SETUP_REPS = 3
END_TO_END = {
    "turns_per_cpu_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "output_mb": "MB",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(work: str, cores: int) -> None:
    """One fixed environment for every workload: cores, local dirs,
    driver heap, time zone, temp dirs."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        TMPDIR=os.path.join(work, "tmp"),
        TZ="UTC",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    time.tzset()
    tempfile.tempdir = None


def start_session(work: str, event_log: bool = False):
    from logshipper_spark.session import get_spark

    conf = {
        # the whole heap committed and touched at start: the driver's
        # RSS then does not depend on when the collector chose to grow
        # the heap, and peak_rss_mb tracks memory outside the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if event_log:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active session and the driver JVM, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def environment(spark) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or "unknown"
    except OSError:
        commit = "unknown"
    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEMORY,
        "commit": commit,
    }


class Runner:
    def __init__(self, workload, seed: int, work: str):
        from workloads import Ctx

        self.w = workload
        self.tracer = Tracer()
        self.ctx = Ctx(None, work, seed, nproc(), self.tracer)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def start(self, event_log: bool = False) -> float:
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.ctx.spark = start_session(self.ctx.work, event_log)
            self.ctx.spark.range(1).count()
        self.ctx.jvm_pid = jvm_pid(self.ctx.spark)
        return time.perf_counter() - t0

    def setup(self) -> list[float]:
        reps = []
        for _ in range(SETUP_REPS):
            with self.tracer.span("gen.input") as s:
                self.w.setup(self.ctx)
            reps.append(s["end"] - s["start"])
        with self.tracer.span("prepare"):
            self.w.prepare(self.ctx)
        with self.tracer.span("warmup"):
            try:
                self.w.warmup(self.ctx)
            except Exception:
                self.attempted += 1
                self.fail([traceback.format_exc(limit=3)], "warm-up")
        return reps

    def fail(self, problems: list[str], what: str) -> None:
        self.failed += 1
        self.problems += problems
        print(f"{what} failed: {problems[:3]}", file=sys.stderr)

    def loop(self, seconds: float, tag: str) -> list:
        """Closed loop: operations back to back until their summed
        wall time reaches ``seconds``; each is checked after it ends."""
        sc = self.ctx.spark.sparkContext
        ops, busy = [], 0.0
        while busy < seconds or not ops:
            i = self.attempted
            self.attempted += 1
            group = f"op-{tag}-{i}"
            try:
                sc.setJobGroup(group, f"{self.w.name} operation {i}")
                with self.tracer.span("op", op=group):
                    res = self.w.op(self.ctx, i)
                res.group = res.group or group
                busy += res.wall_s
                sc.setJobGroup(f"check-{tag}-{i}", "correctness gate")
                with self.tracer.span("check", op=group):
                    problems = self.w.check(self.ctx, res)
            except Exception:
                problems = [traceback.format_exc(limit=3)]
                res = None
            if problems:
                self.fail(problems, f"operation {i}")
            elif res is not None:
                ops.append(res)
            if self.failed > 3 and not ops:
                break
        sc.setJobGroup("idle", "between operations")
        return ops


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def run(args, work: str) -> dict:
    from workloads import WORKLOADS

    runner = Runner(WORKLOADS[args.workload](), args.seed, work)
    start_s = runner.start()
    setup_reps = runner.setup()
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": environment(runner.ctx.spark),
        "setup_reps_s": setup_reps,
    }
    if not args.trace:
        ops = runner.loop(args.seconds, "run")
        epochs = [e for r in ops for e in r.epochs]
        metrics = {
            "turns_per_cpu_s": _median(t / c for t, _, c in epochs),
            "setup_s": start_s + statistics.median(setup_reps),
            "peak_rss_mb": peak_rss_mb(runner.ctx.spark),
            "output_mb": _median(r.output_mb for r in ops),
        }
        units = END_TO_END
        record["samples"] = {
            "operations": len(ops),
            "epochs": len(epochs),
        }
        record["epochs"] = epochs
    else:
        untraced = runner.loop(args.seconds / 2, "untraced")
        # same JVM (JIT and generated code stay warm), new context with
        # the event log on
        runner.ctx.spark.stop()
        runner.start(event_log=True)
        traced = runner.loop(args.seconds / 2, "traced")
        with runner.tracer.span("layers"):
            metrics = runner.w.layers(runner.ctx, traced) if traced else {}
        if args.workload == "batch":
            with runner.tracer.span("session.scale"):
                metrics["session.scale_eff_1to4"] = scale_efficiency(runner.ctx)

        def rates(ops, by):
            return _median(e[0] / e[by] for r in ops for e in r.epochs)

        cpu_u, cpu_t = rates(untraced, 2), rates(traced, 2)
        metrics.update({
            "session.start_s": start_s,
            "gen.input_s": statistics.median(setup_reps),
            "trace.turns_per_cpu_s": cpu_t,
            "trace.untraced_turns_per_cpu_s": cpu_u,
            "trace.overhead_ratio": cpu_u / cpu_t if cpu_t else 0.0,
            "wall.turns_per_s": rates(untraced, 1),
            "wall.epoch_p50_s": _median(e[1] for r in untraced for e in r.epochs),
        })
        runner.ctx.spark.stop()
        if traced:
            metrics.update(
                eventlog_stats(
                    os.path.join(work, "events"),
                    {r.group for r in traced},
                    sum(r.wall_s for r in traced),
                    runner.ctx.cores,
                    len(traced),
                )
            )
        units = per_layer_units()
        record["samples"] = {"untraced": len(untraced), "traced": len(traced)}
    ok = runner.failed == 0 and runner.attempted > 0
    out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()}
    record.update(metrics={k: v["value"] for k, v in out.items()}, problems=runner.problems)
    runner.tracer.dump(
        os.path.join(
            ROOT, ".perfbench_out",
            f"{args.workload}-seed{args.seed}-trace{args.trace}.json",
        ),
        record,
    )
    return {
        "correct": ok,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": out,
    }


def scale_efficiency(ctx) -> float:
    """parse -> enrich chain time at local[1] over nproc x its time at
    local[nproc], on the same table. The local[1] leg runs in a fresh
    JVM (scale.py); the local[nproc] leg in this run's JVM, with the
    same one warm-up pass before the timed one."""
    import scale

    t_n = scale.chain_seconds(ctx.spark, ctx.path("tx"))
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "scale.py"), ctx.path("tx"), "1",
         ctx.path("scale1")],
        capture_output=True, text=True, timeout=150,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"scale.py failed: {proc.stderr[-2000:]}")
    t_1 = json.loads(proc.stdout.strip().splitlines()[-1])["seconds"]
    return t_1 / (ctx.cores * t_n)


def per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "jobs")]
    try:
        import logshipper_spark  # noqa: F401
        from workloads import WORKLOADS  # imports tests/oracle.py too
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_work"))
    pin_env(work, nproc())
    # a terminated run still stops its JVM and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, work)
    finally:
        try:
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
