"""N → 4N core scaling for one job on identical input: the single-host
stand-in for the north rule's two-cluster-size criterion.

    python tools/scaling.py {chain|dataprep} [n_turns] [n_cores]

Generates ``n_turns`` transcript turns once, then runs the job in a
fresh JVM per leg at N and 4N cores, interleaved ABAB (a noise burst
degrades one leg of each level, never every run of one level), and
prints one JSON line: best throughput per level and the efficiency
``tp(4N) / tp(N) / 4``. Don't run other Spark jobs concurrently.

* ``chain`` — the batch parse → enrich chain
  (``normalize_and_enrich(skip_turn_rank=True)``), timed in-JVM after
  one warm-up pass by ``perfbench/scale.py``.
* ``dataprep`` — the end-to-end transcript dataprep job
  (``jobs/run_transcript_dataprep.py``: integrity gate → render →
  curate → split → tokenize+pack), timed by its own post-startup wall
  (``summary.json`` ``wall_s``).

Both timings exclude JVM boot, so the constant start cost doesn't bias
the ratio. The input must be large enough that per-task work dominates
the per-task scheduling floor, or the 4N leg reads artificially low.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEGS = 3  # per level, interleaved ABAB


def generate(n_turns: int, path: str) -> None:
    """The shared input, in its own JVM (not timed)."""
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from logshipper_spark.session import get_spark\n"
        "from logshipper_spark import gen\n"
        "spark = get_spark(app_name='scaling-gen')\n"
        "gen.transcripts(spark, %d).write.mode('overwrite').parquet(%r)\n"
        % (ROOT, n_turns, path)
    )
    subprocess.run([sys.executable, "-c", code], check=True,
                   capture_output=True, text=True)


def chain_leg(turns_dir: str, cores: int, work: str) -> float:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "scale.py"),
         turns_dir, str(cores), work],
        check=True, capture_output=True, text=True,
    )
    return json.loads(proc.stdout.splitlines()[-1])["seconds"]


def dataprep_leg(turns_dir: str, cores: int, work: str) -> float:
    # SAME 8g heap at both levels: session.py's measured guidance —
    # large heaps pay growth + GC-pause tax. On a 32-core VM a 32g heap
    # at the 32-core level measured the whole job 2.1x slower (92.7 s
    # vs 43.4 s at 2.4M turns, curate stage 48 s vs 8.7 s); equal heaps
    # also keep the levels comparable.
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
    )
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "run_transcript_dataprep.py"),
         "--turns", turns_dir, "--out", work, "--require-ok",
         "--split", "train:0.98,val:0.01,test:0.01",
         "--budget", "2048", "--vocab-size", "50000"],
        env=env, check=True, capture_output=True, text=True,
    )
    with open(os.path.join(work, "summary.json")) as f:
        return json.load(f)["wall_s"]


JOBS = {"chain": chain_leg, "dataprep": dataprep_leg}


def main(job: str, n_turns: int, n: int) -> int:
    leg = JOBS[job]
    scratch = tempfile.mkdtemp(prefix="scaling_")
    try:
        turns_dir = os.path.join(scratch, "turns")
        generate(n_turns, turns_dir)
        per_level: dict[int, list[float]] = {n: [], 4 * n: []}
        for i, cores in enumerate(c for _ in range(LEGS) for c in (n, 4 * n)):
            work = os.path.join(scratch, f"leg_{i}")
            seconds = leg(turns_dir, cores, work)
            shutil.rmtree(work, ignore_errors=True)
            per_level[cores].append(round(n_turns / seconds, 1))
            print(f"# leg {i}: {cores} cores, {seconds:.2f} s, "
                  f"{per_level[cores][-1]:,.0f} turns/s", file=sys.stderr)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    tp_n, tp_4n = max(per_level[n]), max(per_level[4 * n])
    print(json.dumps({
        "metric": f"{job}_scaling_efficiency_Nx4",
        "value": round(tp_4n / tp_n / 4.0, 3),
        "unit": "ratio",
        "n_turns": n_turns,
        "throughput_turns_per_sec": {f"{n}_cores": tp_n, f"{4 * n}_cores": tp_4n},
        "per_leg_turns_per_sec": {
            f"{n}_cores": per_level[n], f"{4 * n}_cores": per_level[4 * n],
        },
    }))
    return 0


if __name__ == "__main__":
    if len(sys.argv) < 2 or sys.argv[1] not in JOBS:
        sys.exit(f"usage: {sys.argv[0]} {{{'|'.join(JOBS)}}} [n_turns] [n_cores]")
    sys.exit(main(
        sys.argv[1],
        int(sys.argv[2]) if len(sys.argv) > 2 else 9_600_000,
        int(sys.argv[3]) if len(sys.argv) > 3 else 8,
    ))
