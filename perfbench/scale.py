"""Time the batch parse -> enrich chain in a fresh driver JVM at a given
core count; run.py calls it at local[1] for the scaling-efficiency
layer metric.

    python3 perfbench/scale.py <transcript table> <cores> <work dir>

Prints ``{"cores": n, "seconds": t}`` last.
"""

from __future__ import annotations

import json
import shutil
import sys
import time

from run import ROOT, pin_env, start_session, stop_jvm


def chain_seconds(spark, table: str) -> float:
    """The timed pass of the chain, after one warm-up pass."""
    from logshipper_spark import pipeline, tables

    tx = tables.read_transcripts(spark, table)
    chain = pipeline.normalize_and_enrich(spark, tx, skip_turn_rank=True)
    for _ in range(2):
        t0 = time.perf_counter()
        chain.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main(table: str, cores: int, work: str) -> int:
    sys.path.insert(0, ROOT)
    pin_env(work, cores)
    try:
        seconds = chain_seconds(start_session(work), table)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"cores": cores, "seconds": seconds}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
