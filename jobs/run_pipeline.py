"""spark-submit entrypoint for the full pipeline.

Cluster:

    zip -r logshipper_spark.zip logshipper_spark
    spark-submit --py-files logshipper_spark.zip jobs/run_pipeline.py \
        --input /path/to/transcripts --out /path/to/out \
        [--stream] [--checkpoint /path/to/ckpt] [--batch-id N]

Local smoke (this sandbox):

    python jobs/run_pipeline.py --generate 50000 --out /tmp/out

Batch mode runs one idempotent batch (skipping batch ids whose lineage
already committed — restartable by construction); --stream drains the
input directory through the checkpointed streaming pipeline instead.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# runnable as plain `python jobs/run_pipeline.py` too (spark-submit
# ships the package via --py-files)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="transcript table directory (parquet)")
    ap.add_argument("--generate", type=int, default=0,
                    help="generate N synthetic turns instead of reading --input")
    ap.add_argument("--out", required=True, help="output base directory")
    ap.add_argument("--batch-id", type=int, default=0)
    ap.add_argument("--run-id", default=None,
                    help="logical run id (batch default 'job'; stream "
                         "default derives from the checkpoint path, so "
                         "restarts resume and fresh streams never reuse "
                         "an old run's id)")
    ap.add_argument("--stream", action="store_true",
                    help="streaming mode: drain --input via checkpointed foreachBatch")
    ap.add_argument("--checkpoint", help="streaming checkpoint dir (required with --stream)")
    ap.add_argument("--config",
                    help="YAML topology (sources/transforms/sinks, env-expanded, "
                         "validated like the reference's config.Validate)")
    args = ap.parse_args(argv)

    from logshipper_spark import config as cfgmod
    from logshipper_spark import gen, pipeline, streaming
    from logshipper_spark.datapipe import compaction
    from logshipper_spark.session import get_spark

    spark = get_spark(app_name="logshipper-pipeline")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    batch_run_id = args.run_id or "job"
    if not args.stream:
        # same run-ownership rule as streaming.run_stream (which claims
        # its own out dir); --config runs are batches too, so they skip
        # a committed batch id like any other
        try:
            done = compaction.claim_commits(
                spark, os.path.join(args.out, "lineage"), batch_run_id
            )
        except ValueError as e:
            ap.error(str(e))
        if args.batch_id in done:
            print(json.dumps({"mode": "batch", "batch_id": args.batch_id,
                              "skipped": "already committed"}))
            return 0
    if args.config:
        cfg = cfgmod.load_config(args.config)
        summary = cfgmod.run_from_config(
            spark, cfg, args.out, run_id=batch_run_id, batch_id=args.batch_id
        )
        print(json.dumps(summary))
        return 0

    if args.stream:
        if not args.input or not args.checkpoint:
            ap.error("--stream requires --input and --checkpoint")
        q = streaming.run_stream(
            spark, args.input, args.out, args.checkpoint, run_id=args.run_id
        )
        q.awaitTermination()
        done = sorted(pipeline.completed_batches(spark, args.out))
        print(json.dumps({"mode": "stream", "completed_batches": done}))
        return 0

    if args.generate:
        tx = gen.transcripts(spark, args.generate).cache()
        tx.count()
    elif args.input:
        tx = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --generate is required")
        return 2

    summary = pipeline.run_batch(
        spark, tx, args.out, run_id=batch_run_id, batch_id=args.batch_id
    )
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
