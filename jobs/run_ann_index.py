"""spark-submit entrypoint for building and probing ANN indexes over an
embedding table.

    spark-submit --py-files logshipper_spark.zip jobs/run_ann_index.py \
        build --emb /path/to/embeddings.parquet --index /path/to/index \
        [--cells 256] [--trained] [--max-iter 5] [--sample-mod 16] \
        [--quantize]

    spark-submit --py-files logshipper_spark.zip jobs/run_ann_index.py \
        probe --index /path/to/index --query-id 0 \
        --emb /path/to/embeddings.parquet [--k 10] [--n-probe 8]

``build`` writes the table partitioned by IVF cell (hyperplane cells by
default; ``--trained`` fits deterministic Lloyd k-means first and writes
the self-describing ``<index>_centroids`` table alongside).
``--quantize`` adds int8 codes (``qvec``/``qscale``) to the index rows
so probes can coarse-score on 4x fewer bytes. ``--pq M`` (requires
``--trained``) builds the IVF×PQ layout instead: per-subspace k-means
codebooks, ``M``-int code rows partitioned by trained cell — the
memory-bound 100 TB serving layout (~2 orders fewer index bytes than
float32); probe with ``--pq-rerank R`` for exact-cosine rerank of the
top ``k*R`` ADC candidates against the embedding table. ``probe`` runs
a top-k query (by row id from the embedding table) against the built
index and prints the neighbors as JSON lines.

At 100 TB: build is one pass (assignment is a narrow projection; the
partitionBy shuffle is the only wide stage), probe reads only the
probed cell directories (test_ivf_indexed_partition_pruning proves it).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# plain-python fallback: under spark-submit the package arrives via
# --py-files; standalone runs resolve it from the repo root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("build")
    b.add_argument("--emb", required=True, help="embeddings parquet (vec_id, embedding)")
    b.add_argument("--index", required=True)
    b.add_argument("--cells", type=int, default=256)
    b.add_argument("--trained", action="store_true",
                   help="fit k-means centroids instead of hyperplane cells")
    b.add_argument("--max-iter", type=int, default=5)
    b.add_argument("--sample-mod", type=int, default=None,
                   help="fit on the deterministic 1/m hash-slice (trained only)")
    b.add_argument("--quantize", action="store_true",
                   help="store int8 codes (qvec/qscale) alongside the floats")
    b.add_argument("--pq", type=int, default=None, metavar="M",
                   help="build the IVF x PQ layout: M-subspace product-"
                        "quantization code rows partitioned by trained "
                        "cell (requires --trained)")
    b.add_argument("--pq-codes", type=int, default=256,
                   help="codes per PQ subspace")
    p = sub.add_parser("probe")
    p.add_argument("--index", required=True)
    p.add_argument("--emb", required=True)
    p.add_argument("--query-id", type=int, default=0)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--n-probe", type=int, default=8)
    p.add_argument("--cells", type=int, default=256,
                   help="must match the build --cells (hyperplane probes only)")
    p.add_argument("--trained", action="store_true")
    p.add_argument("--rerank", type=int, default=None,
                   help="int8 coarse scan + exact rerank of the top k*r "
                        "(uses stored codes when built with --quantize)")
    p.add_argument("--pq", action="store_true",
                   help="probe an IVF x PQ index (built with build --pq)")
    p.add_argument("--pq-rerank", type=int, default=4,
                   help="exact-cosine rerank headroom for --pq probes "
                        "(0 = ADC-only, no float reads)")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from logshipper_spark.datapipe import similarity
    from logshipper_spark.session import get_spark

    spark = get_spark(app_name="logshipper-ann-index")
    emb = spark.read.parquet(args.emb).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )

    if args.cmd == "build":
        df = emb
        if args.quantize:
            df = similarity.quantize_vectors(df)
        dim = similarity._vec_dim(df, "embedding")
        if args.pq is not None and not args.trained:
            raise SystemExit("--pq requires --trained (coarse cells are "
                             "k-means centroids)")
        if args.pq is not None and args.quantize:
            # the PQ layout stores M-int code rows, not float vectors —
            # int8 codes have nothing to attach to; refusing beats a
            # summary line that claims codes were stored
            raise SystemExit("--pq and --quantize are exclusive: the "
                             "IVF x PQ index stores code rows only")
        if args.trained:
            cents = similarity.kmeans_fit(
                emb, num_cells=args.cells, dim=dim,
                max_iter=args.max_iter, sample_mod=args.sample_mod,
            )
            if args.pq is not None:
                books = similarity.pq_fit(
                    emb, m=args.pq, codes_per_sub=args.pq_codes, dim=dim,
                    max_iter=args.max_iter, sample_mod=args.sample_mod,
                )
                similarity.write_ivf_pq(emb, args.index, cents, books)
            else:
                similarity.write_ivf_trained(df, args.index, cents)
        else:
            similarity.write_ivf_index(df, args.index, num_cells=args.cells, dim=dim)
        print(json.dumps({"built": args.index, "cells": args.cells,
                          "trained": args.trained, "quantized": args.quantize,
                          "pq_m": args.pq}))
        return 0

    qrow = emb.filter(F.col("vec_id") == args.query_id).head()
    if qrow is None:
        raise SystemExit(
            f"--query-id {args.query_id} not found in {args.emb}"
        )
    qv = [float(x) for x in qrow["embedding"]]
    if args.pq:
        out = similarity.ivf_pq_topk(
            spark, args.index, qv, k=args.k, n_probe=args.n_probe,
            rerank_df=emb if args.pq_rerank else None,
            rerank=args.pq_rerank or 1,
        )
    elif args.trained:
        out = similarity.ivf_trained_topk(
            spark, args.index, qv, k=args.k, n_probe=args.n_probe,
            rerank=args.rerank,
        )
    else:
        out = similarity.ivf_topk_indexed(
            spark, args.index, qv, k=args.k,
            num_cells=args.cells, n_probe=args.n_probe, rerank=args.rerank,
        )
    for r in out.collect():
        print(json.dumps(r.asDict()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
