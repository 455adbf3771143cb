"""Measure recall@k of every ANN serving path against brute-force
ground truth on the testdata embeddings.

    python tools/ann_recall.py [sf_dir] [--queries 50] [--k 10]

For each of `--queries` deterministic query vectors (the lowest vec_ids)
the exact cosine top-k is computed once, then each approximate path is
scored as |approx ∩ exact| / k, averaged over the queries:

* ivf_hyperplane  — write_ivf_index + ivf_topk_indexed (n_probe sweep)
* ivf_trained     — kmeans_fit + write_ivf_trained + ivf_trained_topk
* quantized       — int8 coarse + exact rerank over the FULL corpus
                    (no cell pruning; isolates quantization loss)
* trained+int8    — the composed 100 TB serving path: directory pruning
                    then stored-code coarse scan + rerank
* pq_full         — product-quantization ADC over the full corpus
                    (no pruning; isolates code loss at ~m bytes/row)
* ivf_pq          — trained-cell pruning over PQ code rows + exact
                    rerank (n_probe sweep)

Prints one markdown table (for BASELINE.md) and one JSON line. The
quality claim this backs: quantization alone should be lossless-ish at
rerank=4 (integer dots preserve ranking except near-ties), so composed
recall ≈ IVF recall — the probe-set choice, not the codes, bounds
quality; recall then climbs with n_probe toward 1.0 at n_probe=cells.

All driver-side loops here iterate over the QUERY set (~50), never the
corpus; each query runs the same pruned plans a user would
(`similarity.py`; `tests/test_plan_budgets.py` and the ivf_topk_indexed /
ivf_pq_topk tests in `tests/test_datapipe.py` pin their shuffles and pruning).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", type=int, default=50)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--cells", type=int, default=16)
    ap.add_argument("--max-iter", type=int, default=5)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from logshipper_spark.datapipe import similarity
    from logshipper_spark.session import get_spark

    spark = get_spark(app_name="ann-recall")
    emb = (
        spark.read.parquet(os.path.join(args.sf_dir, "embeddings.parquet"))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .cache()
    )
    n = emb.count()
    qrows = emb.orderBy("vec_id").limit(args.queries).collect()
    queries = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in qrows]
    dim = len(queries[0][1])

    exact = {
        qid: [r["vec_id"] for r in
              similarity.cosine_topk(emb, qv, k=args.k).collect()]
        for qid, qv in queries
    }

    tmp = tempfile.mkdtemp(prefix="ann_recall_")
    hyper_dir = os.path.join(tmp, "hyper")
    trained_dir = os.path.join(tmp, "trained")
    similarity.write_ivf_index(emb, hyper_dir, num_cells=args.cells, dim=dim)
    cents = similarity.kmeans_fit(
        emb, num_cells=args.cells, dim=dim, max_iter=args.max_iter)
    similarity.write_ivf_trained(
        similarity.quantize_vectors(emb), trained_dir, cents)

    def avg_recall(fn) -> float:
        tot = 0.0
        for qid, qv in queries:
            got = [r["vec_id"] for r in fn(qv).collect()]
            tot += len(set(got) & set(exact[qid])) / args.k
        return round(tot / len(queries), 4)

    results: dict[str, float] = {}
    probes = sorted({1, 2, 4, 8, args.cells})
    for np_ in probes:
        results[f"ivf_hyperplane@probe{np_}"] = avg_recall(
            lambda qv, np_=np_: similarity.ivf_topk_indexed(
                spark, hyper_dir, qv, k=args.k,
                num_cells=args.cells, n_probe=np_))
        results[f"ivf_trained@probe{np_}"] = avg_recall(
            lambda qv, np_=np_: similarity.ivf_trained_topk(
                spark, trained_dir, qv, k=args.k, n_probe=np_))
        results[f"trained_int8@probe{np_}"] = avg_recall(
            lambda qv, np_=np_: similarity.ivf_trained_topk(
                spark, trained_dir, qv, k=args.k, n_probe=np_, rerank=4))
    results["quantized_full@rerank4"] = avg_recall(
        lambda qv: similarity.quantized_topk(emb, qv, k=args.k, rerank=4))
    # PQ paths: full-corpus ADC (isolates code loss) and the composed
    # IVF×PQ layout (pruning × compression), both with exact rerank
    pq_dir = os.path.join(tmp, "pq")
    ivfpq_dir = os.path.join(tmp, "ivfpq")
    books = similarity.pq_fit(
        emb, m=8, codes_per_sub=args.cells, dim=dim, max_iter=args.max_iter)
    similarity.write_pq_index(emb, pq_dir, books)
    similarity.write_ivf_pq(emb, ivfpq_dir, cents, books)
    results["pq_full@rerank4"] = avg_recall(
        lambda qv: similarity.pq_topk(
            spark, pq_dir, qv, k=args.k, rerank_df=emb, rerank=4))
    for np_ in probes:
        results[f"ivf_pq@probe{np_}"] = avg_recall(
            lambda qv, np_=np_: similarity.ivf_pq_topk(
                spark, ivfpq_dir, qv, k=args.k, n_probe=np_,
                rerank_df=emb, rerank=4))

    print(f"\n| path | recall@{args.k} (n={n}, {len(queries)} queries, "
          f"{args.cells} cells) |")
    print("|---|---|")
    for name, r in results.items():
        print(f"| {name} | {r:.4f} |")
    print()
    print(json.dumps({"n": n, "k": args.k, "cells": args.cells,
                      "recall": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
