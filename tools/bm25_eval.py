"""Measure BM25 retrieval quality on planted-passage ground truth.

    python tools/bm25_eval.py [sf_dir] [--queries 16] [--k 10]

For each of Q deterministic queries, a unique 3-term rare passage
(`zzq<q>a zzq<q>b zzq<q>c`) is appended to R=3 "relevant" documents;
P=3 "distractor" documents get only ONE of the three terms appended.
The query is the full passage, so the ranking claim under test is the
real one: documents matching all three rare terms must outrank
single-term distractors, which must outrank the untouched corpus.
Everything is doc_id arithmetic — deterministic, no randomness.

Reported per cutoff k: mean recall@k over the R relevants, MRR (rank
of the first relevant), and the count of ranking violations (a
distractor ranked above any full-match relevant). Expected posture:
recall@3 = 1.0, MRR = 1.0, violations = 0 — three idf-heavy term hits
always dominate one.

The injections are a Q*(R+P)-row driver-side list broadcast-joined
onto the corpus (tiny); bm25_topk itself runs its production plan
(`tests/test_plan_budgets.py::test_plan_budget[textstats.bm25_topk]`).
Prints one markdown table (for BASELINE.md) and one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", type=int, default=16)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--relevant", type=int, default=3)
    ap.add_argument("--distractors", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from logshipper_spark.datapipe import textstats
    from logshipper_spark.session import get_spark, release_held

    spark = get_spark(app_name="bm25-eval")
    docs = spark.read.parquet(
        os.path.join(args.sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    n_docs = docs.count()
    q_n, rel_n, dis_n = args.queries, args.relevant, args.distractors
    if q_n * (rel_n + dis_n) > n_docs:
        raise SystemExit(f"corpus too small: {n_docs} docs")

    terms = {q: [f"zzq{q}a", f"zzq{q}b", f"zzq{q}c"] for q in range(q_n)}
    inject: list[tuple[int, str]] = []
    truth: dict[int, list[int]] = {}
    for q in range(q_n):
        rel = [q + i * q_n for i in range(rel_n)]
        dis = [q + (rel_n + i) * q_n for i in range(dis_n)]
        truth[q] = rel
        for d in rel:
            inject.append((d, " ".join(terms[q])))
        for j, d in enumerate(dis):
            inject.append((d, terms[q][j % 3]))
    inj = spark.createDataFrame(inject, "doc_id long, extra string")
    aug = docs.join(F.broadcast(inj), "doc_id", "left").select(
        "doc_id",
        F.concat_ws(" ", "text", F.coalesce("extra", F.lit(""))).alias("text"),
    )
    queries = spark.createDataFrame(
        [(q, " ".join(terms[q])) for q in range(q_n)],
        "query_id long, query string",
    )
    out = textstats.bm25_topk(aug, queries, k=args.k)
    ranked: dict[int, list[int]] = {}
    for r in out.collect():
        ranked.setdefault(r.query_id, []).append((r.rank, r.doc_id))
    release_held()

    cutoffs = sorted({1, 3, 5, args.k})
    recall = {k: 0.0 for k in cutoffs}
    mrr = 0.0
    violations = 0
    for q in range(q_n):
        hits = [d for _, d in sorted(ranked.get(q, []))]
        rel = set(truth[q])
        for k in cutoffs:
            recall[k] += len(rel & set(hits[:k])) / min(len(rel), k)
        first = next((i + 1 for i, d in enumerate(hits) if d in rel), None)
        mrr += (1.0 / first) if first else 0.0
        # violation: any non-relevant doc ranked above the LAST relevant
        # that made the list (distractor beating a full match)
        rel_ranks = [i for i, d in enumerate(hits) if d in rel]
        if rel_ranks:
            violations += sum(
                1 for i, d in enumerate(hits)
                if d not in rel and i < rel_ranks[-1]
            )
        else:
            violations += len(hits)

    for k in cutoffs:
        recall[k] = round(recall[k] / q_n, 4)
    mrr = round(mrr / q_n, 4)

    print("| metric | value |")
    print("|---|---|")
    for k in cutoffs:
        print(f"| recall@{k} | {recall[k]} |")
    print(f"| MRR | {mrr} |")
    print(f"| distractor-above-relevant violations | {violations} |")
    print(json.dumps({
        "metric": "bm25_planted_passage_retrieval",
        "sf_dir": args.sf_dir,
        "queries": q_n,
        "relevant_per_query": rel_n,
        "distractors_per_query": dis_n,
        "recall_at": recall,
        "mrr": mrr,
        "violations": violations,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
