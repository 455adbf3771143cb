"""Measure the substring-dedup family's detection quality against its
theoretical guarantee on the testdata documents.

    python tools/substr_eval.py [sf_dir] [--w 8] [--window 4]

Plants shared passages of controlled token lengths L (a sweep from
below w up to well past the w+window-1 guarantee threshold) into pairs
of otherwise-unrelated real documents, runs ``substr_dup_pairs`` once
over the whole planted corpus, and reports per-L:

* detection rate — planted pairs found / planted (theory: 1.0 for
  every L >= w+window-1; in [w, w+window-2] a pair is found iff one of
  its grams wins a winnow window — partial by design; < w impossible)
* false-positive pairs — detected pairs that were never planted
  (possible only from natural cross-document repetition in the
  corpus, not from the planted passages)
* boundary accuracy for detected pairs at L >= guarantee — mean planted
  tokens NOT covered by the merged span (theory: <= 2*(window-1))

Passages are hash-derived from (L, pair index) — deterministic, no
rand(). One Spark job per table row set, driver loops only over the
small planted-pair list. Prints one markdown table (for BASELINE.md)
and one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--w", type=int, default=8)
    ap.add_argument("--window", type=int, default=4)
    ap.add_argument("--pairs-per-length", type=int, default=20)
    args = ap.parse_args()
    w, window = args.w, args.window
    guarantee = w + window - 1

    from pyspark.sql import functions as F

    from logshipper_spark.datapipe import substr
    from logshipper_spark.session import get_spark, release_held

    spark = get_spark(app_name="logshipper-substr-eval")
    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )

    # L sweep: below w (undetectable), the partial band [w, guarantee-1],
    # the guarantee point, and well past it
    lengths = sorted(
        {w - 2, w, w + (window - 1) // 2, guarantee, guarantee + 5, 2 * guarantee}
    )
    lengths = [length for length in lengths if length >= 1]

    # planted corpus: for each L and pair p, the shared passage's
    # vocabulary is unique to that (L, pair) and each planted doc's
    # CARRIER text is unique to that doc — so any substring sharing
    # between two planted docs can only be a planted passage, and the
    # false-positive count below is a pure algorithmic-error count.
    # The real documents stay in the corpus as scale/noise background.
    planted_rows = []
    planted_pairs: dict[tuple[int, int], int] = {}
    next_id = 10_000_000
    carrier_len = 30
    for L in lengths:
        for p in range(args.pairs_per_length):
            passage = " ".join(f"pp{L}x{p}t{i}" for i in range(L))
            a_id, b_id = next_id, next_id + 1
            next_id += 2
            a_carrier = [f"cc{a_id}t{i}" for i in range(carrier_len)]
            b_carrier = [f"cc{b_id}t{i}" for i in range(carrier_len)]
            a_text = " ".join(
                a_carrier[: carrier_len // 2]
                + passage.split()
                + a_carrier[carrier_len // 2 :]
            )
            b_text = " ".join(
                b_carrier[: carrier_len // 3]
                + passage.split()
                + b_carrier[carrier_len // 3 :]
            )
            planted_rows.append((a_id, a_text, L))
            planted_rows.append((b_id, b_text, L))
            planted_pairs[(a_id, b_id)] = L

    planted = spark.createDataFrame(
        [(i, t) for i, t, _ in planted_rows], "doc_id long, text string"
    )
    corpus = docs.unionByName(planted)

    spans = substr.substr_dup_spans(corpus, w=w, window=window)
    pairs = {
        (r.id_a, r.id_b)
        for r in substr.substr_dup_pairs(
            corpus, w=w, window=window, min_shared=1, spans=spans
        ).collect()
    }
    # merged spans for boundary accuracy on planted docs (same frame —
    # computing them independently would hash/winnow the corpus twice)
    merged = {
        (r.doc_id, r.span_start, r.span_end)
        for r in substr.merge_spans(spans, w=w, merge_gap=window)
        .filter(F.col("doc_id") >= 10_000_000)
        .collect()
    }
    release_held()
    covered_by_doc: dict[int, int] = {}
    for doc_id, s, e in merged:
        covered_by_doc[doc_id] = covered_by_doc.get(doc_id, 0) + (e - s + 1)

    # false positives = planted-vs-planted pairs that were NOT planted
    # together: each passage's vocabulary is unique to its (L, pair), so
    # any such pair is an algorithmic error. (Pairs between a planted
    # doc and a REAL doc are excluded — planted docs embed a full real
    # document, so detecting them against that document's natural
    # near-dups is correct behavior, not a false positive.)
    planted_ids = {i for i, _, _ in planted_rows}
    fp_pairs = [
        (a, b)
        for a, b in pairs
        if (a, b) not in planted_pairs
        and a in planted_ids
        and b in planted_ids
    ]

    rows = []
    for L in lengths:
        want = [k for k, pl in planted_pairs.items() if pl == L]
        got = [k for k in want if k in pairs]
        uncovered = None
        if L >= guarantee and got:
            miss = []
            for a, b in got:
                for d in (a, b):
                    miss.append(max(0, L - covered_by_doc.get(d, 0)))
            uncovered = round(sum(miss) / len(miss), 2)
        rows.append(
            {
                "L": L,
                "band": (
                    "below_w"
                    if L < w
                    else "partial" if L < guarantee else "guaranteed"
                ),
                "planted": len(want),
                "detected": len(got),
                "rate": round(len(got) / len(want), 3) if want else None,
                "mean_uncovered_tokens": uncovered,
            }
        )

    result = {
        "w": w,
        "window": window,
        "guarantee_len": guarantee,
        "pairs_per_length": args.pairs_per_length,
        "planted_false_positive_pairs": len(fp_pairs),
        "rows": rows,
    }
    print(json.dumps(result))
    print()
    print("| L (tokens) | band | detected/planted | rate | mean uncovered tokens |")
    print("|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['L']} | {r['band']} | {r['detected']}/{r['planted']} |"
            f" {r['rate']} | {r['mean_uncovered_tokens']} |"
        )
    # the hard claims
    bad = [
        r for r in rows if r["band"] == "guaranteed" and r["rate"] is not None
        and r["rate"] < 1.0
    ]
    print()
    print(
        "guarantee check:",
        "VIOLATED" if bad else f"holds (every L >= {guarantee} at rate 1.0)",
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
