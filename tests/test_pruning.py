"""SSL-prototype pruning (datapipe.pruning) vs pure-Python references:
assignment/distance from literal centroids, exact per-cell ranking with
id tie-breaks, the integer keep rule for both policies, and partition
independence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logshipper_spark.datapipe import pruning, similarity

CENTS = [[0.0, 0.0], [10.0, 0.0]]
VECS = [
    (0, [0.1, 0.0]),
    (1, [1.0, 1.0]),
    (2, [0.5, -0.5]),
    (3, [9.9, 0.1]),
    (4, [8.0, 0.0]),
    (5, [10.0, 2.0]),
    (6, [0.1, 0.0]),  # exact duplicate of vec 0 — rank tie on dist
    (7, [5.0, 0.0]),  # equidistant (d=25.0 both) — cell tie -> cell 0
]


def _emb(spark, rows=VECS):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _py_scores():
    import math

    out = {}
    for vid, v in VECS:
        # the similarity._micro_sq_l2 convention: per-term floor(term*1e6+0.5)
        # summed as ints, then integer grid rescale (round-half-up)
        ds = [
            sum(
                int(math.floor((a - b) * (a - b) * 1_000_000.0 + 0.5))
                for a, b in zip(v, c)
            )
            for c in CENTS
        ]
        cell = min(range(len(CENTS)), key=lambda i: (ds[i], i))
        out[vid] = (cell, (ds[cell] * pruning.GRID + 500_000) // 1_000_000)
    return out


def _py_prune(keep_permille, hardest):
    scores = _py_scores()
    by_cell: dict[int, list[int]] = {}
    for vid, (cell, d) in scores.items():
        by_cell.setdefault(cell, []).append(vid)
    exp = {}
    for cell, vids in by_cell.items():
        order = sorted(vids, key=lambda v: (scores[v][1], v))
        n = len(order)
        keep_n = (n * keep_permille) // 1000
        for rank0, vid in enumerate(order):
            rank = rank0 + 1
            keep = rank > n - keep_n if hardest else rank <= keep_n
            exp[vid] = (cell, scores[vid][1], rank, n, int(keep))
    return exp


def test_scores_match_python(spark):
    got = {
        r["vec_id"]: (r["cell"], r["dist_micro"])
        for r in pruning.prototype_scores(_emb(spark), CENTS).collect()
    }
    assert got == _py_scores()
    # the equidistant vector resolves to the LOWER index (tie-break)
    assert got[7][0] == 0


@pytest.mark.parametrize(
    "permille,hardest", [(500, True), (500, False), (250, True), (1000, True), (0, True)]
)
def test_prune_matches_python(spark, permille, hardest):
    scores = pruning.prototype_scores(_emb(spark), CENTS)
    got = {
        r["vec_id"]: (r["cell"], r["dist_micro"], r["rank"], r["n_cell"], r["keep"])
        for r in pruning.prototype_prune(scores, permille, hardest=hardest).collect()
    }
    assert got == _py_prune(permille, hardest)


def test_duplicate_dist_ranks_break_ties_by_id(spark):
    scores = pruning.prototype_scores(_emb(spark), CENTS)
    rows = {
        r["vec_id"]: r["rank"]
        for r in pruning.prototype_prune(scores, 500).collect()
    }
    assert rows[0] + 1 == rows[6] or rows[0] < rows[6]  # id 0 before dup 6
    d = {r["vec_id"]: r["dist_micro"]
         for r in pruning.prototype_scores(_emb(spark), CENTS).collect()}
    assert d[0] == d[6]


def test_partition_independent(spark):
    scores = pruning.prototype_scores(_emb(spark), CENTS)
    a = sorted(
        tuple(r) for r in pruning.prototype_prune(scores, 300).collect()
    )
    b = sorted(
        tuple(r)
        for r in pruning.prototype_prune(scores.repartition(5), 300).collect()
    )
    assert a == b


def test_never_drops_and_counts(spark):
    scores = pruning.prototype_scores(_emb(spark), CENTS)
    out = pruning.prototype_prune(scores, 500).collect()
    assert len(out) == len(VECS)
    per_cell = {}
    for r in out:
        per_cell.setdefault(r["cell"], [0, 0])
        per_cell[r["cell"]][0] += r["keep"]
        per_cell[r["cell"]][1] = r["n_cell"]
    for cell, (kept, n) in per_cell.items():
        assert kept == (n * 500) // 1000, (cell, kept, n)


def test_bad_permille_raises(spark):
    scores = pruning.prototype_scores(_emb(spark), CENTS)
    with pytest.raises(ValueError):
        pruning.prototype_prune(scores, 1001)
    with pytest.raises(ValueError):
        pruning.prototype_prune(scores, -1)


def test_end_to_end_with_kmeans_fit(spark):
    """Fit real centroids over two planted blobs; the hardest-keep
    survivors must be each blob's outliers, per cell."""
    rows = [(i, [float(i % 7) / 10.0, 0.0]) for i in range(40)] + [
        (100 + i, [10.0 + float(i % 5) / 10.0, 1.0]) for i in range(40)
    ]
    emb = _emb(spark, rows)
    cents = similarity.kmeans_fit(emb, num_cells=2, dim=2)
    scores = pruning.prototype_scores(emb, cents)
    out = pruning.prototype_prune(scores, 200, hardest=True)
    kept = out.filter("keep = 1")
    # both cells represented (per-cluster pruning, the paper's point)
    assert kept.select("cell").distinct().count() == 2
    # kept rows are the max-distance tail of their cell
    joined = out.alias("o").join(
        kept.groupBy("cell").agg(F.min("dist_micro").alias("min_kept")),
        "cell",
    )
    bad = joined.filter(
        (F.col("keep") == 0) & (F.col("dist_micro") > F.col("min_kept"))
    ).count()
    assert bad == 0
