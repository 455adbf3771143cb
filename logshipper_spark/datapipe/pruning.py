"""SSL-prototype data pruning (Sorscher, Geirhos et al., NeurIPS 2022
"Beyond neural scaling laws: beating power law scaling via data
pruning"): cluster the embedding space with k-means, score every
example by its distance to the assigned prototype (centroid), and keep
a per-cluster fraction — the HARDEST (farthest, most atypical)
examples when data is abundant, the EASIEST (closest, most typical)
when data is scarce. Pruning per cluster keeps sparse clusters
represented instead of letting one dense mode dominate the keep-list
(the paper's self-supervised metric needs no labels, which is why it
became a standard 100 TB-corpus curation pass; SemDeDup — semdedup.py
— is the dedup-flavored sibling over the same cell machinery).

The LogShipper reference has no embedding layer; this extends the
datapipe's embedding family (similarity.py k-means/IVF, semdedup.py)
with the published pruning recipe.

Determinism / oracle posture: centroids come from the deterministic
``similarity.kmeans_fit`` (maximin seeding, no rand()) and are
driver-literals at scoring time; the per-vector distance is integer
micros from ``nearest_centroid_struct_col`` (the
``similarity._micro_sq_l2`` cross-engine convention) and the grid
rescale is integer DIV, so ranks
and keep decisions are integer-exact and partition-independent. The
contract oracle re-derives assignment, distance, rank, and the keep
rule from the materialized centroid bytes.

Scale posture (100 TB):
- scoring is MAP-ONLY: cell + distance come from one
  multiply-add pass over num_cells driver-literal centroids per row.
- ranking reuses ``sampling.quantile_bins``'s block-offset machinery:
  no task ever scans a whole cell (a cell of a 10^12-vector corpus can
  hold 10^10 rows). The per-cell distinct-score table is bounded by
  the quantization ``grid`` — at 100 TB choose a coarser grid (1e3–1e4
  points spans the unit-normalized distance range) so the base-rank
  side stays broadcastable; metric precision beyond the grid is noise,
  not signal.
- the keep rule is integer arithmetic on (rank, n_cell) — exact, no
  per-cell collect, no sort of a full cell anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import quantile_bins
from .similarity import nearest_centroid_struct_col

GRID = 1_000_000


def prototype_scores(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    grid: int = GRID,
) -> DataFrame:
    """Per-vector prototypicality: ``(id, cell, dist_micro)`` where
    cell is the nearest trained centroid and dist_micro the squared L2
    distance to it. ``nearest_centroid_struct_col`` yields the
    distance directly as INTEGER MICROS (long — the ``_micro_sq_l2``
    convention), so the grid rescale is pure integer arithmetic:
    ``(d_micros·grid + 500000) DIV 1000000`` (round-half-up, exact in
    any engine — no float round anywhere, the round-4 tie-trap class
    is structurally gone). With the default ``grid`` = 1e6 this is the
    micro distance itself. Map-only."""
    # stage the struct once: both cell and dist_micro read it, and
    # CollapseProject keeps a non-cheap multi-referenced alias staged,
    # so two selects = one kernel call per row
    staged = df.select(
        F.col(id_col),
        nearest_centroid_struct_col(vec_col, centroids).alias("_best"),
    )
    return staged.select(
        F.col(id_col),
        F.col("_best")["i"].cast("int").alias("cell"),
        F.expr(f"CAST((_best.d * {int(grid)} + 500000) DIV 1000000 AS BIGINT)")
        .alias("dist_micro"),
    )


def prototype_prune(
    scores: DataFrame,
    keep_permille: int,
    hardest: bool = True,
    id_col: str = "vec_id",
    block_size: int = 4096,
) -> DataFrame:
    """Per-cluster fraction pruning over ``prototype_scores`` output:
    adds ``rank`` (1-based by ascending distance within the cell, id
    tie-break — exact block-offset ranking, no cell-sized sort),
    ``n_cell``, and ``keep`` (1/0). ``keep_n = (n_cell *
    keep_permille) DIV 1000`` rows per cell stay: the LAST keep_n
    ranks when ``hardest`` (the paper's abundant-data policy), the
    FIRST keep_n otherwise. Integer per-mille avoids any float in the
    keep rule (engine-exact). Never drops rows — downstream filters on
    ``keep`` and can audit the pruned tail."""
    if not 0 <= keep_permille <= 1000:
        raise ValueError(
            f"keep_permille must be in [0, 1000], got {keep_permille}"
        )
    # n_cell rides out of quantile_bins (it aggregates the group total
    # for the bin arithmetic anyway) — a separate scores.groupBy would
    # re-run the whole nearest-centroid scan, the operator's dominant
    # map cost, a second time
    out = quantile_bins(
        scores,
        k=1,
        score_col="dist_micro",
        id_col=id_col,
        group_col="cell",
        block_size=block_size,
        n_col="n_cell",
    ).drop("bin")
    keep_n = F.expr(f"(n_cell * {int(keep_permille)}) DIV 1000")
    cond = (
        F.col("rank") > F.col("n_cell") - keep_n
        if hardest
        else F.col("rank") <= keep_n
    )
    return out.select(
        id_col,
        "cell",
        "dist_micro",
        "rank",
        "n_cell",
        F.when(cond, F.lit(1)).otherwise(F.lit(0)).alias("keep"),
    )
