"""Semantic deduplication over embeddings (the SemDeDup recipe,
Abbas et al. 2023, arXiv:2303.09540): cluster the embedding space with
k-means, then inside each cluster find pairs above a cosine threshold
and keep ONE representative per connected near-dup group. Unlike the
hyperplane-LSH near-dup path (dedup.embedding_near_dup_pairs), the
clusters are TRAINED — they sit where the data actually lives, so a
semantic-duplicate pair (paraphrases, template variants with the same
meaning) lands in one cell even when no random hyperplane cut would
bucket it.

The LogShipper reference has no embedding layer — this is the standard
public technique, composed entirely from operators this repo already
oracle-checks: trained centroids (similarity.kmeans_fit), literal-
centroid cell assignment (similarity._nearest_centroid — the
ann_ivf_trained oracle re-derives it in SQL), and min-label connected
components (dedup.near_dup_components).

Scale posture (100 TB): cell assignment is map-only against
driver-literal centroids (fit on a hash-slice — kmeans_fit
``sample_mod``); the pair search is a self-equi-join ON THE CELL ID, so
candidate count per task is bounded by the largest cell, never the
corpus (SemDeDup's own complexity argument — §3 of the paper: clusters
make the O(n²) pairwise search O(Σ|cell|²)); components run in
O(log diameter) rounds. Nothing is all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import hold
from .dedup import near_dup_components
from .similarity import _nearest_centroid_col, floor_round


def _norm(v) -> Column:
    """Per-row L2 norm — stage it per ROW before any join: inside a
    pair expression it would redo dim multiply-adds per candidate
    pair instead of per row."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda s, x: s + x * x))


def _cos(vec_a, vec_b, nrm_a, nrm_b) -> Column:
    """Zero-norm-guarded cosine from staged vectors + norms: 0/0 = NaN
    and Spark orders NaN ABOVE every threshold, so degenerate (all
    zero) vectors must score 0.0, never NaN. The ONE definition of the
    module's cosine convention — semantic_pairs and
    semantic_dedup_against must agree expression-for-expression or the
    incremental path diverges from the batch path."""
    dot = F.aggregate(
        F.zip_with(vec_a, vec_b, lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    n2 = nrm_a * nrm_b
    return F.when(n2 > 0, dot / n2).otherwise(F.lit(0.0))


def assign_trained_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds ``cell`` = nearest trained centroid (argmin squared L2 in
    integer micros with index tie-break — the exact rule the
    ann_ivf_trained contract oracle re-derives from centroid bytes)."""
    return df.withColumn("cell", _nearest_centroid_col(vec_col, centroids))


def semantic_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cells_df: DataFrame | None = None,
) -> DataFrame:
    """Within-cluster cosine pairs ≥ threshold: ``(id_a, id_b, cosine)``
    with id_a < id_b. Column-renamed self-join on the cell id (never
    alias-qualified — the renamed form survives checkpointing in
    iterative callers).

    Pass ``cells_df`` (``df`` + its ``cell`` column, i.e. an
    ``assign_trained_cells`` result the CALLER persists and releases)
    to skip the in-op assignment+cache — the one-assignment-per-batch
    pattern ``streaming_semantic_dedup`` shares across its three
    consumers."""
    # norms are staged PER ROW before the self-join: computing them
    # inside the pair expression would redo 2x dim multiply-adds per
    # CANDIDATE PAIR instead of per row (~3x the pair-stage cost —
    # same lesson as embedding_near_dup_pairs)
    nrm = _norm(F.col(vec_col))
    if cells_df is None:
        # held: the per-row (vec, norm, cell) frame feeds both sides of
        # the self-join — without it the nearest-centroid argmin
        # (num_cells x dim multiply-adds per row, the dominant map
        # cost) and the source scan run TWICE per action (the round-2
        # minhash self-join lesson)
        cells = hold(assign_trained_cells(df, centroids, vec_col).select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
            nrm.alias("nrm"), "cell",
        ))
    else:
        cells = cells_df.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
            nrm.alias("nrm"), "cell",
        )
    a = cells.select(
        F.col("vid").alias("id_a"), F.col("vec").alias("vec_a"),
        F.col("nrm").alias("nrm_a"), "cell",
    )
    b = cells.select(
        F.col("vid").alias("id_b"), F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nrm_b"), "cell",
    )
    cos = _cos("vec_a", "vec_b", F.col("nrm_a"), F.col("nrm_b"))
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", floor_round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 20,
) -> DataFrame:
    """SemDeDup keep-list: ``(id, component, keep)`` for EVERY input
    row — near-dup groups are the connected components of the
    within-cluster pair graph (transitive: a~b~c collapses even when
    cos(a,c) < threshold), the component label is its minimum member
    id, and ``keep`` marks exactly one representative per group
    (the minimum id — deterministic; the paper keeps a random/centroid-
    distant member, any single-representative rule preserves the
    coverage argument). Singletons keep themselves."""
    pairs = semantic_pairs(df, centroids, threshold, vec_col, id_col)
    labels = near_dup_components(pairs, max_iter=max_iter).select(
        F.col("doc_id").alias("_id"), "component"
    )
    base = df.select(F.col(id_col).alias("_id"))
    return base.join(labels, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.coalesce(F.col("component"), F.col("_id")).alias("component"),
        (F.coalesce(F.col("component"), F.col("_id")) == F.col("_id"))
        .cast("int")
        .alias("keep"),
    )


def write_semantic_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "append",
    codec: str = "zstd",
) -> None:
    """Persist a kept corpus snapshot's embeddings as the carry index
    for INCREMENTAL semantic dedup across crawls — the SemDeDup analog
    of ``dedup.write_minhash_index``: ``<path>/vectors`` holds
    ``(vec_id, embedding)`` partitioned by the TRAINED cell (so probes
    prune directories) and ``<path>/centroids`` the centroid table
    (always overwritten — appended snapshots MUST be assigned with the
    same centroids or cells stop being comparable; fit once with
    ``similarity.kmeans_fit`` and reuse). Append mode accumulates
    snapshots as a continuous-crawl pipeline keeps batches."""
    spark = df.sparkSession
    assign_trained_cells(df, centroids, vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        "cell",
    ).write.mode(mode).option("compression", codec).partitionBy(
        "cell"
    ).parquet(path + "/vectors")
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").option("compression", codec).parquet(
        path + "/centroids"
    )


def semantic_dedup_against(
    df: DataFrame,
    path: str | None = None,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index_df: DataFrame | None = None,
    centroids: list[list[float]] | None = None,
    cells_df: DataFrame | None = None,
) -> DataFrame:
    """Incremental cross-snapshot SEMANTIC dedup: drop every batch row
    whose cosine against ANY indexed vector in the same trained cell
    reaches ``threshold`` ('is this new document a semantic duplicate
    of anything ever kept'). Batch-internal near-dups are not
    collapsed — compose with ``semantic_dedup`` for that, exactly like
    ``dedup.near_dedup_against`` composes with ``minhash_lsh_pairs``.

    The index is self-describing: centroids load from
    ``<path>/centroids`` (num_cells rows — a driver-side literal), the
    batch assigns cells map-only, and the index scan carries a literal
    ``cell IN (batch's occupied cells)`` filter — at 100 TB the probe
    reads only the directories the batch actually touches, and the
    candidate join is bounded per task by cell population, never index
    size (the SemDeDup cluster-bounding argument, applied
    incrementally). Same cosine convention as ``semantic_pairs``
    (staged per-row norms, floor-micros rounding, zero-norm → 0.0), so the
    cell-blindness trade is identical and the contract oracle
    re-derives every decision from the materialized centroid bytes.

    Pass ``index_df`` (``(vec_id, embedding, cell)`` — e.g. the
    partitioned read restricted to COMMITTED batch partitions) and
    ``centroids`` to skip the path reads — the streaming twin
    (``streaming.streaming_semantic_dedup``) does, exactly like
    ``near_dedup_against``'s ``sigs_df``; the probe-cell filter still
    applies and still prunes the upstream partitioned scan. ``cells_df``
    (caller-persisted ``assign_trained_cells`` result, like
    ``semantic_pairs``) skips the in-op batch assignment+cache."""
    spark = df.sparkSession
    if path is None and (centroids is None or index_df is None):
        raise ValueError(
            "semantic_dedup_against needs `path`, or BOTH `index_df` "
            "and `centroids`"
        )
    if centroids is None:
        cent_rows = spark.read.parquet(path + "/centroids").collect()
        cents = {int(r["cell"]): list(r["centroid"]) for r in cent_rows}
        centroids = [cents[i] for i in range(len(cents))]
    nrm = _norm(F.col(vec_col))
    if cells_df is None:
        # held: the probe-cell collect below and the candidate join
        # both read the assigned batch
        batch = hold(assign_trained_cells(df, centroids, vec_col).select(
            F.col(id_col).alias("_bid"),
            F.col(vec_col).alias("_bv"),
            nrm.alias("_bn"),
            "cell",
        ))
    else:
        batch = cells_df.select(
            F.col(id_col).alias("_bid"),
            F.col(vec_col).alias("_bv"),
            nrm.alias("_bn"),
            "cell",
        )
    probe_cells = [r["cell"] for r in batch.select("cell").distinct().collect()]
    inrm = _norm(F.col("embedding"))
    if index_df is None:
        index_df = spark.read.schema(
            "vec_id long, embedding array<double>"
        ).parquet(path + "/vectors")  # hive layout appends the cell col
        if "cell" not in index_df.columns:
            # zero data files under the dir (an empty kept set was
            # indexed, or every partition was vacuumed): hive partition
            # columns materialize only when the listing finds a file,
            # and the probe filter below would throw UNRESOLVED_COLUMN.
            # The committed index is simply empty (compaction.
            # _pinned_scan guards the same case for the batch layout).
            index_df = spark.createDataFrame(
                [], "vec_id long, embedding array<double>, cell int"
            )
    idx = index_df.filter(F.col("cell").isin(probe_cells)).select(
        F.col("embedding").alias("_iv"), inrm.alias("_in"), "cell"
    )
    cos = _cos("_bv", "_iv", F.col("_bn"), F.col("_in"))
    hits = (
        batch.join(idx, "cell")
        .filter(floor_round(cos, 6) >= threshold)
        .select(F.col("_bid").alias(id_col))
        .distinct()
    )
    return df.join(hits, id_col, "left_anti")
