"""Approximate-nearest-neighbor search over an embedding column.

* ``cosine_topk`` — brute-force exact baseline: one narrow scan, dot
  products via zip_with/aggregate (JVM-side), global top-k via
  orderBy+limit (Spark plans it as TakeOrderedAndProject — per-partition
  heaps + driver merge of k rows, not a full sort).
* ``ivf_topk`` — the scale path: k-means-style inverted-file index with
  deterministic hash-seeded centroids; queries probe the nearest
  ``n_probe`` cells only, turning a 100 TB scan into a pruned
  partition-wise scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import hold


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))


def cosine_similarity(a: Column, b: Column) -> Column:
    n = _norm(a) * _norm(b)
    return F.when(n > 0, _dot(a, b) / n).otherwise(F.lit(0.0))


def floor_round(c: Column, dp: int = 6) -> Column:
    """Cross-engine-EXACT round-half-up to ``dp`` decimals:
    ``floor(x·10^dp + 0.5) / 10^dp`` — two IEEE double ops, an exact
    floor, and one IEEE divide, bit-identical in Spark, DuckDB, and
    Python. ``F.round`` is exact-BigDecimal HALF_UP while DuckDB
    rounds in scaled double arithmetic, so a value landing near a .5
    boundary can round differently per engine — the round-4 PQ-gate
    failure class. Every rounded value a contract oracle re-derives
    (cosines, jaccard, containment) goes through this instead; the
    oracle twin is ``__spark_entry__._sql_floor_round``. Halves round
    toward +inf (not away-from-zero) — a convention change that is
    irrelevant as long as both engines share it. NULL propagates."""
    scale = float(10**dp)
    return F.floor(c * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


def cosine_topk(
    df: DataFrame,
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector."""
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = df.select(
        F.col(id_col),
        floor_round(cosine_similarity(F.col(vec_col), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def _plane(dim: int, seed: int) -> list[float]:
    """Deterministic ±1 hyperplane, computed ONCE on the driver and
    shipped as a literal array — no per-row hashing (the previous form
    re-derived every plane element with xxhash64 for every row, which
    is pure waste at scale)."""
    out = []
    x = (seed * 0x9E3779B97F4A7C15 + 0xD1B54A32D192ED03) & (1 << 64) - 1
    for _ in range(dim):
        # splitmix64 step — deterministic, dependency-free
        x = (x + 0x9E3779B97F4A7C15) & (1 << 64) - 1
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & (1 << 64) - 1
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & (1 << 64) - 1
        z ^= z >> 31
        out.append(1.0 if z & 1 == 0 else -1.0)
    return out


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Vector width from the first non-null row; 0 for an empty/null
    input (callers then build empty planes and produce no matches
    instead of crashing). Note this runs a small job at plan-build
    time; pass ``dim`` explicitly to keep construction lazy."""
    row = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    if row is None or row["d"] is None:
        return 0
    return int(row["d"])


def assign_cells(
    df: DataFrame,
    num_cells: int = 16,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF cell assignment with deterministic hyperplane signatures (a
    stand-in for trained k-means centroids that needs no fitting pass;
    swap in real centroids when a training step exists). The cell id is
    stable per vector → usable as a partition/bucket key."""
    import math

    bits = max(1, int(math.ceil(math.log2(num_cells))))
    dim = dim if dim is not None else _vec_dim(df, vec_col)
    v = F.col(vec_col)
    cell = F.lit(0)
    for p in range(bits):
        plane = F.array(*[F.lit(x) for x in _plane(dim, 1000 + p)])
        proj = F.aggregate(
            F.zip_with(v, plane, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x
        )
        cell = cell + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return df.withColumn("cell", cell.cast("int"))


def probe_cells(query: list[float], num_cells: int = 16, n_probe: int = 4) -> list[int]:
    """The query's own cell plus its ``n_probe - 1`` nearest neighbors
    (single signature-bit flips) — computed entirely on the driver
    (the planes are deterministic literals, no Spark job)."""
    import math

    bits = max(1, int(math.ceil(math.log2(num_cells))))
    qcell = 0
    for p in range(bits):
        plane = _plane(len(query), 1000 + p)
        proj = sum(a * b for a, b in zip(query, plane))
        if proj > 0:
            qcell |= 1 << p
    probes = [qcell] + [qcell ^ (1 << b) for b in range(bits)]
    return probes[: max(1, n_probe)]


def ivf_topk(
    df: DataFrame,
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    num_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style pruned top-k over an *unindexed* frame: assigns cells
    on the fly and filters — a full scan with a cheap predicate. For
    the 100 TB path use ``write_ivf_index`` + ``ivf_topk_indexed``,
    where the probe is directory-level partition pruning instead."""
    probes = probe_cells(query, num_cells, n_probe)
    cells = assign_cells(df, num_cells, vec_col, dim=len(query))
    pruned = cells.filter(F.col("cell").isin(probes))
    return cosine_topk(pruned, query, vec_col, id_col, k)


def write_ivf_index(
    df: DataFrame,
    path: str,
    num_cells: int = 16,
    vec_col: str = "embedding",
    dim: int | None = None,
    mode: str = "overwrite",
    codec: str = "zstd",
) -> None:
    """Persist the table partitioned by its IVF cell (the cell id is
    stable per vector, so this is a one-time ingest-side cost). Queries
    through ``ivf_topk_indexed`` then read only the probed partition
    directories — at 100 TB, a ``n_probe/num_cells`` fraction of the
    bytes, decided before any task launches. ``codec`` defaults zstd
    like every sibling index writer (the session default lz4 is
    unreadable to DuckDB — CLAUDE.md round-2 gotcha)."""
    assign_cells(df, num_cells, vec_col, dim=dim).write.mode(mode).option(
        "compression", codec
    ).partitionBy("cell").parquet(path)


def ivf_knn_join(
    spark,
    index_path: str,
    queries_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 10,
    num_cells: int = 16,
    n_probe: int = 4,
    dim: int | None = None,
    salt: int | None = None,
) -> DataFrame:
    """Batch ANN join: top-k neighbors for EVERY query row against a
    ``write_ivf_index`` table, in one plan. Each query's probe cells
    are computed Spark-side (no driver loop — the query table can be
    arbitrarily large) and exploded; the equi-join on ``cell`` hits
    only probed index partitions (broadcast when the query side is
    small, co-partitioned shuffle otherwise). Top-k is a per-query
    row_number window over the candidates — candidate count per query
    is bounded by the probed cells' population, never the full table.

    Index-side pruning is a LITERAL partition filter, not a hope that
    dynamic partition pruning fires on the join: the distinct probe
    cells across all queries are collected to the driver first — a
    tiny aggregation bounded by ``num_cells`` values by construction —
    and pushed as ``cell IN (...)`` onto the partitioned index scan, so
    unprobed directories are skipped at planning time (proof:
    ``tests/test_plan_budgets.py::test_ivf_knn_join_prunes_to_literal_cells``).

    Skew: the candidate equi-join key has ≤ ``num_cells`` distinct
    values, so when BOTH sides are large (no broadcast) a hot cell
    concentrates in one task. Two mitigations, pick one: (a) default —
    the join is a plain shuffle join, so AQE's skew-join splits the
    oversized partition at runtime (session default on; the
    ``skew=true`` proof on a synthetic hot cell is
    ``tests/test_plan_budgets.py::test_ivf_knn_join_splits_hot_cell``); (b)
    ``salt=s`` — explicit two-sided salting: index rows carry
    ``pmod(xxhash64(id), s)``, each query-probe row fans out to all
    ``s`` salt lanes, and the join key becomes ``(cell, _salt)`` — a
    hot cell spreads across ``s`` tasks deterministically (results
    identical: every (candidate, probe) pair still meets exactly
    once). Salting multiplies the query side ×``s``, so prefer (a)
    unless the query batch is small relative to the hot cell."""
    import math

    bits = max(1, int(math.ceil(math.log2(num_cells))))
    # NULL query vectors have no well-defined probe set — without the
    # filter they'd assign to cell 0 and emit k fabricated cosine-0.0
    # "neighbors" (the ivf_pq_knn_join convention)
    q = assign_cells(
        queries_df.filter(F.col(vec_col).isNotNull()), num_cells, vec_col, dim=dim
    )
    probe_arr = F.slice(
        F.array(
            F.col("cell"),
            *[F.col("cell").bitwiseXOR(F.lit(1 << b)) for b in range(bits)],
        ),
        1,
        max(1, n_probe),
    )
    qx = hold(q.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_qn"),
        F.explode(probe_arr).alias("cell"),
    ))  # the probe-set collect below evaluates the query subtree;
    # without the hold the join re-evaluates it a second time (a
    # derived query chain would pay its full cost twice), and a
    # non-deterministic query frame could even probe cells diverging
    # from the join side.
    probed = sorted(
        r["cell"] for r in qx.select("cell").distinct().collect()
    )  # ≤ num_cells values — bounded by construction, not by data volume
    # norms staged per ROW on both sides — recomputing them inside the
    # scored expression would cost 2x dim multiply-adds per CANDIDATE
    # (cells x queries), not per row (see semdedup.semantic_pairs)
    idx = (
        spark.read.parquet(index_path)
        .where(F.col("cell").isin(probed) if probed else F.lit(False))
        .select(
            id_col,
            vec_col,
            _norm(F.col(vec_col)).alias("_in"),
            F.col("cell").cast("int").alias("cell"),
        )
    )
    join_keys = ["cell"]
    if salt and salt > 1:
        # two-sided salt: index rows hold ONE salt lane, probe rows fan
        # out to ALL lanes — the salt explode happens AFTER the persist
        # so the probe-set collect isn't multiplied
        idx = idx.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)).cast("int")
        )
        qx = qx.withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0), F.lit(salt - 1))),
        )
        join_keys = ["cell", "_salt"]
    n2 = F.col("_in") * F.col("_qn")
    cos = F.when(
        n2 > 0, _dot(F.col(vec_col), F.col("_qv")) / n2
    ).otherwise(F.lit(0.0))
    scored = idx.join(qx, join_keys).select(
        query_id_col,
        F.col(id_col),
        floor_round(cos, 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def hard_negatives(
    spark,
    index_path: str,
    queries_df: DataFrame,
    positives_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    num_cells: int = 16,
    n_probe: int = 4,
    dim: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    every anchor in ``queries_df``, the ``k`` most similar index
    vectors that are NOT the anchor itself (``exclude_self`` — anchors
    drawn from the corpus always hit themselves at cosine 1) and not
    among its labeled positives (``positives_df``: one
    ``(query_id_col, id_col)`` row per positive). Output
    ``(query_id, id, cosine, neg_rank)``.

    Retrieval over-fetches exactly ``k + max positives per anchor
    (+1 for self)`` through ``ivf_knn_join`` — the max is a tiny
    driver-side aggregate over the positives table (label data, never
    corpus-sized) — so after the anti-join every anchor still has ≥ k
    candidates FROM THE PROBED POOL (the usual ANN recall caveat, same
    as ivf_knn_join itself). The anti-join keys on (query, id); the
    re-rank window scans only each anchor's ≤ fetch candidates.

    ``exclude_self`` compares index ids to query ids DIRECTLY, so it is
    only meaningful when anchors are drawn from the indexed corpus
    (shared id space — the usual mining setup). If query ids live in a
    separate id space, a corpus vector whose id happens to equal a
    query id would be silently dropped: pass ``exclude_self=False``
    there and list the anchor's own row (if any) among its
    positives."""
    p_max_row = (
        positives_df.groupBy(query_id_col)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c"))
        .first()
    )
    p_max = int(p_max_row[0] or 0) if p_max_row else 0
    fetch = k + p_max + (1 if exclude_self else 0)
    cand = ivf_knn_join(
        spark,
        index_path,
        queries_df,
        vec_col=vec_col,
        id_col=id_col,
        query_id_col=query_id_col,
        k=fetch,
        num_cells=num_cells,
        n_probe=n_probe,
        dim=dim,
    )
    pos = positives_df.select(query_id_col, id_col).dropDuplicates()
    neg = cand.join(pos, [query_id_col, id_col], "left_anti")
    if exclude_self:
        # null-safe: plain != is never true under a NULL id and would
        # silently drop NULL-id candidates along with the self rows
        neg = neg.filter(~F.col(id_col).eqNullSafe(F.col(query_id_col)))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
    )


def quantize_vectors(
    df: DataFrame, vec_col: str = "embedding", bits: int = 8
) -> DataFrame:
    """Symmetric per-vector scalar quantization: adds ``qscale``
    (double) and ``qvec`` (array<tinyint>) columns, where
    ``qvec[i] = floor(v[i]/qscale + 0.5)`` and ``qscale`` maps the
    vector's max |component| to the int8 range. At corpus scale the
    quantized index is ~4x smaller than float32 (8x vs double) in
    executor memory and shuffle bytes, and candidate scoring becomes
    integer multiply-adds; exact floats are kept only for the final
    rerank set. Deterministic: explicit floor(x+0.5) rounding (not the
    engine's round()) so any independent reader — including the DuckDB
    contract oracle — re-derives identical codes from the same floats.
    One narrow projection, no shuffle, no UDF."""
    qmax = float((1 << (bits - 1)) - 1)
    v = F.col(vec_col)
    scale = (
        F.greatest(F.array_max(F.transform(v, F.abs)), F.lit(1e-30)) / F.lit(qmax)
    )
    out = df.withColumn("qscale", scale)
    return out.withColumn(
        "qvec",
        F.transform(
            v,
            lambda x: F.floor(x / F.col("qscale") + F.lit(0.5)).cast("tinyint"),
        ),
    )


def quantized_topk(
    df: DataFrame,
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    rerank: int = 4,
    bits: int = 8,
) -> DataFrame:
    """Two-stage ANN: int8-quantized coarse scoring → exact cosine
    rerank. Stage 1 scores every row with an integer dot product
    against the (identically) quantized query and keeps the top
    ``k*rerank`` via TakeOrderedAndProject (per-partition heaps, k·r
    rows to the driver — never a full sort). Stage 2 computes exact
    float cosine on just those candidates. Score is
    ``qscale_doc * qscale_query * int_dot`` — the integer dot is exact
    in any engine, so candidate selection is bit-reproducible.
    Ties broken by id at both stages."""
    import math

    qmax = (1 << (bits - 1)) - 1
    qs = max(max(abs(float(x)) for x in query), 1e-30) / qmax
    qq = [int(math.floor(float(x) / qs + 0.5)) for x in query]
    # reuse codes persisted at ingest (write-time quantize_vectors, e.g.
    # jobs/run_ann_index.py --quantize) — the coarse stage then reads
    # int8 columns instead of re-deriving them from the floats
    if "qvec" in df.columns and "qscale" in df.columns:
        qd = df
    else:
        qd = quantize_vectors(df, vec_col, bits=bits)
    qarr = F.array(*[F.lit(int(x)) for x in qq])
    # tinyint*tinyint would overflow-throw under ANSI — widen first;
    # accumulate in long
    idot = F.aggregate(
        F.zip_with(F.col("qvec").cast("array<int>"), qarr, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    qscore = F.col("qscale") * F.lit(qs) * idot.cast("double")
    cand = (
        qd.select(F.col(id_col), F.col(vec_col), qscore.alias("qscore"))
        .orderBy(F.col("qscore").desc(), F.col(id_col))
        .limit(k * rerank)
    )
    qlit = F.array(*[F.lit(float(x)) for x in query])
    return (
        cand.select(
            F.col(id_col),
            # +1e-9 kept for value-stability with the r1-era oracle
            # convention; floor_round makes the tie handling structural
            floor_round(F.col("qscore") + F.lit(1e-9), 6).alias("qscore_r"),
            floor_round(
                cosine_similarity(F.col(vec_col), qlit), 4
            ).alias("cosine_r"),
        )
        .orderBy(F.col("cosine_r").desc(), F.col(id_col))
        .limit(k)
    )


def _vec_key(v: Column) -> Column:
    """Deterministic 64-bit key for a vector (no rand()): hash of the
    comma-joined string form."""
    return F.xxhash64(F.concat_ws(",", v.cast("array<string>")))


def _sq_l2_micros(v: Column, lit: Column) -> Column:
    """INTEGER-EXACT squared L2 to a literal vector: each term is
    ``floor((a-b)²·1e6 + 0.5)`` — three IEEE-754 double ops plus an
    exact floor, bit-identical in Spark, DuckDB, Python, and numpy —
    summed as longs (order-independent). This replaced the old
    ``F.round(Σ, 6)`` double compare after the round-4 driver gate
    flipped a (dist, code) tie on it: Spark rounds via exact BigDecimal
    HALF_UP while DuckDB rounds in scaled double arithmetic, so a sum
    landing near a .5 micro boundary could order differently
    cross-engine. Per-term integer quantization makes hash parity
    structural rather than probabilistic (the _adc_scored discipline).
    A NULL term contributes 0 (per-term coalesce)."""
    return F.aggregate(
        F.zip_with(
            v,
            lit,
            lambda a, b: F.floor(
                F.coalesce((a - b) * (a - b), F.lit(0.0))
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            ),
        ),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )


def nearest_centroid_struct(v: Column, centroids: list[list[float]]) -> Column:
    """``struct(d, i)`` of the nearest driver-literal centroid by
    squared L2 in INTEGER MICROS (``_sq_l2_micros`` — per-term
    ``floor(term·1e6+0.5)`` summed as longs, so an independent
    re-derivation, the DuckDB oracle, agrees on every comparison by
    construction), index tie-break. One multiply-add pass per centroid
    per row. ``d`` is the micro-distance (long) to the WINNING
    centroid — the prototypicality score pruning ranks on
    (datapipe.pruning).

    A NULL vector ELEMENT contributes 0 to every distance (per-term
    coalesce) — matching kmeans_fit's Lloyd-sum convention exactly, so
    assignment and centroid update agree on such rows instead of a
    NULL distance silently degenerating every assignment to cell 0."""
    ds = []
    for i, c in enumerate(centroids):
        lit = F.array(*[F.lit(float(x)) for x in c])
        d = _sq_l2_micros(v, lit)
        ds.append(F.struct(d.alias("d"), F.lit(i).alias("i")))
    return F.array_min(F.array(*ds))


def _nearest_centroid(v: Column, centroids: list[list[float]]) -> Column:
    """Argmin cell index of ``nearest_centroid_struct``."""
    return nearest_centroid_struct(v, centroids)["i"].cast("int")


def _nearest_centroid_col(vec_col: str, centroids: list[list[float]]) -> Column:
    """``_nearest_centroid`` with the kernel/expression switch: at or
    above ``_ARROW_ASSIGN_MIN_CELLS`` centroids the assignment runs in
    the Arrow kernel (``_pq_codes_arrow`` with the centroid set as a
    single full-width 'codebook' — identical integer-micro arithmetic,
    no Janino cost), else the expression form. Index writers and cell
    assigners that take a COLUMN NAME use this; pruning keeps the
    struct form because it also needs the winning distance."""
    if len(centroids) >= _ARROW_ASSIGN_MIN_CELLS:
        return F.element_at(_pq_codes_arrow(vec_col, [centroids]), 1)
    return _nearest_centroid(F.col(vec_col), centroids)


# At or above this many centroids, nearest-centroid assignment uses
# the Arrow-batched numpy kernel instead of the expression cascade —
# same arithmetic (per-term floor((a-b)²·1e6+0.5), NULL→0, exact
# integer-valued sums, first-index argmin), verified equal by
# test_kmeans_arrow_assign_parity / test_pq_codes_arrow. The
# expression form pays seconds of Janino compilation PER PROJECTION
# (each Lloyd iteration recompiles its num_cells × dim fold cascade
# because the centroid literals changed) and interprets past the
# 64 KB method cliff; measured at sf0.1/64-dim the kernel wins even
# at 8 cells (2.6 s vs 4.7 s kmeans_fit; pq_fit 1.9 s vs 5.4 s), so
# the threshold sits low — the expression path remains for
# tiny/degenerate centroid sets and as the parity reference. Oracle
# re-derivability is unaffected: both paths produce identical codes
# (integer-micro parity is structural), and the SQL oracles re-derive
# from the persisted centroid/codebook bytes either way.
_ARROW_ASSIGN_MIN_CELLS = 8

# The per-QUERY probe-cell cascade in ivf_pq_knn_join keeps the
# expression form longer: with one fold per cell over a small cached
# cascade, the Arrow worker round trip costs more than the compute at
# serving-typical small batches (measured +0.6 s at 16 cells /
# 32 queries), and the Janino/64 KB wall only threatens at cell counts
# far above contract scale. Parity between the two forms is pinned by
# test_cell_dist_and_probe_kernels_match_expression.
_ARROW_PROBE_MIN_CELLS = 64


def _dense_rows(vs: pd.Series, dim: int) -> np.ndarray:
    """``(rows, dim)`` matrix of an Arrow vector batch; missing/NULL → NaN."""
    arr = np.full((len(vs), dim), np.nan)
    for i, vec in enumerate(vs):
        if vec is None:
            continue
        a = np.asarray(vec, dtype=np.float64)[:dim]
        arr[i, : len(a)] = a
    return arr


def _micro_sq_l2(arr: np.ndarray, C: np.ndarray) -> np.ndarray:
    """``(rows, centroids)`` kernel twin of ``_sq_l2_micros``: per-term
    ``floor((a-b)²·1e6+0.5)``, NaN terms 0, summed left to right in
    float64 — exact, with no int64 astype per term, only below 2^53.
    The terms are non-negative, so the final max bounds every partial
    sum (unit-scale vectors × dim ≤ 1e3 stay near 1e10)."""
    acc = np.zeros((arr.shape[0], C.shape[0]))
    for j in range(C.shape[1]):
        d = arr[:, j][:, None] - C[None, :, j]
        d *= d
        np.nan_to_num(d, copy=False)
        d *= 1e6
        d += 0.5
        np.floor(d, out=d)
        acc += d
    if acc.size and acc.max() >= 2**53:
        raise ValueError(
            "integer-micro squared L2 distance reached 2**53, where float64 "
            "sums stop being exact; rescale the vectors toward unit scale"
        )
    return acc


def _lloyd_assign(base: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """``(cell, _v)`` Lloyd assignment of ``base._v`` to the nearest
    driver-literal centroid — expression form for small centroid sets,
    Arrow kernel beyond ``_ARROW_ASSIGN_MIN_CELLS`` (bit-identical; see
    note above)."""
    if len(centroids) < _ARROW_ASSIGN_MIN_CELLS:
        return base.select(
            _nearest_centroid(F.col("_v"), centroids).alias("cell"), "_v"
        )
    C = np.asarray(centroids, dtype=np.float64)
    dim = C.shape[1]

    @F.pandas_udf("int")
    def cell_of(vs: pd.Series) -> pd.Series:
        acc = _micro_sq_l2(_dense_rows(vs, dim), C)
        return pd.Series(np.argmin(acc, axis=1).astype("int32"))

    return base.select(cell_of("_v").alias("cell"), "_v")


def _maximin_seeds_scalar(
    pts: list[list[float]], num_cells: int
) -> list[list[float]]:
    """Scalar reference for ``_maximin_seeds`` — kept as the fallback
    for ragged samples (zip truncates to the shorter vector, which a
    rectangular numpy matrix can't express) and as the equality target
    for the vectorized path's unit test. Distances are integer micros
    (the ``_sq_l2_micros`` convention) so scalar/numpy parity is
    structural, not corpus-empirical."""
    import math

    centroids = [list(pts[0])]
    dmin = [float("inf")] * len(pts)
    while len(centroids) < num_cells:
        c = centroids[-1]
        for i, p in enumerate(pts):
            d = sum(
                int(math.floor((a - b) * (a - b) * 1_000_000.0 + 0.5))
                for a, b in zip(p, c)
            )
            if d < dmin[i]:
                dmin[i] = d
        # max() returns the FIRST maximal element and pts are hash-
        # ordered, so ties resolve to the smallest hash. dmin 0 =
        # every distinct sample vector already chosen (tiny corpus):
        # the pick duplicates a centroid, whose cell just stays empty.
        centroids.append(list(pts[max(range(len(pts)), key=dmin.__getitem__)]))
    return centroids


def _maximin_seeds(pts: list[list[float]], num_cells: int) -> list[list[float]]:
    """Farthest-point (maximin) seeding over a hash-ordered sample,
    numpy-vectorized: first seed = ``pts[0]`` (smallest hash), each
    next seed = the sample point maximizing its integer-micro squared
    L2 distance (the ``_sq_l2_micros`` convention — per-term
    ``floor(term·1e6+0.5)`` summed in int64, exact and
    order-independent, so scalar/numpy parity is structural) to the
    nearest chosen seed. ``np.argmax`` returns the FIRST maximal
    element and ``pts`` are hash-ordered, so ties resolve to the
    smallest hash — the scalar reference loop's pick order. The scalar
    loop is O(num_cells·|sample|·dim) Python float ops — at a
    serving-realistic num_cells=4096 over the 32x sample that is hours
    on the driver; the numpy form is the same arithmetic at C speed."""

    if len({len(p) for p in pts}) != 1:
        # ragged sample (mixed vector widths): the reference zip
        # truncates per pair — not expressible as one matrix op
        return _maximin_seeds_scalar(pts, num_cells)
    P = np.asarray(pts, dtype=np.float64)
    n = len(pts)
    seeds = [list(pts[0])]
    last = P[0]
    # float dmin holding exact int64 micro values (all < 2^53): lets
    # the init stay +inf while comparisons remain exact
    dmin = np.full(n, np.inf)
    while len(seeds) < num_cells:
        diff = P - last
        sq = diff * diff
        acc = np.zeros(n, dtype=np.int64)
        for j in range(P.shape[1]):
            acc += np.floor(sq[:, j] * 1e6 + 0.5).astype(np.int64)
        np.minimum(dmin, acc, out=dmin)
        i = int(np.argmax(dmin))
        seeds.append([float(x) for x in P[i]])
        last = P[i]
    return seeds


def kmeans_fit(
    df: DataFrame,
    num_cells: int = 16,
    vec_col: str = "embedding",
    dim: int | None = None,
    max_iter: int = 5,
    sample_mod: int | None = None,
) -> list[list[float]]:
    """Deterministic Lloyd k-means: trained centroids for a real
    IVF-Flat index (the hyperplane cells in ``assign_cells`` are the
    fitting-free stand-in; trained centroids cluster where the data
    actually lives, so the same ``n_probe`` recovers more true
    neighbors).

    Determinism: init is farthest-point (maximin) seeding with no
    rand() — one bounded TakeOrdered collects the
    ``max(256, 32*num_cells)`` vectors with the smallest content hash
    (hashes are uniform, so this is a uniform sample), then maximin
    runs driver-side over the sample: first seed = smallest hash, each
    next seed = sample point maximizing distance to its nearest chosen
    seed (integer-micro distances, ties broken by hash order). Hash-min-k init is
    NOT used directly as the seeds: two of the k smallest hashes can
    land in one dense cluster and Lloyd then sits in a local minimum
    that merges two true clusters. Init is ONE scan regardless of
    ``num_cells``; every Lloyd iteration is one scan with
    map-side-combined per-cell dimension sums (``num_cells`` rows × dim
    doubles collected — bytes, not data volume). An empty cell keeps
    its previous centroid. ``sample_mod=m`` fits on the deterministic
    1/m hash-slice of the rows — at 100 TB you fit on a slice and
    assign everything (the standard IVF practice)."""
    dim = dim if dim is not None else _vec_dim(df, vec_col)
    v = F.col(vec_col)
    # NULL vectors can't seed (NoneType on the driver) and would skew
    # the mean lanes (F.sum skips them while count(*) doesn't) — the
    # _vec_dim convention applied to the fit frame
    fit_df = df.filter(v.isNotNull())
    if sample_mod:
        fit_df = fit_df.filter(F.pmod(_vec_key(v), F.lit(sample_mod)) == 0)
    base = (
        fit_df.select(v.alias("_v"))
        .withColumn("_k", _vec_key(F.col("_v")))
        .persist()
    )
    sample = base.orderBy("_k").limit(max(256, 32 * num_cells)).collect()
    if not sample:
        base.unpersist()
        return []
    # hash-ordered; NULL elements read as 0.0 (the Lloyd update's
    # coalesce convention) instead of float(None) TypeError
    pts = [[0.0 if x is None else float(x) for x in r["_v"]] for r in sample]
    centroids = _maximin_seeds(pts, num_cells)
    for _ in range(max_iter):
        assigned = _lloyd_assign(base, centroids)
        # per-dimension sums quantized to integer micros and summed in
        # decimal(38,0): plain double F.sum is partition-merge-order
        # dependent, so the same data could yield ulp-different
        # centroids run-to-run and flip a micro-grid nearest-centroid tie —
        # integer sums make Lloyd exactly reproducible (the lm.py /
        # anomaly.py order-independent-sum convention); 1e-6 grid is
        # the repo-wide 1e-6-grid distance convention
        # try_element_at + coalesce-to-0.0: dim comes from the FIRST
        # row, and under ANSI (Spark 4 default) a plain element_at on
        # one truncated/ragged vector would throw INVALID_ARRAY_INDEX
        # and kill the whole fit; a short vector instead contributes
        # 0.0 to the dimensions it lacks (NULL elements likewise)
        sums = assigned.groupBy("cell").agg(
            F.array(
                *[
                    F.sum(
                        F.floor(
                            F.coalesce(
                                F.try_element_at("_v", F.lit(i + 1)),
                                F.lit(0.0),
                            )
                            * F.lit(1_000_000.0)
                            + F.lit(0.5)
                        ).cast("decimal(38,0)")
                    )
                    for i in range(dim)
                ]
            ).alias("_s"),
            F.count("*").alias("_n"),
        )
        new = {
            r["cell"]: [float(x) / (r["_n"] * 1_000_000.0) for x in r["_s"]]
            for r in sums.collect()
        }
        centroids = [new.get(i, centroids[i]) for i in range(num_cells)]
    base.unpersist()
    return centroids


def _write_centroids(
    spark, path: str, centroids: list[list[float]], mode: str, codec: str
) -> None:
    """One (cell, centroid) sidecar row per coarse cell — the
    self-describing half every IVF-family writer shares (schema, codec,
    and single-file layout must stay identical across writers so
    probes and oracles read any of them interchangeably)."""
    spark.createDataFrame(
        [(i, list(c)) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode(mode).option("compression", codec).parquet(path)


def _write_codebook(
    spark, path: str, codebooks: list[list[list[float]]], mode: str, codec: str
) -> None:
    """(sub, code, centroid) PQ codebook sidecar — shared by
    write_pq_index and write_ivf_pq for the same reason as
    ``_write_centroids``."""
    rows = [
        (s, c, list(book[c]))
        for s, book in enumerate(codebooks)
        for c in range(len(book))
    ]
    spark.createDataFrame(
        rows, "sub int, code int, centroid array<double>"
    ).coalesce(1).write.mode(mode).option("compression", codec).parquet(path)


def _nearest_probe_cells(
    cent: dict[int, list[float]], query: list[float], n_probe: int
) -> list[int]:
    """The ``n_probe`` trained cells nearest the query, driver-side
    (the centroid table is num_cells rows): integer-micro squared-L2
    (the ``_sq_l2_micros`` convention — Python floats ARE IEEE
    doubles, so ``floor((a-b)²·1e6+0.5)`` here is bit-identical to the
    Spark/DuckDB expression) / cell-id tie-break — the ONE convention
    every probe path and every contract oracle re-derives, kept in one
    place."""
    import math

    by_dist = sorted(
        cent,
        key=lambda c: (
            sum(
                int(math.floor((a - b) * (a - b) * 1_000_000.0 + 0.5))
                for a, b in zip(query, cent[c])
            ),
            c,
        ),
    )
    return by_dist[: max(1, n_probe)]


def write_ivf_trained(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    mode: str = "overwrite",
    codec: str = "zstd",
) -> None:
    """Persist the table partitioned by its TRAINED cell, plus the
    centroid table at ``<path>_centroids`` — the index is then fully
    self-describing: probes (and the contract oracle) re-derive every
    assignment from the same centroid bytes."""
    spark = df.sparkSession
    df.withColumn("cell", _nearest_centroid_col(vec_col, centroids)).write.mode(
        mode
    ).option("compression", codec).partitionBy("cell").parquet(path)
    _write_centroids(spark, path + "_centroids", centroids, mode, codec)


def ivf_trained_topk(
    spark,
    path: str,
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_probe: int = 4,
    rerank: int | None = None,
) -> DataFrame:
    """Top-k against a ``write_ivf_trained`` index: the ``n_probe``
    centroids nearest the query are found on the driver (the centroid
    table is num_cells rows), and the scan carries a literal
    ``cell IN`` partition filter — unprobed directories never read.
    ``rerank=r`` coarse-scores the probed cells with int8 codes (stored
    ones when the index was built with ``quantize_vectors``) and exact-
    reranks the top k*r — the composed 100 TB serving path: directory
    pruning × 4x-smaller coarse scan (output schema gains qscore_r)."""
    cent = {
        r["cell"]: list(r["centroid"])
        for r in spark.read.parquet(path + "_centroids").collect()
    }
    probes = _nearest_probe_cells(cent, query, n_probe)
    pruned = spark.read.parquet(path).filter(F.col("cell").isin(probes))
    if rerank:
        return quantized_topk(pruned, query, vec_col, id_col, k, rerank=rerank)
    return cosine_topk(pruned, query, vec_col, id_col, k)


def subspace_bounds(dim: int, m: int) -> list[tuple[int, int]]:
    """Contiguous product-quantization subspaces as 1-based
    ``(start, width)`` pairs (``F.slice`` convention); the remainder is
    spread one element each over the leading subspaces, so widths
    differ by at most 1. ``m > dim`` would create empty subspaces —
    rejected."""
    if m < 1 or m > dim:
        raise ValueError(f"need 1 <= m <= dim, got m={m} dim={dim}")
    base, rem = divmod(dim, m)
    out, st = [], 1
    for s in range(m):
        w = base + (1 if s < rem else 0)
        out.append((st, w))
        st += w
    return out


def pq_fit(
    df: DataFrame,
    m: int = 4,
    codes_per_sub: int = 16,
    vec_col: str = "embedding",
    dim: int | None = None,
    max_iter: int = 3,
    sample_mod: int | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: ``m`` independent k-means fits,
    one per contiguous subspace slice, each with ``codes_per_sub``
    centroids — ``codebooks[s][c]`` is a width-``w_s`` vector. Returns
    ``[]`` on an empty fit frame (the ``kmeans_fit`` convention).

    All ``m`` subspaces fit in ONE Spark job per phase instead of
    ``m`` sequential ``kmeans_fit`` runs (which cost
    ``m×(1+max_iter)`` scheduling round-trips — pure overhead at small
    fit frames, the dominant cost of ``pq_index_build``): the slices
    are staged once and persisted, ONE exploded pass takes every
    subspace's hash-uniform sample (per-sub top-S by slice hash —
    WindowGroupLimit pushes the rank cut down), maximin seeding runs
    vectorized on the driver per subspace, and each Lloyd iteration is
    ONE exploded groupBy computing all ``m`` cell assignments and
    integer-micro dimension sums together. Results are bit-identical
    to the sequential form: per-subspace fit membership (slice
    non-null, per-SLICE ``sample_mod`` hash slice), the sample set,
    the seeding, and the order-independent decimal sums are all
    unchanged — only the job count drops ``m``-fold. The lanes padded
    to the widest subspace sum ``floor(0.5)=0`` and are cut back to
    ``w_s`` on the driver."""
    dim = dim if dim is not None else _vec_dim(df, vec_col)
    bounds = subspace_bounds(dim, m)
    v = F.col(vec_col)
    cols, keeps = [], []
    for s, (st, w) in enumerate(bounds):
        sl = F.slice(v, st, w)
        cols.append(sl.alias(f"_s{s}"))
        keep = (
            (F.pmod(_vec_key(sl), F.lit(sample_mod)) == 0)
            if sample_mod
            else F.lit(True)
        )
        keeps.append(keep.alias(f"_in{s}"))
    staged = (
        df.filter(v.isNotNull())
        .select(v.alias("_v0"), *cols, *keeps)
        .persist()
    )
    try:
        n_sample = max(256, 32 * codes_per_sub)
        lanes = F.array(
            *[
                F.struct(
                    F.col(f"_s{s}").alias("v"),
                    _vec_key(F.col(f"_s{s}")).alias("k"),
                    F.col(f"_in{s}").alias("m"),
                )
                for s in range(len(bounds))
            ]
        )
        wnd = Window.partitionBy("sub").orderBy(F.col("x.k"))
        samp = (
            staged.select(F.posexplode(lanes).alias("sub", "x"))
            .filter(F.col("x.m"))
            .withColumn("_rn", F.row_number().over(wnd))
            .filter(F.col("_rn") <= n_sample)
            .select("sub", F.col("x.v").alias("sv"), F.col("x.k").alias("sk"))
            .collect()
        )
        by_sub: dict[int, list[list[float]]] = {}
        for r in sorted(samp, key=lambda r: (r["sub"], r["sk"])):
            by_sub.setdefault(r["sub"], []).append(
                [0.0 if x is None else float(x) for x in r["sv"]]
            )
        if len(by_sub) < len(bounds):
            return []  # some subspace has an empty fit slice
        books = [
            _maximin_seeds(by_sub[s], codes_per_sub)
            for s in range(len(bounds))
        ]
        wmax = max(w for _, w in bounds)

        def micro(col: Column, i: int) -> Column:
            return F.floor(
                F.coalesce(F.try_element_at(col, F.lit(i + 1)), F.lit(0.0))
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            ).cast("decimal(38,0)")

        arrow = len(bounds) * codes_per_sub >= _ARROW_ASSIGN_MIN_CELLS
        for _ in range(max_iter):
            if arrow:
                # one order-exact Arrow kernel computes all m code
                # assignments (the pq_codes discipline) — the m·codes
                # expression cascade costs seconds of Janino per
                # iteration and interprets past the 64 KB cliff
                src = staged.withColumn(
                    "_codes", _pq_codes_arrow("_v0", books)
                )
                cell_of = lambda s: F.element_at(  # noqa: E731
                    "_codes", s + 1
                )
            else:
                src = staged
                cell_of = lambda s: _nearest_centroid(  # noqa: E731
                    F.col(f"_s{s}"), books[s]
                )
            lanes2 = F.array(
                *[
                    F.struct(
                        F.col(f"_s{s}").alias("v"),
                        cell_of(s).alias("c"),
                        F.col(f"_in{s}").alias("m"),
                    )
                    for s in range(len(bounds))
                ]
            )
            sums = (
                src.select(F.posexplode(lanes2).alias("sub", "x"))
                .filter(F.col("x.m"))
                .groupBy("sub", F.col("x.c").alias("cell"))
                .agg(
                    F.array(
                        *[F.sum(micro(F.col("x.v"), i)) for i in range(wmax)]
                    ).alias("_s"),
                    F.count("*").alias("_n"),
                )
            )
            got = {(r["sub"], r["cell"]): r for r in sums.collect()}
            for s, (_, w) in enumerate(bounds):
                books[s] = [
                    (
                        [
                            float(x) / (got[(s, c)]["_n"] * 1_000_000.0)
                            for x in got[(s, c)]["_s"][:w]
                        ]
                        if (s, c) in got
                        else books[s][c]
                    )
                    for c in range(codes_per_sub)
                ]
        return books
    finally:
        staged.unpersist()


def _pq_codes_arrow(
    vec_col: str, codebooks: list[list[list[float]]]
) -> Column:
    """All ``m`` subspace code assignments in ONE Arrow kernel —
    ``array<int>`` of per-subspace nearest-code indexes, arithmetic
    identical to the ``nearest_centroid_struct`` expression form
    (per-term ``floor((a-b)²·1e6+0.5)`` with missing/NULL elements
    contributing 0, exact accumulation in ``_micro_sq_l2``, so parity
    with the expression path and the SQL oracles is structural; first-index
    argmin) — parity-tested against the expression path. The
    expression form spends seconds of Janino compilation on
    ``m·codes_per_sub`` fold expressions per projection and interprets
    beyond the 64 KB method limit; the kernel is the same arithmetic
    at C speed and compiles nothing."""
    dim = sum(len(b[0]) for b in codebooks)
    bounds = subspace_bounds(dim, len(codebooks))
    mats = [np.asarray(b, dtype=np.float64) for b in codebooks]

    @F.pandas_udf("array<int>")
    def codes_of(vs: pd.Series) -> pd.Series:
        arr = _dense_rows(vs, dim)
        out = np.empty((len(vs), len(bounds)), dtype=np.int32)
        for s, (st, w) in enumerate(bounds):
            acc = _micro_sq_l2(arr[:, st - 1 : st - 1 + w], mats[s])
            out[:, s] = np.argmin(acc, axis=1)
        return pd.Series(list(out))

    return codes_of(vec_col)


def _cell_dist_arrow(
    vec_col: str, centroids: list[list[float]]
) -> Column:
    """``struct<d: long, i: int>`` of the nearest centroid in ONE
    Arrow kernel — the kernel twin of ``nearest_centroid_struct`` for
    consumers that need the winning DISTANCE too (pruning). Identical
    integer-micro arithmetic (floored micro terms summed exactly in
    float64, see ``_micro_sq_l2``), first-index argmin; missing/NULL
    ELEMENTS contribute 0 — the per-term coalesce
    convention. A wholly-NULL vector mirrors the expression form
    exactly: cell 0 with a NULL distance (``F.aggregate`` over a NULL
    array is NULL)."""
    C = np.asarray(centroids, dtype=np.float64)
    dim = C.shape[1]

    @F.pandas_udf("struct<d: long, i: int>")
    def cell_dist_of(vs: pd.Series) -> pd.DataFrame:
        null_row = np.array([vec is None for vec in vs], dtype=bool)
        acc = _micro_sq_l2(_dense_rows(vs, dim), C)
        best = np.argmin(acc, axis=1)
        dvals = pd.array(
            acc[np.arange(len(vs)), best].astype(np.int64), dtype="Int64"
        )
        dvals[null_row] = pd.NA
        return pd.DataFrame({"d": dvals, "i": best.astype(np.int32)})

    return cell_dist_of(vec_col)


def _probe_cells_arrow(
    vec_col: str, cent: dict[int, list[float]], n_probe: int
) -> Column:
    """Per-row top-``n_probe`` probe cells as ``array<int>`` in ONE
    Arrow kernel — the kernel twin of the per-cell
    ``_sq_l2_micros``-struct cascade in ``ivf_pq_knn_join``. Same
    integer-micro distances (floored micro terms summed exactly in
    float64), same (distance, cell-id) tie-break (``np.lexsort`` with
    the cell ids as the secondary key), so probe sets are
    bit-identical to the expression form and to the SQL oracle's
    QUALIFY ordering."""
    cells = np.asarray(sorted(cent), dtype=np.int32)
    C = np.asarray([cent[c] for c in cells], dtype=np.float64)
    k, dim = C.shape
    n_probe = min(n_probe, k)

    @F.pandas_udf("array<int>")
    def probes_of(vs: pd.Series) -> pd.Series:
        acc = _micro_sq_l2(_dense_rows(vs, dim), C)
        out = []
        for r in range(len(vs)):
            order = np.lexsort((cells, acc[r]))[:n_probe]
            out.append(cells[order])
        return pd.Series(out)

    return probes_of(vec_col)


def nearest_centroid_struct_col(
    vec_col: str, centroids: list[list[float]]
) -> Column:
    """``nearest_centroid_struct`` with the kernel/expression switch
    (the ``_nearest_centroid_col`` convention, keeping the ``d``
    lane): expression below ``_ARROW_ASSIGN_MIN_CELLS``, Arrow kernel
    at/above — bit-identical, parity-tested."""
    if len(centroids) >= _ARROW_ASSIGN_MIN_CELLS:
        return _cell_dist_arrow(vec_col, centroids)
    return nearest_centroid_struct(F.col(vec_col), centroids)


def pq_codes(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    use_arrow: bool | None = None,
) -> DataFrame:
    """Adds ``codes`` (``array<int>``, one code per subspace): each
    subspace slice's nearest codebook entry by integer-micro squared L2,
    index tie-break — the ``nearest_centroid_struct`` convention, so an
    independent reader (the contract oracle) re-derives identical codes
    from the persisted codebook bytes. The sub-vector slices are STAGED
    as intermediate columns first: ``nearest_centroid_struct``
    references its input once per centroid, and an inlined slice would
    be re-evaluated ``codes_per_sub`` times per row (the CLAUDE.md
    column-inlining trap).

    ``use_arrow`` (default: when total fold count m·codes exceeds
    ``_ARROW_ASSIGN_MIN_CELLS``) swaps the expression cascade for the
    order-exact Arrow kernel (``_pq_codes_arrow``) — identical codes,
    no Janino cost, no 64 KB codegen cliff."""
    if not codebooks or any(not b for b in codebooks):
        raise ValueError("pq_codes: empty codebooks")
    total = sum(len(b) for b in codebooks)
    if use_arrow is None:
        use_arrow = total >= _ARROW_ASSIGN_MIN_CELLS
    if use_arrow:
        return df.withColumn("codes", _pq_codes_arrow(vec_col, codebooks))
    dim = sum(len(b[0]) for b in codebooks)
    out = df
    subs = []
    for s, (st, w) in enumerate(subspace_bounds(dim, len(codebooks))):
        name = f"_pqsub{s}"
        out = out.withColumn(name, F.slice(F.col(vec_col), st, w))
        subs.append(name)
    out = out.withColumn(
        "codes",
        F.array(
            *[
                nearest_centroid_struct(F.col(n), codebooks[s])["i"].cast("int")
                for s, n in enumerate(subs)
            ]
        ),
    )
    return out.drop(*subs)


def write_pq_index(
    df: DataFrame,
    path: str,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
    codec: str = "zstd",
) -> None:
    """Persist the PQ codes table at ``path`` (``id, codes`` — ~``m``
    small ints per vector instead of ``dim`` doubles: at m=8/dim=768
    that is ~2 orders of magnitude fewer index bytes scanned per query)
    plus the self-describing codebook at ``<path>_codebook``
    (``sub, code, centroid``) — probes and the contract oracle
    re-derive every assignment from the same codebook bytes (the
    ``write_ivf_trained`` convention)."""
    spark = df.sparkSession
    pq_codes(df, codebooks, vec_col).select(id_col, "codes").write.mode(mode).option(
        "compression", codec
    ).parquet(path)
    _write_codebook(spark, path + "_codebook", codebooks, mode, codec)


def _read_codebook(spark, path: str) -> dict[int, dict[int, list[float]]]:
    """``{sub: {code: centroid}}`` from a ``write_pq_index`` codebook."""
    books: dict[int, dict[int, list[float]]] = {}
    for r in spark.read.parquet(path + "_codebook").collect():
        books.setdefault(r["sub"], {})[r["code"]] = list(r["centroid"])
    if not books:
        raise ValueError(f"empty codebook at {path}_codebook")
    return books


def _adc_scored(
    codes: DataFrame,
    books: dict[int, dict[int, list[float]]],
    query: list[float],
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC scoring of a PQ ``codes`` frame: per-(sub, code) partial dot
    products with the query computed ON THE DRIVER (``m × k`` values)
    with each element quantized to integer micros
    (``floor(q_i·c_i·1e6 + 0.5)`` summed as longs — order-independent
    and bit-reproducible, the lm.py convention) and shipped as literal
    lookup arrays; each row costs ``m`` ``element_at`` lookups + long
    adds. Returns ``(id, adc_micros)``."""
    import math

    m = len(books)
    # subspace bounds come from the CODEBOOK's widths, not the query:
    # a dim-mismatched query would otherwise slice misaligned subspaces
    # and mis-score silently (zip truncates)
    dim = sum(len(books[s][min(books[s])]) for s in books)
    if len(query) != dim:
        raise ValueError(
            f"query dim {len(query)} != codebook dim {dim}"
        )
    tables: list[list[int]] = []
    for s, (st, w) in enumerate(subspace_bounds(dim, m)):
        qsub = query[st - 1 : st - 1 + w]
        tables.append(
            [
                sum(
                    int(math.floor(a * b * 1e6 + 0.5))
                    for a, b in zip(qsub, books[s][c])
                )
                for c in sorted(books[s])
            ]
        )
    adc: Column = F.lit(0).cast("long")
    for s, tab in enumerate(tables):
        lut = F.array(*[F.lit(int(x)).cast("long") for x in tab])
        adc = adc + F.element_at(lut, F.col("codes")[s] + 1)
    return codes.select(F.col(id_col), adc.alias("adc_micros"))


def pq_topk(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    rerank_df: DataFrame | None = None,
    vec_col: str = "embedding",
    rerank: int = 4,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k against a ``write_pq_index``
    table. The per-(sub, code) partial dot products with the query are
    computed ON THE DRIVER from the persisted codebook (``m × k``
    values — bytes, not data volume) with each element quantized to
    integer micros (``floor(q_i·c_i·1e6 + 0.5)`` summed as longs —
    order-independent and bit-reproducible in any engine, the lm.py
    convention) and shipped as literal lookup arrays. Each index row
    then costs ``m`` ``element_at`` lookups + integer adds over its
    ``m``-int code row — no float math and no vector bytes on the scan
    side, which is the whole point at 100 TB. Top-k via
    orderBy+limit (TakeOrderedAndProject: per-partition heaps, never a
    full sort).

    ``rerank_df`` (``id, vec``): exact-cosine rerank of the top
    ``k·rerank`` ADC candidates — the candidate id set is tiny, so the
    float vectors are fetched for just those rows (broadcast-joined
    back). Output: ``(id, adc_micros[, cosine_r])``."""
    codes = spark.read.parquet(path)
    scored = _adc_scored(
        codes, _read_codebook(spark, path), query, id_col=id_col
    )
    return _adc_cut(scored, query, k, id_col, rerank_df, vec_col, rerank)


def _adc_cut(
    scored: DataFrame,
    query: list[float],
    k: int,
    id_col: str,
    rerank_df: DataFrame | None,
    vec_col: str,
    rerank: int,
) -> DataFrame:
    """ADC candidate cut + optional exact-cosine rerank. The cut is
    orderBy+limit (TakeOrderedAndProject — per-partition heaps, never a
    full sort); the ``k·rerank`` candidate ids are the BROADCAST side
    of the rerank join, so the float-vector table (the 100 TB side) is
    only probed, never shuffled."""
    if rerank_df is None:
        return scored.orderBy(F.col("adc_micros").desc(), F.col(id_col)).limit(k)
    cand = scored.orderBy(F.col("adc_micros").desc(), F.col(id_col)).limit(
        k * max(1, rerank)
    )
    qlit = F.array(*[F.lit(float(x)) for x in query])
    vecs = rerank_df.select(F.col(id_col), F.col(vec_col).alias("_rv"))
    return (
        F.broadcast(cand).join(vecs, id_col)
        .select(
            F.col(id_col),
            F.col("adc_micros"),
            floor_round(cosine_similarity(F.col("_rv"), qlit), 4).alias("cosine_r"),
        )
        .orderBy(F.col("cosine_r").desc(), F.col(id_col))
        .limit(k)
    )


def write_ivf_pq(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
    codec: str = "zstd",
) -> None:
    """IVF×PQ index — the composed 100 TB serving layout: PQ code rows
    partitioned by TRAINED coarse cell, so a query prunes to
    ``n_probe/num_cells`` of the *directories* and then ADC-scans only
    ``m``-int code rows inside them (no float vector bytes anywhere on
    the read path). Self-describing: coarse centroids at
    ``<path>_centroids`` (the ``write_ivf_trained`` convention) and PQ
    codebook at ``<path>_codebook`` — probes and the contract oracle
    re-derive every cell AND code assignment from the same bytes. One
    map-only assignment pass + one partitioned write."""
    spark = df.sparkSession
    coded = pq_codes(
        df.withColumn("cell", _nearest_centroid_col(vec_col, centroids)),
        codebooks,
        vec_col,
    )
    coded.select(id_col, "codes", "cell").write.mode(mode).option(
        "compression", codec
    ).partitionBy("cell").parquet(path)
    _write_centroids(spark, path + "_centroids", centroids, mode, codec)
    _write_codebook(spark, path + "_codebook", codebooks, mode, codec)


def ivf_pq_topk(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    rerank_df: DataFrame | None = None,
    vec_col: str = "embedding",
    rerank: int = 4,
) -> DataFrame:
    """Top-k against a ``write_ivf_pq`` index: the ``n_probe`` coarse
    cells nearest the query are found on the driver (the centroid table
    is ``num_cells`` rows), the scan carries a literal ``cell IN``
    partition filter (unprobed directories never read), and the
    surviving code rows are ADC-scored with the driver's integer
    lookup tables — directory pruning × ~2-orders-smaller bytes/row.
    ``rerank_df``: exact-cosine rerank of the top ``k·rerank``
    candidates, candidate ids broadcast (the ``pq_topk`` convention)."""
    cent = {
        r["cell"]: list(r["centroid"])
        for r in spark.read.parquet(path + "_centroids").collect()
    }
    probes = _nearest_probe_cells(cent, query, n_probe)
    codes = spark.read.parquet(path).filter(F.col("cell").isin(probes))
    scored = _adc_scored(codes, _read_codebook(spark, path), query, id_col=id_col)
    return _adc_cut(scored, query, k, id_col, rerank_df, vec_col, rerank)


def ivf_pq_knn_join(
    spark,
    path: str,
    queries_df: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    rerank_df: DataFrame | None = None,
    rerank: int = 4,
    salt: int | None = None,
) -> DataFrame:
    """Batch ANN join against a ``write_ivf_pq`` index: ADC top-k for
    EVERY query row, in one plan. Each query computes its probe cells
    AND its integer ADC lookup tables SPARK-SIDE against the
    driver-literal centroid/codebook (no driver loop — the query table
    can be arbitrarily large): ``luts[s][c] = Σ_i floor(q_i·c_i·1e6 +
    0.5)`` as longs, ~``m·codes`` small ints per query. Probe cells
    explode, their distinct set (≤ num_cells by construction) is
    collected and pushed as a literal ``cell IN`` partition filter on
    the code scan — the ``ivf_knn_join`` pruning discipline — and the
    candidate join ships only ``(id, codes)`` rows, never vector
    bytes. Scoring is ``m`` nested ``element_at`` lookups per
    candidate; per-query top-k is a window over probed candidates
    only. NULL query vectors are dropped (they have no well-defined
    probe set). ``rerank_df``: exact-cosine rerank of each query's top
    ``k·rerank`` ADC candidates (needs float vectors for candidates —
    joined by id — and carries the query vector through the probe
    explode). Output: ``(query_id, id, adc_micros[, cosine_r])``.
    ``salt``: explicit two-sided hot-cell salting, same contract and
    trade-off as ``ivf_knn_join`` (AQE skew-join handles the default
    path; see that docstring)."""
    cent = {
        r["cell"]: list(r["centroid"])
        for r in spark.read.parquet(path + "_centroids").collect()
    }
    books = _read_codebook(spark, path)
    m = len(books)
    q0 = queries_df.filter(F.col(vec_col).isNotNull())
    dim = sum(len(b[0]) for b in books.values())
    bounds = subspace_bounds(dim, m)
    # probe cells: per-query n_probe nearest trained centroids by the
    # integer-micro distance / cell-id tie-break convention
    # (_sq_l2_micros — same floor(term*1e6+0.5) long sums the driver
    # path and the oracle CTEs compute). Above _ARROW_PROBE_MIN_CELLS
    # the per-cell expression cascade (one fold per cell — the same
    # Janino/64 KB wall class as Lloyd assignment) switches to a
    # kernel computing all cell distances + the (d, cell) tie-broken
    # top-n_probe in one pass, bit-identical by the integer-micro
    # argument. The gate sits HIGHER than _ARROW_ASSIGN_MIN_CELLS:
    # at contract/bench cell counts (8-16) the Arrow worker round trip
    # costs more than the small cached cascade (measured +0.6 s on the
    # 32-query bench row), while the 64 KB wall begins far above.
    if len(cent) >= _ARROW_PROBE_MIN_CELLS:
        probe_arr = _probe_cells_arrow(vec_col, cent, max(1, n_probe))
    else:
        ds = []
        for c in sorted(cent):
            lit = F.array(*[F.lit(float(x)) for x in cent[c]])
            d = _sq_l2_micros(F.col(vec_col), lit)
            ds.append(F.struct(d.alias("d"), F.lit(c).alias("i")))
        probe_arr = F.transform(
            F.slice(F.array_sort(F.array(*ds)), 1, max(1, n_probe)),
            lambda st: st["i"],
        )
    # per-query integer ADC tables, one staged column per subspace so
    # no generated method outgrows the JIT limit (CLAUDE.md trap)
    q1 = q0
    for s, (st, w) in enumerate(bounds):
        q1 = q1.withColumn(f"_qsub{s}", F.slice(F.col(vec_col), st, w))
    for s in range(m):
        luts = []
        for c in sorted(books[s]):
            lit = F.array(*[F.lit(float(x)) for x in books[s][c]])
            luts.append(
                F.aggregate(
                    F.zip_with(
                        F.col(f"_qsub{s}"),
                        lit,
                        lambda a, b: F.floor(a * b * F.lit(1e6) + F.lit(0.5)).cast(
                            "long"
                        ),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
            )
        q1 = q1.withColumn(f"_lut{s}", F.array(*luts))
    keep = [F.col(id_col).alias(query_id_col)] + [
        F.col(f"_lut{s}") for s in range(m)
    ]
    if rerank_df is not None:
        keep.append(F.col(vec_col).alias("_qv"))
    # held: the probe-set collect and the join both read it (ivf_knn_join)
    qx = hold(q1.select(*keep, F.explode(probe_arr).alias("cell")))
    probed = sorted(r["cell"] for r in qx.select("cell").distinct().collect())
    codes = spark.read.parquet(path).where(
        F.col("cell").isin(probed) if probed else F.lit(False)
    )
    join_keys = ["cell"]
    if salt and salt > 1:
        # two-sided hot-cell salt (see ivf_knn_join): code rows carry
        # one hash lane, probe rows fan out to all lanes post-persist
        codes = codes.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)).cast("int")
        )
        qx = qx.withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0), F.lit(salt - 1))),
        )
        join_keys = ["cell", "_salt"]
    adc: Column = F.lit(0).cast("long")
    for s in range(m):
        adc = adc + F.element_at(F.col(f"_lut{s}"), F.col("codes")[s] + 1)
    joined = codes.join(qx, join_keys).select(
        query_id_col,
        F.col(id_col),
        adc.alias("adc_micros"),
        *([F.col("_qv")] if rerank_df is not None else []),
    )
    w_adc = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_micros").desc(), F.col(id_col)
    )
    cut = k * max(1, rerank) if rerank_df is not None else k
    top = (
        joined.withColumn("_rn", F.row_number().over(w_adc))
        .filter(F.col("_rn") <= cut)
        .drop("_rn")
    )
    if rerank_df is None:
        return top
    vecs = rerank_df.select(F.col(id_col), F.col(vec_col).alias("_rv"))
    w_cos = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_r").desc(), F.col(id_col)
    )
    # no forced broadcast here: the candidate side is k·rerank rows PER
    # QUERY (unbounded as the query table grows) — AQE picks broadcast
    # when the batch is small, shuffle join otherwise
    return (
        top.join(vecs, id_col)
        .select(
            query_id_col,
            F.col(id_col),
            F.col("adc_micros"),
            floor_round(cosine_similarity(F.col("_rv"), F.col("_qv")), 4).alias(
                "cosine_r"
            ),
        )
        .withColumn("_rn", F.row_number().over(w_cos))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivf_topk_indexed(
    spark,
    path: str,
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    num_cells: int = 16,
    n_probe: int = 4,
    rerank: int | None = None,
) -> DataFrame:
    """Top-k against a ``write_ivf_index`` table: the cell predicate is
    a partition filter (hive-style ``cell=N`` directories), so unprobed
    cells are never scanned — verify with .explain(): PartitionFilters
    carries the cell IN list and PushedFilters stays empty. ``rerank``:
    see ``ivf_trained_topk``."""
    probes = probe_cells(query, num_cells, n_probe)
    pruned = spark.read.parquet(path).filter(F.col("cell").isin(probes))
    if rerank:
        return quantized_topk(pruned, query, vec_col, id_col, k, rerank=rerank)
    return cosine_topk(pruned, query, vec_col, id_col, k)


def group_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    dim: int | None = None,
    as_micros: bool = False,
) -> DataFrame:
    """Exact per-group mean vectors — the domain-centroid aggregation
    behind domain-level similarity, mixture seeding, and SemDeDup
    warm starts: ``(group, centroid, n_vectors)``. Per-dimension sums
    are integer micros in decimal(38,0) (the kmeans Lloyd-update
    discipline), so the mean is partition-order independent and an
    independent engine reproduces it bit-for-bit from the same rows.
    ``as_micros=True`` returns ``array<long>`` of
    ``floor(sum_micros / n)`` (pure integer arithmetic end-to-end —
    the contract-oracle form); otherwise ``array<double>`` true means.
    NULL vectors are excluded; ragged/NULL elements contribute 0.0 to
    the dimensions they lack (the Lloyd coalesce convention).

    Scale posture: ONE map-side-combined groupBy; each group ships one
    dim-wide decimal array through the exchange regardless of row
    count."""
    dim = dim if dim is not None else _vec_dim(df, vec_col)
    v = F.col(vec_col)
    sums = (
        df.filter(v.isNotNull())
        .groupBy(group_col)
        .agg(
            F.array(
                *[
                    F.sum(
                        F.floor(
                            F.coalesce(
                                F.try_element_at(v, F.lit(i + 1)),
                                F.lit(0.0),
                            )
                            * F.lit(1_000_000.0)
                            + F.lit(0.5)
                        ).cast("decimal(38,0)")
                    )
                    for i in range(dim)
                ]
            ).alias("_s"),
            F.count("*").cast("long").alias("n_vectors"),
        )
    )
    if as_micros:
        centroid = F.transform(
            "_s",
            lambda s: F.floor(
                s.cast("decimal(38,0)") / F.col("n_vectors")
            ).cast("long"),
        )
    else:
        centroid = F.transform(
            "_s",
            lambda s: s.cast("double")
            / (F.col("n_vectors") * F.lit(1_000_000.0)),
        )
    return sums.select(
        group_col, centroid.alias("centroid"), "n_vectors"
    )
