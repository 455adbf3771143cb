"""Benchmark decontamination: n-gram overlap against an eval set.

Standard public technique (Brown et al. 2020 "GPT-3" appendix C
13-gram overlap; Rae et al. 2021 "Gopher" §A.2; Dolma/RedPajama
pipelines): a training document is contaminated iff it shares at
least `min_overlap` distinct word n-grams with the benchmark corpus.

Scale posture (the 100 TB side is `docs`, the benchmark side is
small — eval suites are at most millions of rows):
- benchmark grams are DISTINCT'd once (one shuffle of the small side)
  and then **broadcast**, so the corpus scan never shuffles;
- per-document grams are deduped per-row (array_distinct) BEFORE the
  explode, bounding explode fan-out at distinct-gram count;
- explode → broadcast hash join → partial count all pipeline inside
  one stage (no materialization of the exploded rows);
- the only corpus-keyed shuffle carries (doc_id, count) for documents
  that matched at least one gram — at sane contamination rates that is
  orders of magnitude smaller than the corpus.

Note Spark 4.1 does not register `bloom_filter_agg`/`might_contain`
in the public function registry, so a bloom prefilter ahead of the
explode is not available without private APIs; the broadcast join is
the standard production shape regardless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import textstats
from .filters import word_ngrams
from .similarity import floor_round


def _exploded_grams(df: DataFrame, n: int, text_col: str, *keep_cols: str) -> DataFrame:
    """``keep_cols + (gram)`` — one row per DISTINCT lowercase word
    n-gram per input row. The token array is STAGED in its own
    projection first: ``word_ngrams`` references its input ~2(n-1)+1
    times across the zip_with levels, and Spark inlines (and, for
    interpreted HOFs, re-evaluates) a nested expression at every
    reference — staging makes each reference a cheap attribute read
    (CollapseProject keeps non-cheap multi-referenced aliases staged;
    same convention as dsir.feature_buckets)."""
    staged = df.select(
        *keep_cols, textstats.tokens(F.lower(F.col(text_col))).alias("_toks")
    )
    return staged.select(
        *keep_cols,
        F.explode(F.array_distinct(word_ngrams(F.col("_toks"), n))).alias("gram"),
    )


def benchmark_grams(
    bench: DataFrame, n: int = 8, text_col: str = "text"
) -> DataFrame:
    """Distinct word n-grams of the benchmark corpus — one column
    `gram`. Small by construction (eval suites); intended to be
    broadcast by decontaminate()."""
    return _exploded_grams(bench, n, text_col).distinct()


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    min_overlap: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document contamination verdict against a benchmark corpus:
    ``(id_col, n_overlap, contaminated)`` where `n_overlap` counts the
    DISTINCT benchmark n-grams the document contains and
    `contaminated` is `n_overlap >= min_overlap`. Documents with no
    overlap are kept with n_overlap = 0, so the output is a full
    per-document verdict table (filter on ~contaminated to clean).

    Exact — no hashing anywhere in the match path: grams join as
    strings, so there are no false positives to reason about at
    10^12-document scale.

    The per-doc overlap counts are broadcast for the verdict join back
    onto the corpus, keeping the 100 TB side shuffle-free end-to-end —
    sized for contaminated documents being a small fraction of the
    corpus (the normal case)."""
    grams = F.broadcast(benchmark_grams(bench, n, text_col))
    posting = _exploded_grams(docs, n, text_col, id_col)
    counts = F.broadcast(
        posting.join(grams, "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        docs.select(id_col)
        .join(counts, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_overlap"), F.lit(0).cast("long")).alias(
                "n_overlap"
            ),
            (
                F.coalesce(F.col("n_overlap"), F.lit(0)) >= min_overlap
            ).alias("contaminated"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bench_id_col: str = "vec_id",
) -> DataFrame:
    """SEMANTIC train/test decontamination — the embedding complement
    of ``decontaminate()``'s exact n-gram overlap: a corpus document is
    contaminated iff its embedding's cosine against ANY benchmark
    embedding in the same trained k-means cell reaches ``threshold``
    (paraphrased or lightly-rewritten eval questions that share no
    8-gram still land next to their source in embedding space). Audit
    posture like ``filters.url_filter``: never drops rows — output is
    ``(id, n_candidates, max_cos, near_bench_id, keep)`` per corpus
    row, with ``max_cos``/``near_bench_id`` NULL when the row's cell
    holds no benchmark vector.

    Scale posture (100 TB corpus, benchmark = an eval suite, at most
    ~10^5-10^6 rows): the BENCHMARK side is cell-assigned and
    **broadcast**, so the corpus scan never shuffles to find
    candidates; candidate fan-out per row is bounded by the largest
    cell's benchmark population (SemDeDup's cluster-bounding argument);
    the per-doc argmax is ``max(struct(cos, bench_id))`` — a hash
    aggregate with map-side partial combine, so the only corpus-keyed
    shuffle carries ONE compact row per document (a window would sort
    instead). For benchmarks too large to broadcast, use
    ``semdedup.semantic_dedup_against`` (shuffle-join form) instead.

    Same conventions as ``semdedup.semantic_pairs`` — trained-centroid
    assignment (argmin integer-micro squared L2, index tie-break), staged
    per-row norms, floor-micros cosine rounding, zero-norm → 0.0 — so the
    contract oracle re-derives every decision from the materialized
    centroid bytes. Cosine ties pick the HIGHEST bench id
    (``max(struct)`` order — deterministic, oracle mirrors it).
    """
    from .semdedup import assign_trained_cells

    def nrm(c: str):
        return F.sqrt(
            F.aggregate(F.col(c), F.lit(0.0), lambda s, x: s + x * x)
        )

    b = assign_trained_cells(bench, centroids, vec_col).select(
        F.col(bench_id_col).alias("_bid"),
        F.col(vec_col).alias("_bv"),
        nrm(vec_col).alias("_bn"),
        "cell",
    )
    c = assign_trained_cells(corpus, centroids, vec_col).select(
        F.col(id_col),
        F.col(vec_col).alias("_cv"),
        nrm(vec_col).alias("_cn"),
        "cell",
    )
    joined = c.join(F.broadcast(b), "cell", "left")
    dot = F.aggregate(
        F.zip_with("_cv", "_bv", lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    n2 = F.col("_cn") * F.col("_bn")
    cos = floor_round(F.when(n2 > 0, dot / n2).otherwise(F.lit(0.0)), 6)
    cand = joined.withColumn(
        "_cand",
        F.when(
            F.col("_bid").isNotNull(),
            F.struct(cos.alias("c"), F.col("_bid").alias("b")),
        ),
    )
    out = cand.groupBy(id_col).agg(
        F.count("_bid").alias("n_candidates"),
        F.max("_cand").alias("_mx"),
    )
    return out.select(
        id_col,
        "n_candidates",
        F.col("_mx.c").alias("max_cos"),
        F.col("_mx.b").alias("near_bench_id"),
        (F.coalesce(F.col("_mx.c"), F.lit(-2.0)) < F.lit(threshold))
        .cast("int")
        .alias("keep"),
    )
