"""Training-data curation: quality gate → exact dedup → optional
near-dup removal, producing a keep-list.

The composition a 100 TB pretraining pipeline actually runs over the
documents table: cheap Gopher-style quality filters first (pure column
expressions — prunes before anything expensive), then exact dedup as a
hash groupBy (min-id representative per identical text), then MinHash
LSH near-dup removal over only the survivors. Every stage is a shuffle
on compact keys; nothing is O(n²).

Drop rule for near-dups: a document is dropped iff it is the HIGHER id
in any near-dup pair among quality+exact survivors. Deterministic and
order-free (no cascade through already-dropped docs — matching the
usual one-round LSH dedup used in practice, where pair lists come from
a single candidate join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import hold, release_held
from .dedup import dedup_key, minhash_lsh_pairs
from .filters import c4_line_clean, html_extract, pii_scrub, repetition_stats
from .substr import merge_spans, remove_dup_spans, substr_dup_spans
from .textstats import quality_score_arr, tokens

# curate holds frames consumed TWICE: the exact-dedup keep-list feeds
# both the minhash signature build and the loser anti-join, and the
# scrubbed/cleaned src feeds both substring-span detection and span
# removal — unpersisted, the upstream regex/quality/groupBy chains run
# twice per action (the round-2 minhash self-join trap).

# perfbench/workloads.py imports this name; it is its only reason
release_cached_frames = release_held


def curate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    near_dup: bool = False,
    minhash_threshold: float = 0.9,
    minhash_k: int = 3,
    repetition: bool = False,
    scrub_pii: bool = False,
    line_clean: bool = False,
    substr_dedup: bool = False,
    substr_w: int = 8,
    substr_window: int = 4,
    html: bool = False,
) -> DataFrame:
    """Keep-list ``(doc_id, quality, exact_dup_count)`` of documents that
    survive curation. ``exact_dup_count`` is how many identical copies
    (including the survivor) the quality-passing corpus contained.

    ``repetition=True`` inserts the Gopher/C4 ``rep_keep`` gate
    (filters.repetition_stats) after the quality score — still a pure
    per-row projection, so the combined cheap-filter stage remains
    map-only and prunes before the dedup shuffle. ``scrub_pii=True``
    scrubs PII spans BEFORE anything else, so quality/repetition
    scoring, the exact-dedup key, and near-dup signatures all see the
    scrubbed text (two documents differing only in PII spans dedup
    together), and downstream consumers never touch raw PII.
    ``line_clean=True`` applies C4 line-level cleaning after the scrub:
    documents failing the C4 doc verdict drop, survivors continue with
    their boilerplate lines removed — so dedup keys see the CLEANED
    text and two pages identical up to boilerplate collapse together.
    All three pre-stages compose into the same single map-only
    projection ahead of the dedup shuffle.

    ``substr_dedup=True`` inserts Lee et al.'s ExactSubstr removal
    after scrub/line-clean: cross-document shared substring regions
    (winnowed-fingerprint spans, substr.py) are CUT from the text, so
    quality scoring, the exact-dedup key, and near-dup signatures all
    see boilerplate-free text — two pages identical up to a shared
    boilerplate passage collapse together. Unlike the other pre-stages
    this one is not map-only (span detection is a corpus aggregate),
    so it runs before the cheap per-row filters can prune; it is off
    by default for that reason.

    ``html=True`` runs HTML→text extraction (filters.html_extract)
    FIRST — before even the PII scrub, matching a real crawl pipeline's
    WARC→WET order: documents failing the link-density screen
    (``html_keep``) drop, survivors continue as their extracted plain
    text, so every downstream stage (scrub, quality, dedup keys,
    signatures) sees markup-free text and two pages identical up to
    markup collapse together. Map-only — composes with the scrub/clean
    stages into the same pre-dedup projection."""
    src = df
    if html:
        src = (
            html_extract(src.select(F.col(id_col), F.col(text_col)), text_col)
            .filter("html_keep")
            .select(F.col(id_col), F.col("extracted_text").alias(text_col))
        )
    if scrub_pii:
        src = (
            pii_scrub(src.select(F.col(id_col), F.col(text_col)), text_col)
            .select(F.col(id_col), F.col("scrubbed").alias(text_col))
        )
    if line_clean:
        src = (
            c4_line_clean(src.select(F.col(id_col), F.col(text_col)), text_col)
            .filter("c4_keep")
            .select(F.col(id_col), F.col("clean_text").alias(text_col))
        )
    if substr_dedup:
        # src is consumed by BOTH span detection and span removal —
        # hold so the scrub/line-clean regex chains run once
        src = hold(src.select(F.col(id_col), F.col(text_col)))
        spans = substr_dup_spans(
            src,
            text_col,
            id_col,
            w=substr_w,
            window=substr_window,
        )
        merged = merge_spans(spans, w=substr_w, merge_gap=substr_window)
        src = remove_dup_spans(
            src, merged, text_col, id_col
        ).select(F.col(id_col), F.col("text_deduped").alias(text_col))
    # ONE tokenization feeds both the quality score and (when enabled)
    # the repetition gate — HOF token builds get no CSE, and the
    # unstaged form re-split every surviving document a second time
    scored = src.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_text"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    ).select(
        "doc_id",
        "_text",
        "_toks",
        quality_score_arr(F.col("_text"), F.col("_toks")).alias("quality"),
    ).filter(F.col("quality") >= min_quality)
    if repetition:
        scored = (
            repetition_stats(scored, text_col="_text", toks_col="_toks")
            .filter("rep_keep")
            .select("doc_id", "_text", "quality")
        )
    else:
        scored = scored.drop("_toks")

    # exact dedup: one row per distinct text, min-id representative;
    # 128-bit composite key (see dedup.dedup_key collision math)
    kept = (
        scored.groupBy(dedup_key(F.col("_text")).alias("_th"))
        .agg(
            F.min(F.struct("doc_id", "quality", "_text")).alias("_rep"),
            F.count("*").alias("exact_dup_count"),
        )
        .select(
            F.col("_rep.doc_id").alias("doc_id"),
            F.col("_rep.quality").alias("quality"),
            F.col("_rep._text").alias("_text"),
            "exact_dup_count",
        )
    )

    if near_dup:
        # kept is consumed by BOTH the signature build and the anti-
        # join's left side — hold so the quality projection and the
        # 128-bit dedup groupBy run once
        kept = hold(kept)
        pairs = minhash_lsh_pairs(
            kept.select("doc_id", F.col("_text").alias("text")),
            k=minhash_k,
            threshold=minhash_threshold,
        )
        losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        kept = kept.join(losers, "doc_id", "left_anti")

    return kept.select("doc_id", "quality", "exact_dup_count")
