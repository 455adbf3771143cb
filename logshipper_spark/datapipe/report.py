"""Corpus quality report — the per-snapshot "data card" a training
pipeline publishes: per-language accounting, length/quality/LM score
distributions, filter incidence (Gopher repetition, C4 line cleaning,
PII), and a sampled near-duplication rate. Everything derives from
operators this package already oracle-checks; the report is their
composition into one driver-side dict.

Scale posture: three bounded passes over the corpus — (1) the fused
per-row stats projection + aggregates (map-only + map-side-combined
groupBys), (2) the unigram-LM fit + score (one explode/groupBy + one
broadcast-join/groupBy), (3) MinHash near-dup pairs over a
deterministic hash SAMPLE (the full-corpus pair search is the curation
pipeline's job; the report only estimates the rate). Driver memory
holds per-language rows and scalar aggregates — bytes, not data."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import release_held
from . import dedup, filters, lm, sampling, substr, textstats


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    approx_distinct: float | None = None,
    lm_band: tuple[float, float] = (2.0, 16.0),
    near_dup_sample: float = 0.2,
    near_dup_threshold: float = 0.8,
    substr_sample: float = 0.2,
    substr_w: int = 8,
    substr_window: int = 4,
    seed: int = 0,
) -> dict:
    """Build the corpus data card as a plain dict (JSON-serializable).

    ``approx_distinct``: rsd for the HLL++ distinct-count path (exact
    when None — see corpus_stats). ``near_dup_sample``: deterministic
    Bernoulli fraction the near-dup rate is estimated on (pair rates
    scale ~quadratically with sampling, so the reported value is the
    SAMPLE's rate, labeled as such)."""
    docs = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    docs.persist()
    n_docs = docs.count()
    report: dict = {"docs": n_docs}
    if n_docs == 0:
        docs.unpersist()
        return report

    # per-language accounting (oracled op: corpus_stats)
    per_lang = [
        r.asDict()
        for r in textstats.corpus_stats(docs, approx_distinct=approx_distinct)
        .orderBy("lang_guess")
        .collect()
    ]
    for row in per_lang:
        # SUM over an all-NULL column is SQL NULL (a bucket where every
        # text is NULL — same degenerate-corpus guard as `inc` below)
        qs = row.pop("quality_sum_4dp")
        row["mean_quality"] = (
            round(qs / 10000.0 / row["docs"], 4)
            if row["docs"] and qs is not None
            else None
        )
    report["per_language"] = per_lang
    total_docs = sum(r["docs"] for r in per_lang)
    total_distinct = sum(r["distinct_texts"] for r in per_lang)
    # HLL++ can OVERestimate distinct (rate would go negative) — clamp,
    # and label which method produced the number
    report["distinct_method"] = "hll" if approx_distinct is not None else "exact"
    report["exact_dup_rate"] = max(
        0.0, round(1.0 - total_distinct / total_docs, 6)
    )
    report["total_tokens"] = int(sum(r["total_tokens"] or 0 for r in per_lang))
    report["total_chars"] = int(sum(r["total_chars"] or 0 for r in per_lang))

    # filter incidence + length quantiles in one fused map-only pass
    st = filters.pii_scrub(filters.c4_line_clean(filters.repetition_stats(docs)))
    inc = st.agg(
        F.sum((~F.col("rep_keep")).cast("long")).alias("rep_fail"),
        F.sum((~F.col("c4_keep")).cast("long")).alias("c4_fail"),
        F.sum(
            (
                (F.col("n_email") + F.col("n_ssn") + F.col("n_phone") + F.col("n_ipv4"))
                > 0
            ).cast("long")
        ).alias("pii_docs"),
        F.sum("n_email").alias("pii_emails"),
        F.sum("n_ssn").alias("pii_ssns"),
        F.sum("n_phone").alias("pii_phones"),
        F.sum("n_ipv4").alias("pii_ipv4s"),
        F.percentile(F.col("n_tokens"), F.array(*[F.lit(q) for q in (0.5, 0.9, 0.99)]))
        .alias("tok_q"),
    ).head()
    # SUM over an all-null column is NULL (degenerate corpora: every
    # text empty/null) — coalesce driver-side so the card stays valid
    def _i(v) -> int:
        return int(v) if v is not None else 0

    report["filter_incidence"] = {
        "repetition_fail_rate": round(_i(inc["rep_fail"]) / n_docs, 6),
        "c4_fail_rate": round(_i(inc["c4_fail"]) / n_docs, 6),
        "pii_doc_rate": round(_i(inc["pii_docs"]) / n_docs, 6),
        "pii_spans": {
            "email": _i(inc["pii_emails"]),
            "ssn": _i(inc["pii_ssns"]),
            "phone": _i(inc["pii_phones"]),
            "ipv4": _i(inc["pii_ipv4s"]),
        },
    }
    report["token_quantiles_p50_p90_p99"] = (
        [float(x) for x in inc["tok_q"]] if inc["tok_q"] is not None else None
    )

    # unigram-LM score distribution (oracled op: lm_score)
    model, oov = lm.fit_unigram_lm(docs)
    scored = lm.lm_score(docs, model, oov)
    lo, hi = lm_band
    lmrow = scored.agg(
        F.percentile(
            F.col("bits_per_token"), F.array(*[F.lit(q) for q in (0.1, 0.5, 0.9)])
        ).alias("q"),
        F.sum(
            (
                F.col("bits_per_token").isNotNull()
                & (F.col("bits_per_token") >= lo)
                & (F.col("bits_per_token") <= hi)
            ).cast("long")
        ).alias("in_band"),
    ).head()
    report["lm_bits_quantiles_p10_p50_p90"] = (
        [round(float(x), 4) for x in lmrow["q"]]
        if lmrow["q"] is not None  # percentile over all-null bits → NULL
        else None
    )
    report["lm_band"] = {
        "lo": lo,
        "hi": hi,
        "in_band_rate": round(_i(lmrow["in_band"]) / n_docs, 6),
    }
    release_held()

    # sampled near-dup rate (oracled machinery: minhash_lsh)
    if near_dup_sample > 0:
        sample = sampling.bernoulli_sample(docs, near_dup_sample, "doc_id", seed)
        sample.persist()
        n_sample = sample.count()
        if n_sample:
            pairs = dedup.minhash_lsh_pairs(sample, threshold=near_dup_threshold)
            in_pairs = (
                pairs.select(F.col("id_a").alias("id"))
                .unionByName(pairs.select(F.col("id_b").alias("id")))
                .distinct()
                .count()
            )
            report["near_dup_sample"] = {
                "sample_rate": near_dup_sample,
                "sample_docs": n_sample,
                "threshold": near_dup_threshold,
                "docs_in_near_dup_pairs": in_pairs,
                "near_dup_doc_rate_in_sample": round(in_pairs / n_sample, 6),
            }
            release_held()
        sample.unpersist()

    # sampled substring/boilerplate duplication (oracled machinery:
    # substr_spans/substr_merge) — how much of the corpus is passages
    # shared ACROSS documents, the pathology document-level dedup
    # misses. seed+1: independent of the near-dup sample.
    if substr_sample > 0:
        ssample = sampling.bernoulli_sample(docs, substr_sample, "doc_id", seed + 1)
        ssample.persist()
        n_ssample = ssample.count()
        if n_ssample:
            merged = substr.merge_spans(
                substr.substr_dup_spans(
                    ssample, w=substr_w, window=substr_window
                ),
                w=substr_w,
                merge_gap=substr_window,
            )
            # merged islands are position-disjoint but their +w-1 width
            # extensions can overlap — clamp per doc so the fraction
            # stays a valid upper-bound estimate in [0, 1]
            per_doc = merged.groupBy("doc_id").agg(
                F.sum(
                    F.col("span_end") - F.col("span_start") + F.lit(1)
                ).alias("_shared")
            )
            frac = per_doc.join(
                ssample.select(
                    "doc_id",
                    textstats.token_count(F.col("text")).alias("_n_tok"),
                ),
                "doc_id",
            ).agg(
                F.count("*").alias("docs_with_spans"),
                F.sum(
                    F.least(F.col("_shared"), F.col("_n_tok"))
                    / F.greatest(F.col("_n_tok"), F.lit(1))
                ).alias("_frac_sum"),
            ).head()
            docs_with = _i(frac["docs_with_spans"])
            report["substr_sample"] = {
                "sample_rate": substr_sample,
                "sample_docs": n_ssample,
                "w": substr_w,
                "window": substr_window,
                "docs_with_shared_spans": docs_with,
                "shared_span_doc_rate_in_sample": round(
                    docs_with / n_ssample, 6
                ),
                "mean_shared_fraction_in_affected": (
                    round(float(frac["_frac_sum"]) / docs_with, 6)
                    if docs_with
                    else None
                ),
            }
            release_held()
        ssample.unpersist()

    docs.unpersist()
    return report


def snapshot_diff(
    prev: DataFrame,
    cur: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Crawl-to-crawl CDC classification: one row per document id in
    EITHER snapshot with ``status ∈ {added, removed, changed,
    unchanged}`` and ``tok_delta`` (whitespace-token count delta;
    +n for additions, -n for removals) — the 'what did this crawl
    actually change' report that gates incremental reprocessing (only
    added/changed rows need to re-enter the dedup/curation pipeline).

    Text equality is null-safe (a NULL text is a value, not absence —
    presence is tracked with explicit markers so 'present with NULL
    text' never classifies as added/removed). One full-outer shuffle
    on the id; token counts are map-side expressions."""
    ntok = textstats.token_count
    p = prev.select(
        F.col(id_col).alias(id_col),
        F.col(text_col).alias("_pt"),
        F.lit(1).alias("_pp"),
        ntok(F.col(text_col)).cast("long").alias("_pn"),
    )
    c = cur.select(
        F.col(id_col).alias(id_col),
        F.col(text_col).alias("_ct"),
        F.lit(1).alias("_cp"),
        ntok(F.col(text_col)).cast("long").alias("_cn"),
    )
    j = p.join(c, id_col, "full_outer")
    status = (
        F.when(F.col("_pp").isNull(), F.lit("added"))
        .when(F.col("_cp").isNull(), F.lit("removed"))
        .when(F.col("_pt").eqNullSafe(F.col("_ct")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(
        id_col,
        status.alias("status"),
        (F.coalesce("_cn", F.lit(0)) - F.coalesce("_pn", F.lit(0)))
        .cast("long")
        .alias("tok_delta"),
    )
