"""Text analysis over document tables: token counting, quality scoring,
language ID, fingerprinting. All native column expressions (regexp_count,
higher-order array functions) — no Python in the hot path."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import hold
from ..skew import null_safe_window, salted_topk

# tiny per-language stopword lists for the n-gram/stopword-hit heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de", "que", "por"],
}
_BPE_ISH_RE = r"[A-Za-z]+|\d|[^A-Za-z\d\s]"
_PUNCT_RE = r"[.!?,;:]"


def tokens(text: Column) -> Column:
    """Whitespace tokens; empty or all-whitespace input → empty array.
    Split first, then drop empty elements: ``trim`` strips only SPACES,
    so the old trim-then-split form leaked ''-tokens for text edged
    with tabs/newlines ('hello\\n' → ['hello','']) — and those phantom
    tokens contaminated every downstream count, vocab id, BPE merge,
    and repetition verdict. ``array_remove`` is one linear native pass
    and references the text exactly once (no staged trim needed).
    Matches Python's ``str.split()`` for every input."""
    return F.array_remove(F.split(text, r"\s+"), "")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored token estimate: alpha runs + single digits + single
    punctuation marks, counted with a JVM-side regexp_count."""
    return F.regexp_count(text, F.lit(_BPE_ISH_RE))


def stopword_hits_arr(toks_lower: Column, lang: str) -> Column:
    """Number of tokens (with repeats) from a LOWERCASED token array
    found in the language's stopword list — higher-order filter, no
    UDF. The array-based form so callers computing several statistics
    share ONE token array (Spark does not CSE interpreted higher-order
    expressions across projection columns — see repetition_stats)."""
    stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks_lower, lambda t: F.array_contains(stop, t)))


def quality_score_arr(text: Column, toks_lower: Column) -> Column:
    """quality_score with a shared lowercased token array (token COUNT
    is case-insensitive, so counts off ``toks_lower`` equal the
    original formulation exactly)."""
    n_chars = F.length(text)
    n_tokens = F.size(toks_lower)
    punct = F.regexp_count(text, F.lit(_PUNCT_RE))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n_tokens > 0, stopword_hits_arr(toks_lower, "en") / n_tokens
    ).otherwise(F.lit(0.0))
    length_ok = ((n_chars >= 50) & (n_chars <= 20_000)).cast("double")
    punct_ok = (punct_ratio <= 0.2).cast("double")
    stop_ok = (stop_ratio >= 0.01).cast("double")
    return F.round((length_ok + punct_ok + stop_ok) / 3.0, 4)


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: length band + punctuation ratio band +
    English stopword ratio band (the classic Gopher-style cheap filters)."""
    return quality_score_arr(text, tokens(F.lower(text)))


def lang_best_arr(toks_lower: Column) -> Column:
    """``struct(hits, lang)`` of the winning language (max hit count,
    language-code tie-break). Callers that can stage columns should
    stage THIS and extract hits/lang from the staged reference —
    ``lang_id_arr`` references the array_max twice (hits + lang), so
    used directly inside one projection the whole 4-language scoring
    array is built twice per row (no CSE for interpreted HOFs; see
    ``text_stats``)."""
    return F.array_max(
        F.array(
            *[
                F.struct(
                    stopword_hits_arr(toks_lower, lang).alias("hits"),
                    F.lit(lang).alias("lang"),
                )
                for lang in sorted(STOPWORDS)
            ]
        )
    )


def lang_verdict(best: Column) -> Column:
    """'unknown' unless the winning language scored at least one
    stopword hit — the extraction step over a (staged) lang_best_arr
    struct."""
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("unknown"))


def lang_id_arr(toks_lower: Column) -> Column:
    """lang_id over a shared lowercased token array. Convenience form —
    builds the scoring array twice (see ``lang_best_arr``); hot paths
    stage the best struct instead."""
    return lang_verdict(lang_best_arr(toks_lower))


def lang_id(text: Column) -> Column:
    """Stopword-hit language ID: argmax of per-language hit counts via an
    array-of-structs max (deterministic tie-break on language code);
    'unknown' when nothing hits."""
    return lang_id_arr(tokens(F.lower(text)))


def fingerprint_arr(toks_lower: Column) -> Column:
    """fingerprint over a shared lowercased token array."""
    return F.aggregate(
        toks_lower,
        F.lit(0).cast("long"),
        lambda acc, t: F.xxhash64(acc, t),
    )


def fingerprint(text: Column) -> Column:
    """Order-sensitive document fingerprint: rolling hash over normalized
    tokens, folded with F.aggregate as a hash chain
    (acc' = xxhash64(acc, token)) — wrap-around-safe under ANSI mode,
    distributed, no UDF."""
    return fingerprint_arr(tokens(F.lower(text)))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass projection with all text statistics. The lowercased
    token array is STAGED as an intermediate column so the six
    statistics share one build (quality + 4-language lang_id +
    fingerprint would otherwise each re-tokenize per row — measured 2x
    the whole projection at sf0.1; same CSE story as
    filters.repetition_stats)."""
    t = F.col(text_col)
    d1 = df.withColumn("_tl", tokens(F.lower(t))).withColumn(
        "_lbest", lang_best_arr(F.col("_tl"))
    )
    return d1.select(
        "*",
        F.size(F.col("_tl")).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        quality_score_arr(t, F.col("_tl")).alias("quality"),
        lang_verdict(F.col("_lbest")).alias("lang_guess"),
        fingerprint_arr(F.col("_tl")).alias("fp"),
    ).drop("_tl", "_lbest")


def corpus_stats(
    df: DataFrame, text_col: str = "text", approx_distinct: float | None = None
) -> DataFrame:
    """Corpus accounting rollup by detected language — the numbers a
    training-data pipeline reports per ingest batch: document and
    distinct-document counts (exact, via the 128-bit content key — the
    contract oracle counts DISTINCT text directly, an independent ground
    truth), token/byte totals, and the summed 4-dp quality (kept as an
    exact integer sum — ``quality_sum_4dp / 10000 / docs`` is the mean —
    so the aggregate is order-independent and bit-reproducible; a double
    AVG would be neither).

    Scale: the stats projection is narrow; the groupBy is map-side
    combined. Exact COUNT(DISTINCT) adds a partial-distinct expand (two
    shuffles total); ``approx_distinct=rsd`` (e.g. 0.01) swaps in an
    HLL++ sketch over the 64-bit content hash — single shuffle, fixed
    sketch bytes per (lang, partition) — for the 100 TB report where a
    ±1% distinct estimate suffices. The contract oracle pins the exact
    path; the approx path is bounds-tested in unit tests."""
    t = F.col(text_col)
    st = text_stats(df, text_col)
    q4 = F.floor(F.col("quality") * 10000 + F.lit(0.5)).cast("long")
    # NULL-guard both distinct paths: xxhash64 SKIPS null arguments
    # (hash of the seed alone, a non-null constant), so without the
    # when() a NULL-text row would count as one extra distinct value —
    # while SQL COUNT(DISTINCT text) (the oracle, and the convention
    # here) ignores NULLs entirely
    if approx_distinct is not None:
        distinct = F.approx_count_distinct(
            F.when(t.isNotNull(), F.xxhash64(t, F.lit(0))),
            rsd=approx_distinct,
        )
    else:
        distinct = F.count_distinct(
            F.when(
                t.isNotNull(),
                F.struct(F.xxhash64(t, F.lit(0)), F.xxhash64(t, F.lit(1))),
            )
        )
    return st.groupBy("lang_guess").agg(
        F.count("*").alias("docs"),
        distinct.alias("distinct_texts"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_bpe_tokens").cast("long").alias("total_bpe_tokens"),
        F.sum(F.length(t)).cast("long").alias("total_chars"),
        F.sum(q4).alias("quality_sum_4dp"),
    )


def term_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_dl: bool = False,
) -> DataFrame:
    """(doc_id, token, tf): per-document term frequencies over the
    lowercased whitespace tokenization, PRE-COUNTED per row before any
    explode. The naive plan explodes every token occurrence and
    groupBys (doc, token) — a corpus-token-count shuffle. Here each row
    sorts its own token array and emits one (token, run-length) struct
    per DISTINCT token via run-boundary detection (per-row O(m log m),
    the `_rep_fold` trick shaped for emission instead of reduction), so
    the exploded relation is already the aggregated answer — no shuffle
    at all for tf, and downstream aggregates start from the smaller
    distinct-pairs relation.

    ``with_dl=True`` additionally carries the document length (total
    token count) on every posting row as ``dl`` — free here (the row
    already holds its token array), and it saves consumers that need
    per-document length normalization (BM25) a corpus-sized doc_id
    join later."""
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_sort(tokens(F.lower(F.col(text_col)))).alias("_s"),
    )
    s = F.col("_s")
    m = F.size(s)
    # 1-based positions where a new run starts (i==0 or s[i] != s[i-1]).
    # element_at(s, i) is the PREVIOUS element (i is transform's 0-based
    # index, element_at is 1-based); at i==0 the OR's left side is true
    # and Spark's Or short-circuits, so the 1-based-index-0 error can't
    # fire (ANSI element_at(_, 0) would throw if evaluated)
    starts = F.filter(
        F.transform(
            s,
            lambda x, i: F.when(
                (i == 0) | (x != F.element_at(s, i)), i + F.lit(1)
            ),
        ),
        lambda p: p.isNotNull(),
    )
    staged = staged.withColumn("_starts", starts)
    st = F.col("_starts")
    # greatest(...,0): slice length must be non-negative on empty docs
    nxt = F.concat(
        F.slice(st, 2, F.greatest(F.size(st) - 1, F.lit(0))),
        F.array(m + F.lit(1)),
    )
    # an empty doc still zips [] with [1] -> zip_with pads the empty
    # side with null structs; drop them with the outer filter below
    pairs_raw = F.zip_with(
        st,
        nxt,
        lambda a, b: F.when(
            a.isNotNull(),
            F.struct(
                F.element_at(s, a).alias("token"),
                (b - a).cast("long").alias("tf"),
            ),
        ),
    )
    pairs = F.filter(pairs_raw, lambda p: p.isNotNull())
    exploded = staged.select(
        "doc_id",
        F.size("_s").cast("long").alias("dl"),
        F.explode(pairs).alias("p"),
    )
    cols = [
        "doc_id",
        F.col("p.token").alias("token"),
        F.col("p.tf").alias("tf"),
    ]
    if with_dl:
        cols.append("dl")
    return exploded.select(*cols)


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: int | None = None,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed tf-idf:
    (doc_id, token, tf, score), score = round(tf * (ln((N+1)/(df+1))
    + 1), 4) — the sklearn smooth-idf formula. Ranking uses the ROUNDED
    score (ties broken by token ascending) so ordering is a pure
    function of integer tf/df/N — no cross-engine float-ulp rank
    divergence against the SQL oracle.

    ``n_docs`` is the corpus size N; pass it when known (e.g. from a
    prior accounting pass) to keep the builder fully lazy, else one
    count() action derives it. Plan: map-only per-row tf precount →
    one token-keyed shuffle for document frequency → broadcast-or-
    shuffle join back (df table is vocabulary-sized, far smaller than
    the corpus; AQE picks broadcast when it fits) → per-doc window
    top-k (group size bounded by the doc's own distinct-token count —
    no hot-key hazard)."""
    from pyspark.sql import Window

    n = df.count() if n_docs is None else n_docs
    # tf feeds BOTH the document-frequency aggregate and the join-back:
    # unpersisted, the corpus-wide tokenize/sort/fold projection runs
    # twice (the round-2 minhash trap — same fix as bm25_topk below)
    tf = hold(term_counts(df, text_col, id_col))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("_df"))
    idf = F.log((F.lit(float(n)) + 1.0) / (F.col("_df") + 1.0)) + 1.0
    scored = tf.join(dfreq, "token").withColumn(
        "score", F.round(F.col("tf") * idf + F.lit(1e-9), 4)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("token")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("doc_id", "token", "tf", "score")
    )


def prefix_queries(
    docs: DataFrame,
    mod: int = 37,
    rem: int = 3,
    n_tokens: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic corpus-derived retrieval query set: every document
    with ``id % mod == rem`` contributes its first ``n_tokens``
    whitespace tokens as ``(query_id, query)``. One definition shared
    by the contract query, bench, plan report, and tests so they all
    measure/verify the same workload."""
    return docs.filter(F.col(id_col) % mod == rem).select(
        F.col(id_col).alias("query_id"),
        F.array_join(
            F.slice(tokens(F.col(text_col)), 1, n_tokens), " "
        ).alias("query"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_col: str = "query",
    max_df_frac: float | None = None,
    salt_buckets: int = 64,
) -> DataFrame:
    """Okapi BM25 retrieval: exact top-k documents per query over the
    lowercased whitespace tokenization, output ``(query_id, doc_id,
    rank, score, matched_terms)``. Per query term t with document
    frequency df in an N-doc corpus of average length avgdl::

        idf(t)        = ln(1 + (N - df + 0.5) / (df + 0.5))
        contrib(t, d) = idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    and score(q, d) sums contrib over q's DISTINCT terms (the Lucene
    convention). Every per-term contribution is quantized to integer
    MICRO-BITS (floor(x*1e6 + 0.5)) before the sum — the ``lm.py``
    trick — so the per-(query, doc) score is an order-independent
    integer and the ranking (score desc, doc_id asc) is exactly
    reproducible by a SQL oracle with no float-summation-order or ulp
    divergence; the reported ``score`` is micros/1e6.

    Plan / 100 TB posture: term frequencies come from the zero-shuffle
    ``term_counts`` emission with ``dl`` carried on each posting row
    (no corpus doc-length join); the distinct query-token set
    BROADCASTS into that emission so the corpus is scanned ONCE and
    only query-term postings survive — the filtered posting frame is
    held (``session.release_held()`` after the action) and feeds both
    the df aggregate (df over filtered postings equals true df for
    those tokens) and the candidate join, so neither aggregates the
    full vocabulary nor re-tokenizes the corpus. The
    only corpus-keyed shuffle is the map-side-combined (query, doc)
    score aggregate, bounded by sum-of-df over query terms. The final
    top-k is ``skew.salted_topk`` (phase 1 ranks within (query,
    doc-hash salt) and keeps k, phase 2 ranks the ≤ salt_buckets*k
    survivors), so a stop-word query never funnels its full candidate
    set through one task. ``max_df_frac`` drops query terms with df >
    frac*N up front (classic stop-term pruning — those terms carry
    near-zero idf and dominate candidate volume). N and avgdl come
    from one tiny accounting collect over the corpus."""
    row = docs.select(
        F.count("*").alias("n"),
        F.sum(token_count(F.col(text_col))).alias("tot"),
    ).collect()[0]
    nd, tot = int(row["n"]), int(row["tot"] or 0)
    avgdl = (tot / nd) if nd else 1.0
    tf = term_counts(docs, text_col, id_col, with_dl=True)
    qt = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(
            F.array_distinct(tokens(F.lower(F.col(query_col))))
        ).alias("token"),
    )
    post = hold(tf.join(F.broadcast(qt.select("token").distinct()), "token"))
    dfreq = post.groupBy("token").agg(F.count("*").alias("df"))
    if max_df_frac is not None:
        dfreq = dfreq.filter(F.col("df") <= F.lit(max_df_frac * nd))
    qdf = dfreq.join(F.broadcast(qt), "token")
    cand = post.join(F.broadcast(qdf), "token")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(nd)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    norm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.lit(avgdl)))
    )
    micros = F.floor(idf * norm * F.lit(1e6) + F.lit(0.5)).cast("long")
    scored = (
        cand.withColumn("_m", micros)
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("_m").alias("_sm"),
            F.count("*").cast("long").alias("matched_terms"),
        )
    )
    return salted_topk(
        scored,
        ["query_id"],
        [F.desc("_sm"), F.asc("doc_id")],
        k,
        F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets)),
        "rank",
    ).select(
        "query_id",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        (F.col("_sm") / F.lit(1e6)).alias("score"),
        "matched_terms",
    )


def trending_terms(
    df: DataFrame,
    k: int = 5,
    ts_col: str = "ts",
    text_col: str = "text",
    duration: str = "1 hour",
    min_count: int = 2,
    salt_buckets: int = 16,
) -> DataFrame:
    """Top-k terms per tumbling time bucket — the "trending tokens this
    hour" view a log/transcript analytics surface renders. Output
    ``(window_start, token, n, rank)`` with rank by (count DESC, token
    ASC); ``min_count`` prunes the singleton tail before any ranking.

    Plan shape: tokenize (map-only) → ONE map-side-combined count
    shuffle on (bucket, token) — Zipf skew arrives pre-combined per map
    task — → ``skew.salted_topk`` on the (count, token) order, salted
    by token hash: a bucket's full vocabulary never sorts in one task.
    NULL-``ts_col`` rows land in a NULL ``window_start`` group
    (``skew.null_safe_window``)."""
    counts = (
        df.select(
            null_safe_window(F.col(ts_col), duration).alias("_w"),
            F.col(ts_col).isNull().alias("_ts_null"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
        )
        .groupBy("_w", "_ts_null", "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    return salted_topk(
        counts,
        ["_w", "_ts_null"],
        [F.col("n").desc(), F.col("token")],
        k,
        F.pmod(F.xxhash64("token"), F.lit(salt_buckets)),
        "rank",
    ).select(
        F.when(~F.col("_ts_null"), F.col("_w.start")).alias("window_start"),
        "token",
        "n",
        "rank",
    )


def cooccurrence_pairs(toks: Column, window: int) -> Column:
    """Unordered within-``window`` token co-occurrence pairs of a token
    array: for every position i and distance d in [1, window], the
    lexicographically sorted ``struct(w1, w2)`` of (toks[i],
    toks[i+d]), self-pairs (equal tokens) excluded. Built as ``window``
    shifted ``zip_with`` passes (the shingles/word_ngrams
    construction) — each distance is ONE linear zip of the array
    against its d-shifted self; the per-index
    ``transform(sequence) + try_element_at`` form re-ran index
    arithmetic per element in interpreted lambda code and measured
    ~10x slower at corpus scale. ``zip_with`` null-pads the shorter
    side, so out-of-range partners (and excluded self-pairs) fall to
    NULL and one final filter drops them; pair ORDER differs from the
    positional form (grouped by distance, not position) but the
    multiset — all any consumer counts — is identical. Sub-2-token
    arrays short-circuit to empty (``sequence`` would REVERSE on
    stop < start)."""
    n = F.size(toks)
    lanes = []
    for d in range(1, window + 1):
        shifted = F.slice(
            toks, d + 1, F.greatest(n - d, F.lit(0))
        )
        lanes.append(
            F.zip_with(
                toks,
                shifted,
                lambda a, b: F.when(
                    b.isNotNull() & (a != b),
                    F.struct(
                        F.least(a, b).alias("w1"),
                        F.greatest(a, b).alias("w2"),
                    ),
                ),
            )
        )
    return F.when(
        n >= 2,
        F.filter(F.concat(*lanes), lambda s: s.isNotNull()),
    ).otherwise(
        F.array().cast("array<struct<w1:string,w2:string>>")
    )


def pmi_pairs(
    df: DataFrame,
    text_col: str = "text",
    window: int = 4,
    min_pair_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-``k`` pointwise-mutual-information token pairs over the
    corpus (collocation mining — the word2vec/phrase-detection prep
    step): unordered within-``window`` co-occurrences, ``pmi =
    ln(p(a,b) / (p(a)p(b)))`` with ``p(a,b) = n_ab/P`` and ``p(w) =
    n_w/T`` (P = total pair occurrences, T = total tokens). Output
    ``(token_a, token_b, pair_count, pmi_micro)`` ordered by
    ``(pmi_micro DESC, token_a, token_b)``.

    PMI is quantized to integer micros with the bm25_topk discipline —
    ``floor(ln((n_ab·T)·T / ((P·n_a)·n_b))·1e6 + 0.5)`` with the
    parenthesization mirrored EXACTLY in the contract oracle, so the
    doubles agree bit-for-bit cross-engine before the floor. Count
    products stay exact in doubles below 2^53; at corpus scales beyond
    that the micro grid absorbs the rounding (scores are rankings, not
    ledgers).

    Scale posture: the pair explode is ≤ ``window`` rows per token
    (linear), the (w1, w2) count is map-side combined, unigram counts
    are vocabulary-sized, and the final top-k is TakeOrdered — no
    all-pairs, no full sort."""
    toks = tokens(F.lower(F.col(text_col)))
    # all_pairs feeds BOTH the p_tot driver aggregate and the reported
    # pair_rows join, and uni feeds the t_tok aggregate plus the na/nb
    # joins — uncached, each consumer re-runs the full corpus
    # co-occurrence explode (the documented self-join recompute trap).
    # The in-op driver aggregations below materialize both held frames.
    all_pairs = hold(
        df.select(F.explode(cooccurrence_pairs(toks, window)).alias("p"))
        .groupBy(F.col("p.w1").alias("token_a"), F.col("p.w2").alias("token_b"))
        .agg(F.count("*").cast("long").alias("pair_count"))
    )
    pair_rows = all_pairs.filter(F.col("pair_count") >= min_pair_count)
    uni = hold(
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    totals = uni.agg(F.sum("_n").alias("t")).head()
    t_tok = float(totals["t"] or 0)
    # P is the TOTAL pair mass (pre-cutoff): the min_pair_count filter
    # prunes reported rows, not the probability normalization
    p_tot = float(
        all_pairs.agg(F.sum("pair_count")).head()[0] or 0
    )
    if t_tok == 0 or p_tot == 0:
        return pair_rows.withColumn(
            "pmi_micro", F.lit(None).cast("long")
        ).limit(0)
    na = uni.select(F.col("token").alias("token_a"), F.col("_n").alias("_na"))
    nb = uni.select(F.col("token").alias("token_b"), F.col("_n").alias("_nb"))
    ratio = (
        (F.col("pair_count").cast("double") * F.lit(t_tok)) * F.lit(t_tok)
    ) / (
        (F.lit(p_tot) * F.col("_na").cast("double"))
        * F.col("_nb").cast("double")
    )
    scored = (
        pair_rows.join(na, "token_a")
        .join(nb, "token_b")
        .select(
            "token_a",
            "token_b",
            "pair_count",
            F.floor(F.log(ratio) * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(
        F.col("pmi_micro").desc(), "token_a", "token_b"
    ).limit(k)
