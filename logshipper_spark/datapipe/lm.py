"""Unigram language-model quality scoring (the KenLM-perplexity-filter
analog, self-trained): fit a unigram model over the corpus itself, then
score every document by its per-token cross-entropy under that model.
Low bits/token = repetitive, stopword-heavy, in-distribution text; high
bits/token = rare-token gibberish — the classic cheap LM-quality signal
(CCNet / Wenzek et al. 2020 filter on LM perplexity; a unigram model is
the degenerate order-1 case and needs no external model artifact, so it
is exactly reproducible from the corpus bytes alone).

The LogShipper reference has no LM layer — this extends the datapipe's
quality-filter family (filters.py, textstats.quality_score) with a
corpus-statistics-driven score.

Determinism / oracle posture: every per-token negative log-probability
is quantized ONCE, model-side, to integer micro-bits
(``nlp_micro = floor(-log2(p) * 1e6 + 0.5)``), so document scores are
SUMS OF LONGS — order-independent, partition-independent, and exactly
reproducible by any engine that reads the same model table. The only
float transcendental (log2) is evaluated once per DISTINCT token at fit
time and materialized; the contract oracle re-derives every count,
join, weight, sum, and the final division independently and joins the
model on (token, cnt) so a count mismatch breaks the hash check.

Scale posture (100 TB):
- fit = one explode + one map-side-combined groupBy on token (Zipf
  skew on the shuffle key is absorbed by partial aggregation — the hot
  token arrives pre-combined per map task, ~one row per task).
- score = one explode, one join against the model, one groupBy doc.
  Vocabulary tables are small relative to any corpus (10⁷ distinct
  tokens ≈ a few hundred MB) — broadcast by default so the hot-token
  join-key skew never shuffles; set ``broadcast_model=False`` to
  shuffle-join a vocabulary too large to ship (AQE skew-join then
  handles 'the').
- ``min_count`` prunes the rare-token tail out of the broadcast model;
  pruned tokens score at the OOV probability mass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import hold
from .textstats import tokens

MICRO = 1_000_000


def unigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus unigram table ``(token, cnt)`` over lowercased whitespace
    tokens (textstats.tokens — the shared tokenizer, so LM scores align
    with every other token statistic in the datapipe)."""
    return (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


def _cached_unigram_counts_and_denom(
    df: DataFrame, text_col: str
) -> tuple[DataFrame, int]:
    """Shared by fit_unigram_lm and fit_bigram_lm — the two fits MUST
    stay numerically identical (uni_oov/fb_oov consistency across the
    unigram and bigram scorers): hold the unigram counts (the T/V
    aggregate materializes them anyway; ``session.release_held()``
    after the caller's action — or skip the in-memory path by writing
    the model with ``write_unigram_lm`` and scoring from the read-back,
    as the contract query does) and return (counts, T+V) with the
    empty-corpus denominator guard."""
    counts = hold(unigram_counts(df, text_col))
    tot = counts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("t"), F.count("*").alias("v")
    ).head()
    denom = int(tot["t"]) + int(tot["v"])
    if denom == 0:
        denom = 1  # empty corpus: degenerate model, every token OOV at p=1
    return counts, denom


def _nlp_micro(cnt_col, denom: int):
    """Quantized add-one-smoothed negative log-probability: delegates
    the floor(-log2(p)*1e6 + 0.5) formula to ``_quant`` so the unigram
    and bigram models can never desynchronize on rounding/smoothing."""
    return _quant((cnt_col + F.lit(1)).cast("double") / F.lit(float(denom)))


def _oov_micro(p: float) -> int:
    """Driver-side twin of ``_quant`` for the scalar OOV constants:
    the same floor(-log2(p)*1e6 + 0.5) in Python floats (IEEE doubles,
    same arithmetic as the JVM expression). One definition so the
    unigram oov / uni_oov / fb_oov constants can never desynchronize
    from each other or from the column quantizer."""
    import math

    return int(math.floor(-math.log2(p) * MICRO + 0.5))


def fit_unigram_lm(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> tuple[DataFrame, int]:
    """Fit the add-one-smoothed unigram model: returns
    ``(model, oov_nlp_micro)`` where model is ``(token, cnt,
    nlp_micro)`` and ``p(token) = (cnt + 1) / (T + V)`` with T = total
    token occurrences and V = vocabulary size, both measured BEFORE
    ``min_count`` pruning (so pruning changes coverage, not the
    probability of retained tokens). Unseen/pruned tokens carry the
    smoothed unit mass ``1 / (T + V)``.

    T and V are two scalars from one aggregation job; the per-token
    log2 is evaluated once per distinct token and quantized to integer
    micro-bits (module docstring) — the model is the ONLY place a
    transcendental runs."""

    counts, denom = _cached_unigram_counts_and_denom(df, text_col)
    model = counts.filter(F.col("cnt") >= min_count).select(
        "token", "cnt", _nlp_micro(F.col("cnt"), denom).alias("nlp_micro")
    )
    oov = _oov_micro(1.0 / denom)
    return model, oov


def write_unigram_lm(
    model: DataFrame, path: str, mode: str = "overwrite", codec: str = "zstd"
) -> None:
    """Persist the fitted model — the reusable artifact a 100 TB run
    fits once (or on a deterministic hash-slice) and every scoring
    pass reads back. zstd so independent readers (the DuckDB contract
    oracle) can decode it."""
    model.write.mode(mode).option("compression", codec).parquet(path)


def _finalize_scores(
    df: DataFrame, scored: DataFrame, id_col: str
) -> DataFrame:
    """Never-drop restore + bits/token finalization shared by lm_score
    and lm_score_bigram: left-join the per-doc sums back onto the full
    id set (zero-token docs keep a row with n_tokens 0 and NULL
    bits_per_token) and derive ``bits_per_token = nlp_sum_micro / 1e6
    / n_tokens`` at 4 dp — the +1e-9 nudges round-half ties the same
    way DuckDB rounds (oracle-parity-critical; CLAUDE.md)."""
    base = df.select(F.col(id_col).alias("_id")).distinct()
    return base.join(scored, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias("n_tokens"),
        F.coalesce(F.col("nlp_sum_micro"), F.lit(0).cast("long")).alias(
            "nlp_sum_micro"
        ),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.col("nlp_sum_micro") / F.lit(float(MICRO)) / F.col("n_tokens")
                + F.lit(1e-9),
                4,
            ),
        ).alias("bits_per_token"),
    )


def lm_score(
    df: DataFrame,
    model: DataFrame,
    oov_nlp_micro: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-document unigram cross-entropy: ``(id, n_tokens,
    nlp_sum_micro, bits_per_token)`` where ``bits_per_token =
    nlp_sum_micro / 1e6 / n_tokens`` (4 dp). Zero-token documents keep
    a row with n_tokens = 0 and NULL bits_per_token — the never-drop
    posture of the parse layer applies to scoring too.

    One explode, one (broadcast by default) join, one map-side-combined
    groupBy on the document id. All sums are longs — see module
    docstring for why that makes the score engine-independent."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    m = model.select("token", F.col("nlp_micro").alias("_nlp"))
    if broadcast_model:
        m = F.broadcast(m)
    scored = (
        toks.join(m, "token", "left")
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce(F.col("_nlp"), F.lit(oov_nlp_micro)))
            .cast("long")
            .alias("nlp_sum_micro"),
        )
    )
    return _finalize_scores(df, scored, id_col)


def bigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus bigram table ``(gram, cnt)`` — gram is the space-joined
    adjacent token pair (tokens are whitespace-split, so the single
    space is an unambiguous separator). One explode + one
    map-side-combined groupBy, same shuffle shape as unigram_counts."""
    from .filters import word_ngrams

    # stage the token array: word_ngrams references its input ~3x at
    # n=2 and HOF trees get no CSE (CLAUDE.md round-3 gotcha)
    return (
        df.select(tokens(F.lower(F.col(text_col))).alias("_toks"))
        .select(F.explode(word_ngrams(F.col("_toks"), 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
    )


def _quant(p):
    """floor(-log2(p) * 1e6 + 0.5) as long — quantize a probability
    expression to integer micro-bits (module docstring)."""
    return F.floor(-F.log2(p) * MICRO + F.lit(0.5)).cast("long")


def fit_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    lam: float = 0.7,
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame, int, int]:
    """Fit the interpolated bigram model (the CCNet perplexity filter
    one order up from fit_unigram_lm):

        p(t | prev) = lam * c(prev t) / c(prev ·) + (1 - lam) * p_uni(t)

    where ``c(prev ·)`` counts bigrams STARTING with prev (so the
    conditional sums to 1 over the vocabulary seen after prev) and
    ``p_uni`` is the add-one-smoothed unigram of fit_unigram_lm. The
    interpolation floor makes every probability strictly positive, so
    unseen pairs and unseen tokens stay finite.

    Returns ``(bi_model, tok_model, uni_oov_micro, fb_oov_micro)``:
    - bi_model ``(gram, cnt, c_prev, nlp_micro)`` — cnt and c_prev are
      materialized so an oracle can verify BOTH counts; only the log2
      quantization is engine-trusted.
    - tok_model ``(token, cnt, uni_nlp_micro, fb_nlp_micro)`` —
      uni_nlp scores each document's first (context-less) token,
      fb_nlp = -log2((1-lam) * p_uni(t)) scores a seen token after an
      unseen-pair context.
    - uni_oov / fb_oov — the two OOV constants for tokens outside the
      vocabulary entirely.

    Scale posture: two map-side-combined count shuffles (token, gram)
    + one groupBy prev over the DISTINCT-gram table (already tiny
    relative to the corpus); transcendentals run once per distinct
    gram/token and are materialized."""

    if not 0.0 < lam < 1.0:
        raise ValueError(f"lam must be in (0, 1), got {lam}")
    counts, denom = _cached_unigram_counts_and_denom(df, text_col)
    # held: the context totals and the model rows both read the pairs
    pairs = hold(bigram_counts(df, text_col))
    ctx = (
        pairs.select(
            F.element_at(F.split("gram", " "), 1).alias("prev"), "cnt"
        )
        .groupBy("prev")
        .agg(F.sum("cnt").cast("long").alias("c_prev"))
    )
    p_uni = (F.col("tok_cnt") + F.lit(1)).cast("double") / F.lit(float(denom))
    bi_model = (
        pairs.withColumn("prev", F.element_at(F.split("gram", " "), 1))
        .withColumn("token", F.element_at(F.split("gram", " "), 2))
        .join(ctx, "prev")
        .join(counts.select(F.col("token"), F.col("cnt").alias("tok_cnt")), "token")
        .filter(F.col("cnt") >= min_count)
        .select(
            "gram",
            "cnt",
            "c_prev",
            _quant(
                F.lit(lam) * F.col("cnt").cast("double") / F.col("c_prev")
                + F.lit(1.0 - lam) * p_uni
            ).alias("nlp_micro"),
        )
    )
    p_uni_tok = (F.col("cnt") + F.lit(1)).cast("double") / F.lit(float(denom))
    tok_model = counts.filter(F.col("cnt") >= min_count).select(
        "token",
        "cnt",
        _quant(p_uni_tok).alias("uni_nlp_micro"),
        _quant(F.lit(1.0 - lam) * p_uni_tok).alias("fb_nlp_micro"),
    )
    uni_oov = _oov_micro(1.0 / denom)
    fb_oov = _oov_micro((1.0 - lam) / denom)
    return bi_model, tok_model, uni_oov, fb_oov


def write_bigram_lm(
    bi_model: DataFrame,
    tok_model: DataFrame,
    path: str,
    mode: str = "overwrite",
    codec: str = "zstd",
) -> None:
    """Persist both model tables under ``path`` (``bigram/`` and
    ``tokens/``) — zstd so independent readers can decode them."""
    bi_model.write.mode(mode).option("compression", codec).parquet(
        f"{path}/bigram"
    )
    tok_model.write.mode(mode).option("compression", codec).parquet(
        f"{path}/tokens"
    )


def lm_score_bigram(
    df: DataFrame,
    bi_model: DataFrame,
    tok_model: DataFrame,
    uni_oov_micro: int,
    fb_oov_micro: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-document interpolated-bigram cross-entropy; same output
    schema as lm_score: ``(id, n_tokens, nlp_sum_micro,
    bits_per_token)``. Each document contributes exactly n_tokens
    scoring rows — the first token scored context-less at its unigram
    nlp, every later token at its bigram nlp (falling back to
    fb_nlp / fb_oov on unseen pair / unseen token) — so one count(*)
    doubles as the token count.

    Plan: one explode over a per-row (gram, token) entry array (built
    with a single linear zip_with), two broadcast joins, one
    map-side-combined groupBy on the document id, and a final left
    join so zero-token documents keep a row (never-drop posture)."""
    toks = tokens(F.lower(F.col(text_col)))
    from .filters import word_ngrams

    entry_t = "array<struct<gram:string,token:string>>"
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
    pair_structs = F.zip_with(
        word_ngrams(F.col("_toks"), 2),
        F.slice(F.col("_toks"), 2, F.greatest(F.size("_toks") - 1, F.lit(0))),
        lambda g, t: F.struct(g.alias("gram"), t.alias("token")),
    )
    first = F.when(
        F.size("_toks") > 0,
        F.array(
            F.struct(
                F.lit(None).cast("string").alias("gram"),
                F.element_at("_toks", 1).alias("token"),
            )
        ),
    ).otherwise(F.array().cast(entry_t))
    rows = base.select("_id", F.explode(F.concat(first, pair_structs)).alias("e")).select(
        "_id", F.col("e.gram").alias("gram"), F.col("e.token").alias("token")
    )
    bm = bi_model.select("gram", F.col("nlp_micro").alias("_bnlp"))
    tm = tok_model.select(
        "token",
        F.col("uni_nlp_micro").alias("_unlp"),
        F.col("fb_nlp_micro").alias("_fnlp"),
    )
    if broadcast_model:
        bm, tm = F.broadcast(bm), F.broadcast(tm)
    scored = (
        rows.join(bm, "gram", "left")
        .join(tm, "token", "left")
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(
                    F.col("gram").isNull(),
                    F.coalesce("_unlp", F.lit(uni_oov_micro)),
                ).otherwise(
                    F.coalesce("_bnlp", "_fnlp", F.lit(fb_oov_micro))
                )
            )
            .cast("long")
            .alias("nlp_sum_micro"),
        )
    )
    return _finalize_scores(df, scored, id_col)


def lm_quality_filter(
    scored: DataFrame, min_bits: float = 2.0, max_bits: float = 16.0
) -> DataFrame:
    """Keep documents inside the bits/token band — below it is
    degenerate repetition (near-zero entropy), above it is rare-token
    noise. Map-only over lm_score output; thresholds are corpus-tuned
    literals (CCNet keeps the middle perplexity band)."""
    b = F.col("bits_per_token")
    return scored.filter(b.isNotNull() & (b >= min_bits) & (b <= max_bits))
