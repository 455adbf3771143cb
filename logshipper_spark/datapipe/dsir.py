"""DSIR — Data Selection via Importance Resampling (Xie et al.,
NeurIPS 2023): select raw-corpus documents whose hashed n-gram
distribution looks like a small TARGET corpus, by importance weights

    log w(doc) = sum over doc features f of
                 [ log p_target(bucket(f)) - log p_raw(bucket(f)) ]

over hashed unigram+bigram features (the paper's bag-of-hashed-ngrams
generative model), followed by Gumbel-top-k resampling — the standard
reduction of sampling-k-without-replacement-proportional-to-softmax to
a deterministic top-k over ``log w + Gumbel noise``.

The LogShipper reference has no data-selection layer; this extends the
datapipe's corpus-statistics family (lm.py fits a quality model from
the corpus itself, dsir.py fits a RELEVANCE model from a target/raw
corpus pair) with the published recipe used to build LM pretraining
sets at the 100 TB posture this repo targets.

Determinism / oracle posture (the lm.py discipline):
- every per-bucket log-probability RATIO is quantized ONCE, model-side,
  to integer micro-log2 units (``lr_micro``); document weights are SUMS
  OF LONGS — order/partition-independent, exactly reproducible by any
  engine that reads the same model table. The contract oracle
  re-derives both bucket count columns from materialized per-document
  features and joins the model on ``(bucket, cnt_target, cnt_raw)``,
  so a count mismatch breaks the hash check; only the log2 quantization
  is engine-trusted.
- no rand(): the Gumbel noise derives from ``xxhash64(id, seed)``
  mapped to the open unit interval — reproducible, and materializable
  so an oracle can replay the selection exactly.

Scale posture (100 TB):
- fit = one explode + one map-side-combined groupBy per corpus whose
  SHUFFLE KEY CARDINALITY IS num_buckets (default 65,536): every map
  task emits at most num_buckets combined rows no matter how many
  tokens it scanned, so the fit shuffle is tiny and Zipf-proof by
  construction (feature hashing caps it harder than lm.py's open
  vocabulary).
- the model is exactly ≤ num_buckets rows — always broadcast; scoring
  is one explode + one broadcast join + one map-side-combined groupBy
  on the document id. The raw corpus never shuffles its text.
- selection is a salted two-phase top-k (sampling.topk_per_group
  pattern): no task ever sorts more than one salt bucket, and the
  global phase sees ≤ salt_buckets * k rows.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import hold
from .filters import word_ngrams
from .textstats import tokens

MICRO = 1_000_000
NUM_BUCKETS = 65_536


# 2^40 hash buckets for the Gumbel uniform: (h + 0.5) / 2^40 lies in
# the OPEN interval (0, 1), so -ln(-ln(u)) is always finite
_GUMBEL_DENOM = 1 << 40


def feature_buckets(
    toks: Column, num_buckets: int = NUM_BUCKETS, seed: int = 0
) -> Column:
    """Hashed unigram+bigram feature buckets of a token array (the
    DSIR paper's bag-of-hashed-ngrams features, §3): each gram hashes
    to ``pmod(xxhash64(gram, seed), num_buckets)``. Linear per-row
    work; pass a STAGED token column (an alias in a prior projection),
    not a nested expression — column functions inline their input tree
    at every reference (CLAUDE.md)."""
    grams = F.concat(toks, word_ngrams(toks, 2))
    return F.transform(
        grams, lambda g: F.pmod(F.xxhash64(g, F.lit(seed)), F.lit(num_buckets))
    )


def bucket_counts(
    df: DataFrame,
    text_col: str = "text",
    num_buckets: int = NUM_BUCKETS,
    seed: int = 0,
) -> DataFrame:
    """Corpus feature-bucket histogram ``(bucket, cnt)`` over
    lowercased whitespace tokens (textstats.tokens — the shared
    tokenizer). One explode + one map-side-combined groupBy whose key
    cardinality is capped at num_buckets."""
    staged = df.select(tokens(F.lower(F.col(text_col))).alias("_toks"))
    return (
        staged.select(
            F.explode(feature_buckets(F.col("_toks"), num_buckets, seed)).alias(
                "bucket"
            )
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


def _lr_micro(
    cnt_t: Column, denom_t: float, cnt_r: Column, denom_r: float, alpha: float
) -> Column:
    """floor((log2((cnt_t+a)/denom_t) - log2((cnt_r+a)/denom_r)) * 1e6
    + 0.5) as long — the quantized Lidstone-smoothed log-probability
    ratio of one bucket."""
    pt = (cnt_t.cast("double") + F.lit(alpha)) / F.lit(float(denom_t))
    pr = (cnt_r.cast("double") + F.lit(alpha)) / F.lit(float(denom_r))
    return F.floor((F.log2(pt) - F.log2(pr)) * MICRO + F.lit(0.5)).cast("long")


def fit_dsir(
    target_df: DataFrame,
    raw_df: DataFrame,
    text_col: str = "text",
    num_buckets: int = NUM_BUCKETS,
    seed: int = 0,
    alpha: float = 0.01,
) -> tuple[DataFrame, int]:
    """Fit the hashed-ngram importance model: returns ``(model,
    oov_lr_micro)`` where model is ``(bucket, cnt_target, cnt_raw,
    lr_micro)`` over every bucket observed in EITHER corpus, with
    Lidstone smoothing over all num_buckets cells:

        p_corpus(b) = (cnt_b + alpha) / (T_corpus + alpha*num_buckets)

    ``alpha`` must be SMALL (default 0.01). Add-one (alpha=1) is wrong
    at this bucket count when the corpora differ in size: the +B term
    dominates both denominators unevenly, biasing every common token's
    ratio away from 0 (so document LENGTH swamps the relevance signal)
    and flipping target-UNSEEN rare features positive (log2(denom_r /
    denom_t) > 0 — rewarding garbage). Measured: tools/dsir_eval.py
    planted-selection precision 0.0 under add-one, 1.0 under 0.01.

    ``oov_lr_micro`` is the (constant) ratio of a bucket observed in
    neither corpus — scoring coalesces to it, so a scoring corpus that
    differs from the fit corpora still gets exact weights.

    Two bounded-cardinality count shuffles + one join over ≤
    2*num_buckets rows; the transcendental runs once per observed
    bucket and is materialized (module docstring). Each corpus is
    scanned exactly ONCE: the joined count table is held (≤
    2*num_buckets tiny rows) before the totals action, so the
    denominators and the returned model share one materialization —
    eager call sites release it with ``session.release_held()`` after
    the model is written/collected."""
    tc = bucket_counts(target_df, text_col, num_buckets, seed)
    rc = bucket_counts(raw_df, text_col, num_buckets, seed)
    base = hold(
        tc.select("bucket", F.col("cnt").alias("cnt_target"))
        .join(
            rc.select("bucket", F.col("cnt").alias("cnt_raw")),
            "bucket",
            "full_outer",
        )
        .select(
            "bucket",
            F.coalesce("cnt_target", F.lit(0)).cast("long").alias("cnt_target"),
            F.coalesce("cnt_raw", F.lit(0)).cast("long").alias("cnt_raw"),
        )
    )
    tot = base.agg(
        F.coalesce(F.sum("cnt_target"), F.lit(0)).alias("t"),
        F.coalesce(F.sum("cnt_raw"), F.lit(0)).alias("r"),
    ).head()
    denom_t = int(tot["t"]) + alpha * num_buckets
    denom_r = int(tot["r"]) + alpha * num_buckets
    model = base.withColumn(
        "lr_micro",
        _lr_micro(
            F.col("cnt_target"), denom_t, F.col("cnt_raw"), denom_r, alpha
        ),
    )
    oov = int(
        math.floor(
            (math.log2(alpha / denom_t) - math.log2(alpha / denom_r)) * MICRO
            + 0.5
        )
    )
    return model, oov


def write_dsir_model(
    model: DataFrame, path: str, mode: str = "overwrite", codec: str = "zstd"
) -> None:
    """Persist the fitted model — fit once (target corpora are small;
    the raw histogram from a deterministic hash slice if need be),
    score many. zstd so independent readers (the DuckDB contract
    oracle) can decode it."""
    model.write.mode(mode).option("compression", codec).parquet(path)


def dsir_weights(
    df: DataFrame,
    model: DataFrame,
    oov_lr_micro: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = NUM_BUCKETS,
    seed: int = 0,
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-document importance log-weights: ``(id, n_feats,
    logw_micro)`` where logw_micro is the long sum of the document
    features' quantized log-ratios. Zero-feature documents keep a row
    with n_feats = 0 and logw_micro = 0 (never-drop posture — they
    still enter selection on pure Gumbel noise, matching the paper's
    resample-over-all-docs semantics).

    One explode_outer (an empty feature array yields one NULL-bucket
    row, so the single aggregate covers zero-feature docs too — no
    corpus-sized restore join), one broadcast join (a NULL bucket
    matches nothing, as intended), one map-side-combined groupBy on
    the document id."""
    staged = df.select(
        F.col(id_col).alias("_id"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    )
    feats = staged.select(
        "_id",
        F.explode_outer(
            feature_buckets(F.col("_toks"), num_buckets, seed)
        ).alias("bucket"),
    )
    m = model.select("bucket", F.col("lr_micro").alias("_lr"))
    if broadcast_model:
        m = F.broadcast(m)
    return (
        feats.join(m, "bucket", "left")
        .groupBy("_id")
        .agg(
            F.count("bucket").alias("n_feats"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("bucket").isNotNull(),
                        F.coalesce(F.col("_lr"), F.lit(oov_lr_micro)),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("logw_micro"),
        )
        .select(F.col("_id").alias(id_col), "n_feats", "logw_micro")
    )


def gumbel_hash(key: Column, seed: int = 0) -> Column:
    """The deterministic uniform driver of the Gumbel noise: a hash
    bucket in [0, 2^40). Materialize THIS next to the quantized noise
    so an auditor can recompute the transcendental."""
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(_GUMBEL_DENOM))


def gumbel_log2_micro(key: Column, seed: int = 0) -> Column:
    """Quantized Gumbel(0,1) noise in micro-log2 units:
    ``u = (gumbel_hash + 0.5) / 2^40`` (open unit interval), ``g =
    -ln(-ln(u))``, returned as ``floor(g / ln(2) * 1e6 + 0.5)`` — the
    same units as logw_micro, so ``logw_micro + gumbel`` is a monotone
    transform of the paper's ``log w + Gumbel`` key and the selection
    stays integer-exact after the one quantization."""
    u = (gumbel_hash(key, seed) + F.lit(0.5)) / F.lit(float(_GUMBEL_DENOM))
    g_log2 = -F.log2(-F.log(u))
    return F.floor(g_log2 * MICRO + F.lit(0.5)).cast("long")


def dsir_select(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    gumbel_col: str | None = None,
    seed: int = 0,
    salt_buckets: int = 64,
) -> DataFrame:
    """Gumbel-top-k resampling over dsir_weights output: adds
    ``key_micro = logw_micro + gumbel`` and ``selected`` (1 for the k
    largest keys, ties broken by ascending id — a total order, so the
    selection is exact and engine-independent). Pass ``gumbel_col`` to
    reuse a materialized noise column (the contract path); otherwise
    the noise derives in-plan from ``gumbel_log2_micro(id, seed)``.

    Two-phase salted top-k (sampling.topk_per_group pattern): phase 1
    ranks within a hash-derived salt bucket and keeps each bucket's
    local top-k (any global top-k row is necessarily in its bucket's
    local top-k), phase 2 ranks the ≤ salt_buckets*k survivors. The
    k selected ids then broadcast back onto the full frame — never
    drops rows, so downstream can audit the rejected tail too."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    g = (
        F.col(gumbel_col)
        if gumbel_col
        else gumbel_log2_micro(F.col(id_col), seed)
    )
    d = weights.withColumn(
        "key_micro", (F.col("logw_micro") + g).cast("long")
    )
    order = [F.col("key_micro").desc(), F.col(id_col).asc()]
    salted = d.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col(id_col), F.lit(seed + 1)), F.lit(salt_buckets)),
    )
    local_w = Window.partitionBy("_salt").orderBy(*order)
    survivors = (
        salted.withColumn("_lr", F.row_number().over(local_w))
        .filter(F.col("_lr") <= k)
        .drop("_lr", "_salt")
    )
    global_w = Window.partitionBy().orderBy(*order)
    chosen = (
        survivors.withColumn("_gr", F.row_number().over(global_w))
        .filter(F.col("_gr") <= k)
        .select(F.col(id_col).alias("_sel_id"))
    )
    return d.join(
        F.broadcast(chosen), d[id_col] == F.col("_sel_id"), "left"
    ).select(
        *[F.col(c) for c in d.columns],
        F.when(F.col("_sel_id").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("selected"),
    )
