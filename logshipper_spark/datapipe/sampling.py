"""Deterministic sampling and splitting for training-data pipelines.

No rand(): every decision derives from xxhash64 of a stable row key,
so samples are reproducible run-to-run, independent of partitioning,
and stable under re-reads — the property a 100 TB curation pipeline
needs for resumable, auditable sampling (CLAUDE.md determinism rule).

Scale posture per op:
- bernoulli_sample / train_val_test_split: pure projections/filters —
  map-only, fuse into the scan, zero shuffle.
- topk_per_group: exact uniform-k-per-group via TWO-PHASE top-k — a
  salted local window bounds every task at its salt-bucket's rows,
  then the global window sees at most salt_buckets*k rows per group,
  so a group holding half the corpus never sorts in one task.
- token_budget_head: running token sum per group with the
  block-offset decomposition (skew.block_prefix_sums) — per-task work
  is bounded by block_size regardless of group size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..skew import block_prefix_sums, null_safe_block, salted_topk
from . import textstats

BUCKETS = 1_000_000


def hash_bucket(key: Column, seed: int = 0, buckets: int = BUCKETS) -> Column:
    """Deterministic bucket in [0, buckets) from a stable row key."""
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(buckets))


def bernoulli_sample(
    df: DataFrame, rate: float, key_col: str = "doc_id", seed: int = 0
) -> DataFrame:
    """Keep each row iff hash_bucket(key) < rate * BUCKETS — a
    reproducible Bernoulli(rate) sample, map-only.

    COMPOSITION: every op in this module reads the same hash stream
    for a given (key, seed), so stacking two of them over the same key
    with the same seed correlates the decisions — e.g. a 0.5 sample of
    a 0.8 train split (both seed 0) keeps bucket < 500k out of
    bucket < 800k = 62.5% of the split, not 50%. Pass a distinct
    ``seed`` per independent decision (report.py uses seed+1)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    thresh = int(round(rate * BUCKETS))
    return df.filter(hash_bucket(F.col(key_col), seed) < thresh)


def train_val_test_split(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str = "doc_id",
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Label every row with a split name by cumulative hash-bucket
    thresholds (insertion order of `weights`). Weights must be
    nonnegative and sum to 1 (±1e-9); the final split absorbs
    integer-rounding residue so the labeling is exhaustive and
    disjoint by construction. Map-only.

    Downstream sampling of a split must use a different ``seed``
    than the split itself — see the composition note on
    ``bernoulli_sample``."""
    if not weights:
        raise ValueError("weights must not be empty")
    bad = {k: v for k, v in weights.items() if v < 0}
    if bad:
        raise ValueError(f"split weights must be nonnegative, got {bad}")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = hash_bucket(F.col(key_col), seed)
    expr: Column | None = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name]
        cond = bucket < int(round(cum * BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out_col, last)


def mixture_rates(
    counts: dict[str, int], target: dict[str, float]
) -> dict[str, float]:
    """Per-domain keep rates that turn observed domain `counts` into
    the `target` mixture by downsampling only, retaining the maximum
    possible data: the binding domain (largest target-relative
    deficit) keeps 100% and every other domain downsamples to match.
    Pure driver-side arithmetic over the (tiny) domain histogram."""
    if set(counts) != set(target):
        raise ValueError(
            f"counts/target domain mismatch: {sorted(counts)} vs {sorted(target)}"
        )
    tot = sum(target.values())
    if tot <= 0 or any(v < 0 for v in target.values()):
        raise ValueError("target weights must be nonnegative with a positive sum")
    if any(c <= 0 for c in counts.values()):
        raise ValueError("every domain must have a positive count")
    # output total T is limited per domain by counts[d] / share[d];
    # the binding domain's limit is the achievable T
    shares = {d: target[d] / tot for d in target}
    t_out = min(
        counts[d] / shares[d] for d in counts if shares[d] > 0
    )
    return {
        d: min(1.0, (shares[d] * t_out) / counts[d]) if shares[d] > 0 else 0.0
        for d in counts
    }


def temperature_targets(
    counts: dict[str, int], temperature: float
) -> dict[str, float]:
    """Temperature-scaled mixture targets from the observed domain
    histogram: ``share_d ∝ count_d^(1/T)`` — the standard multilingual
    / multi-source sampling formula (Conneau & Lample 2019 §3.1,
    XLM-R; also the Gopher/PaLM data-mixing convention). T=1
    reproduces the natural mixture (every rate from ``mixture_rates``
    becomes 1.0 — keep everything), T→∞ approaches uniform across
    domains, T<1 sharpens toward the largest domain. Compose:
    ``mixture_rates(counts, temperature_targets(counts, T))``. Pure
    driver-side arithmetic over the tiny histogram, like
    ``mixture_rates``."""
    if temperature <= 0:
        raise ValueError(f"temperature must be positive, got {temperature}")
    if not counts:
        raise ValueError("counts must not be empty")
    if any(c <= 0 for c in counts.values()):
        raise ValueError("every domain must have a positive count")
    tot = sum(counts.values())
    w = {d: (c / tot) ** (1.0 / temperature) for d, c in counts.items()}
    s = sum(w.values())
    return {d: v / s for d, v in w.items()}


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic per-domain Bernoulli sampling (domain-mixture
    reweighting by downsampling): keep a row iff
    hash_bucket(key) < rate[its domain] * BUCKETS. Domains absent from
    `rates` are dropped. The rate table is a literal when-chain over
    the handful of domains — map-only, fuses into the scan, zero
    shuffle; same hash stream as bernoulli_sample, so a domain at
    rate 0.5 keeps exactly the rows a global 0.5 sample would."""
    for d, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {d!r} must be in [0, 1], got {r}")
    bucket = hash_bucket(F.col(key_col), seed)
    thresh: Column | None = None
    for d, r in rates.items():
        cond = F.col(group_col) == d
        t = F.lit(int(round(r * BUCKETS)))
        thresh = F.when(cond, t) if thresh is None else thresh.when(cond, t)
    if thresh is None:
        raise ValueError("rates must not be empty")
    return df.filter(bucket < thresh.otherwise(F.lit(0)))


def rank_key(key: Column, seed: int = 0) -> Column:
    """The deterministic pseudo-random total order used by
    topk_per_group: (xxhash64(key, seed), key) — the trailing key
    breaks 64-bit hash ties so the order is total and stable."""
    return F.struct(
        F.xxhash64(key, F.lit(seed)).alias("h"), key.alias("k")
    )


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    key_col: str = "doc_id",
    seed: int = 0,
    salt_buckets: int = 64,
) -> DataFrame:
    """Exact uniform sample of k rows per group, ordered by the hash
    rank key — equivalent to `row_number() OVER (PARTITION BY group
    ORDER BY xxhash64(key), key) <= k` but computed in two phases:

    phase 1 ranks within (group, salt) — salt is itself hash-derived
    from the key, so the decomposition is deterministic — and keeps
    each bucket's local top-k; phase 2 ranks the ≤ salt_buckets*k
    survivors per group. Any global top-k row is necessarily in its
    bucket's local top-k, so the result is EXACTLY the single-window
    answer (the contract oracle re-derives it that way) while no task
    ever sorts more than one salt-bucket of a hot group
    (``skew.salted_topk``)."""
    key = F.col(key_col)
    return salted_topk(
        df.withColumn("_rk", rank_key(key, seed)),
        group_cols,
        [F.col("_rk")],
        k,
        F.pmod(F.xxhash64(key, F.lit(seed + 1)), F.lit(salt_buckets)),
        "_gr",
    ).drop("_gr", "_rk")


def numeric_order(
    df: DataFrame, order_col: str
) -> tuple[DataFrame, str, list[str]]:
    """Adapt an arbitrary unique ordering key for the block-offset
    pattern, which needs a NUMERIC key to derive block ids from
    (blocks must be contiguous ranges of the total order). Numeric
    keys pass through; for any other type the layout order becomes
    ``(xxhash64(key), key)`` — deterministic, partition-independent,
    and unique whenever the key itself is (equal hashes share a block,
    and the key itself breaks the tie inside it), so e.g. string
    conv_id-keyed documents pack exactly. Returns
    ``(df', block_key_col, tiebreak_cols)``; the caller drops
    ``_ord0`` when it was added."""
    numeric = {
        "tinyint", "smallint", "int", "bigint", "float", "double", "date",
    }
    dtype = dict(df.dtypes).get(order_col, "")
    if dtype in numeric or dtype.startswith("decimal"):
        return df, order_col, []
    return (
        df.withColumn("_ord0", F.xxhash64(F.col(order_col))),
        "_ord0",
        [order_col],
    )


def block_running_sum(
    df: DataFrame,
    group_col: str,
    order_col: str,
    val_col: str,
    block_size: int = 4096,
    out_col: str = "_cum",
    tiebreaks: list[str] | None = None,
) -> DataFrame:
    """Inclusive running sum of `val_col` per group ordered by
    `order_col` (which must be unique within the group — or unique
    together with `tiebreaks`, extra ordering lanes for when the
    blockable numeric key alone has ties, see ``numeric_order``),
    added as `out_col` — exactly `SUM(val) OVER (PARTITION BY group
    ORDER BY ord ROWS UNBOUNDED PRECEDING)` but computed with
    ``skew.block_prefix_sums`` over blocks of `order_col` — no task
    scans a group's full history. Tied `order_col` values always share
    a block (ids derive from `order_col` alone), so tiebreak lanes never
    cross blocks and the two-phase order stays total.

    A non-null-count lane reproduces SUM's NULL semantics exactly (NULL
    until the group's first non-null value, then the running sum of
    non-nulls — a bare offset+local sum would NULL-poison every row of a
    block whose own prefix is all-NULL even when earlier blocks carried
    values)."""
    v = F.col(val_col)
    return (
        block_prefix_sums(
            df,
            [group_col],
            [order_col, *(tiebreaks or [])],
            null_safe_block(F.col(order_col), block_size),
            {"_run": v, "_nnr": v.isNotNull().cast("long")},
        )
        .withColumn(out_col, F.when(F.col("_nnr") > 0, F.col("_run")))
        .drop("_gk", "_blk", "_run", "_nnr")
    )


def quantile_bins(
    df: DataFrame,
    k: int,
    score_col: str,
    id_col: str = "doc_id",
    group_col: str | None = None,
    block_size: int = 4096,
    out_col: str = "bin",
    n_col: str | None = None,
) -> DataFrame:
    """Exact k-quantile binning (curriculum / quality-stratification
    buckets): adds ``rank`` (1-based position under (score, id) order
    within the group — id is the deterministic tie-break) and
    ``out_col = ((rank - 1) * k) DIV n`` where n is the group size, so
    bins 0..k-1 differ in size by at most one row — exactly what a
    single ``row_number() OVER (PARTITION BY group ORDER BY score,
    id)`` would give, but no task ever scans a whole group:

    - the base rank (rows with strictly smaller score) comes from a
      running count over the per-(group, score) DISTINCT-score table —
      tiny relative to the corpus;
    - the within-score tie rank is a block-offset running count
      (block_running_sum) keyed on the (group, score) STRUCT — a hot
      tied score (e.g. quality exactly 0 spam) spreads across
      id-range blocks instead of funneling through one task.

    Integer-exact and partition-independent; ``(rank-1)*k`` stays
    below 2^63 for any realistic n*k. NULL scores form their own tie
    class and rank FIRST (Spark's ASC null ordering — the null-safe
    score join keeps those rows; see test).

    The distinct-score table is always broadcast, so it must be tiny:
    scores must be DISCRETE (quantized quality scores, token counts, …)
    — the intended use. Quantize a near-continuous score first;
    otherwise the broadcast carries one row per distinct score and the
    per-group distinct-score window degenerates toward a group-sized
    sort.

    ``n_col`` keeps the group-size total (already computed for the bin
    arithmetic) as an output column — callers that need it
    (prototype_prune's keep rule) would otherwise re-aggregate the
    input, re-running its whole subtree."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    g = group_col or "_g"
    d = df if group_col else df.withColumn("_g", F.lit(0))
    sc = d.groupBy(g, score_col).agg(F.count("*").alias("_c"))
    prev_w = (
        Window.partitionBy(g)
        .orderBy(score_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = sc.select(
        g,
        score_col,
        F.coalesce(F.sum("_c").over(prev_w), F.lit(0)).alias("_base"),
    )
    totals = sc.groupBy(g).agg(F.sum("_c").cast("long").alias("_n"))
    ranked = block_running_sum(
        d.withColumn("_gs", F.struct(g, score_col)).withColumn(
            "_one", F.lit(1).cast("long")
        ),
        "_gs",
        id_col,
        "_one",
        block_size,
        "_tie",
    ).drop("_one", "_gs")
    # struct-keyed null-safe equi-joins: struct equality treats NULL
    # fields as equal, so NULL scores form their own tie class ranking
    # FIRST (Spark's ASC null ordering) and a NULL GROUP keeps its rows
    # — a plain equi-join on either column would silently drop them and
    # skew every other rank by their count
    base = F.broadcast(base.select(F.struct(g, score_col).alias("_bgs"), "_base"))
    totals = totals.select(F.struct(g).alias("_tg"), "_n")
    out = (
        ranked.withColumn("_bgs", F.struct(g, score_col))
        .withColumn("_tg", F.struct(g))
        .join(base, "_bgs")
        .join(F.broadcast(totals), "_tg")
        .drop("_bgs", "_tg")
        .withColumn("rank", (F.col("_base") + F.col("_tie")).cast("long"))
        .withColumn(
            out_col, F.expr(f"((rank - 1) * {k}) DIV _n").cast("int")
        )
        .drop("_base", "_tie")
    )
    out = out.withColumnRenamed("_n", n_col) if n_col else out.drop("_n")
    return out if group_col else out.drop("_g")


def token_budget_head(
    df: DataFrame,
    budget: int,
    group_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    block_size: int = 4096,
    out_col: str = "cum_tokens",
) -> DataFrame:
    """Keep each group's head (by order_col, which must be unique
    within the group) while the running token total stays ≤ budget;
    adds the inclusive running total as `out_col` (block-offset
    running sum — see block_running_sum)."""
    toks = (
        F.col(tokens_col)
        if tokens_col
        else textstats.token_count(F.col(text_col))
    ).cast("long")
    return (
        block_running_sum(
            df.withColumn("_tok", toks),
            group_col,
            order_col,
            "_tok",
            block_size,
            out_col,
        )
        .filter(F.col(out_col) <= budget)
        .drop("_tok")
    )
