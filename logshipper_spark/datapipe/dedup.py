"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale posture: every variant avoids the O(n²) cross product — exact
dedup is a hash groupBy; Jaccard candidates come from a posting-list
self-join on shared shingles (with a document-frequency cutoff so
stop-shingles don't explode the join); MinHash compresses shingle sets
into fixed-width signatures and LSH bands turn near-dup search into an
equi-join on band hashes; SimHash reduces a document to one 64-bit key
compared by Hamming distance within LSH buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import hold, release_held
from .similarity import floor_round
from .textstats import tokens

# perfbench/workloads.py imports this name; it is its only reason
release_cached_signatures = release_held


def dedup_key(text: Column) -> Column:
    """128-bit composite dedup key: two independently-seeded xxhash64
    halves (seeding by hashing the text together with a distinct
    literal). One 64-bit key is NOT enough at corpus scale: at the
    10^12-document posture, expected 64-bit collisions ≈ n²/2^65 ≈
    2.7×10⁴ silently-merged distinct documents; with 128 bits the
    expectation drops to n²/2^129 ≈ 1.5×10⁻¹⁵ — zero for any feasible
    corpus. Still a single hash-groupBy key (one shuffle, 16 bytes)."""
    return F.struct(
        F.xxhash64(text, F.lit(0)).alias("h0"),
        F.xxhash64(text, F.lit(1)).alias("h1"),
    )


def write_key_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    mode: str = "append",
    codec: str = "zstd",
) -> None:
    """Persist the distinct 128-bit dedup keys of a corpus snapshot as
    a compact parquet key index (two BIGINT columns, 16 bytes/doc):
    the state a continuously-ingesting pipeline carries between crawls
    so each new batch dedups against everything already kept. Append
    mode accumulates snapshots; dedup_against() tolerates the
    resulting cross-snapshot repeats. ``codec`` defaults to zstd like
    the sibling index writers — the session-default lz4 frames are
    Spark-only, and a persisted carry-state index should stay readable
    by non-Spark tooling (DuckDB, pyarrow)."""
    (
        df.select(dedup_key(F.col(text_col)).alias("k"))
        .select("k.h0", "k.h1")
        .distinct()
        .write.mode(mode)
        .option("compression", codec)
        .parquet(path)
    )


def dedup_against(
    df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Incremental (cross-snapshot) exact dedup: keep only rows whose
    text does NOT appear in the persisted key index — a left-anti join
    on the 128-bit key. Batch-internal duplicates are NOT collapsed
    here (compose with exact_dedup for that); this operator answers
    'is it new vs. everything kept so far'.

    Scale posture: both sides shuffle on a 16-byte key — the index
    side carries nothing but the two hash columns, so at 10^12 indexed
    documents the anti-join moves ~16 TB of keys worst-case and
    AQE/bucketing the index on (h0, h1) makes re-use shuffle-free.
    Collision math as dedup_key: false-drop probability ≈ n²/2^129."""
    keyed = df.withColumn("_k", dedup_key(F.col(text_col)))
    idx = index.select(
        F.col("h0").alias("_ih0"), F.col("h1").alias("_ih1")
    )
    return (
        keyed.join(
            idx,
            (F.col("_k.h0") == F.col("_ih0"))
            & (F.col("_k.h1") == F.col("_ih1")),
            "left_anti",
        )
        .drop("_k")
    )


def banded_buckets(
    sigs: DataFrame, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """LSH band buckets ``(doc_id, band, bucket)`` from a
    ``(doc_id, sig)`` signature frame — the banding stage of
    ``minhash_lsh_pairs`` factored out so it can run over PERSISTED
    signatures (the incremental-dedup index) as well as fresh ones.
    Ships only (id, band, bucket) — the signature arrays never ride
    the explode."""
    rows = num_hashes // bands
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * rows + r + 1)
                                    for r in range(rows)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def write_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    mode: str = "append",
    codec: str = "zstd",
) -> None:
    """Persist a kept corpus snapshot's MinHash state as the carry
    index for incremental NEAR-dup dedup across crawls (the near-dup
    analog of ``write_key_index``): ``<path>/sigs`` holds
    ``(doc_id, sig)`` (num_hashes longs/doc) and ``<path>/bands`` the
    banded LSH buckets (bands rows/doc, 3 small columns). Append mode
    accumulates snapshots. At 10^12 docs the sigs table is
    ~256 B/doc — the index stays a small constant fraction of the
    corpus and is the only state a continuous-crawl pipeline needs to
    answer 'is this new page a near-copy of ANYTHING ever kept'."""
    sigs = df.select(
        F.col(id_col).alias("doc_id"),
        minhash_signature(F.col(text_col), k, num_hashes).alias("sig"),
    )
    sigs.persist()
    sigs.write.mode(mode).option("compression", codec).parquet(path + "/sigs")
    banded_buckets(sigs, num_hashes, bands).write.mode(mode).option(
        "compression", codec
    ).parquet(path + "/bands")
    sigs.unpersist()


def near_dedup_against(
    df: DataFrame,
    index_sigs: DataFrame,
    index_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    sigs_df: DataFrame | None = None,
) -> DataFrame:
    """Incremental cross-snapshot NEAR-dup dedup: drop every row whose
    estimated Jaccard against ANY indexed document reaches
    ``threshold``; batch-internal near-dups are not collapsed (compose
    with minhash_lsh_pairs for that). The batch's signatures band-join
    the index's bucket table — an equi-join on (band, bucket), same
    shape as the self-join inside ``minhash_lsh_pairs``, so candidate
    count stays bounded by bucket population, never index size.
    Signatures join in only for candidate pairs; verified hits reduce
    to a distinct drop-list and a broadcast-able left-anti join.

    Parameters must match the ones the index was written with
    (``write_minhash_index``) — banding is positional. Pass ``sigs_df``
    (``(id_col, sig)`` — keyed by the SAME id column as ``df``, e.g. a
    persisted batch-signature table) to skip the in-op signature
    computation+cache entirely — the pattern a continuous pipeline uses
    anyway, since the surviving batch's sigs get appended to the index
    next."""
    if sigs_df is not None:
        sigs = sigs_df.select(
            F.col(id_col).alias("doc_id"), F.col("sig")
        )
    else:
        sigs = hold(df.select(
            F.col(id_col).alias("doc_id"),
            minhash_signature(F.col(text_col), k, num_hashes).alias("sig"),
        ))
    new_b = banded_buckets(sigs, num_hashes, bands).select(
        F.col("doc_id").alias("_nid"), "band", "bucket"
    )
    idx_b = index_bands.select(
        F.col("doc_id").alias("_iid"), "band", "bucket"
    )
    cands = (
        new_b.join(idx_b, ["band", "bucket"])
        .select("_nid", "_iid")
        .dropDuplicates(["_nid", "_iid"])
    )
    new_s = sigs.select(F.col("doc_id").alias("_nid"), F.col("sig").alias("_ns"))
    idx_s = index_sigs.select(
        F.col("doc_id").alias("_iid"), F.col("sig").alias("_is")
    )
    est = F.size(
        F.filter(
            F.zip_with("_ns", "_is", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.lit(float(num_hashes))
    drops = (
        cands.join(new_s, "_nid")
        .join(idx_s, "_iid")
        .filter(est >= threshold)
        .select(F.col("_nid").alias(id_col))
        .distinct()
    )
    return df.join(drops, id_col, "left_anti")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash groupBy on the 128-bit composite key: one
    row per distinct text, keeping the minimal id and the duplicate
    count."""
    return (
        df.groupBy(dedup_key(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles as strings; shorter docs yield their
    whole token string as the single shingle. Built with the shifted
    zip_with construction (filters.word_ngrams) — the old per-index
    sequence+slice transform cost ~6x more in interpreted lambda work
    and dominated the MinHash signature stage."""
    from .filters import word_ngrams

    toks = tokens(F.lower(text))
    n = F.size(toks)
    full = F.array(F.concat_ws(" ", toks))
    return F.array_distinct(
        F.when(n >= k, word_ngrams(toks, k)).otherwise(full)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Pairwise n-gram Jaccard ≥ threshold via posting-list self-join.

    ``max_shingle_df`` drops shingles appearing in more documents than
    the cutoff (stop-shingles) before the join — the standard guard that
    keeps the candidate count near-linear at 100 TB scale. The cutoff
    is applied as a broadcast STOP-LIST anti-join: the over-cutoff
    shingle set is bounded by boilerplate vocabulary (small by
    construction), while the KEEP side is O(corpus distinct shingles)
    — broadcasting the keep side (the pre-round-5 form) would blow the
    8 GB broadcast cap / OOM the driver at target scale.
    """
    docs = df.select(
        F.col(id_col).alias("doc_id"), shingles(F.col(text_col), k).alias("sh")
    ).withColumn("sh_size", F.size("sh"))
    posting = docs.select("doc_id", "sh_size", F.explode("sh").alias("shingle"))
    df_counts = posting.groupBy("shingle").agg(F.count("*").alias("df_cnt"))
    posting = posting.join(
        F.broadcast(
            df_counts.filter(F.col("df_cnt") > max_shingle_df).select("shingle")
        ),
        "shingle",
        "left_anti",
    )
    a = posting.select(
        F.col("doc_id").alias("id_a"), F.col("sh_size").alias("size_a"), "shingle"
    )
    b = posting.select(
        F.col("doc_id").alias("id_b"), F.col("sh_size").alias("size_b"), "shingle"
    )
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("common"))
    )
    jac = F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common"))
    return (
        pairs.withColumn("jaccard", floor_round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signature(text: Column, k: int = 3, num_hashes: int = 32) -> Column:
    """MinHash signature: array<long> of length num_hashes.

    Scale notes: each shingle is string-hashed ONCE, then the
    ``num_hashes`` permutations re-hash that fixed-width 64-bit value
    (xxhash64 over a long is a few ALU ops — no string traversal) —
    the standard one-pass MinHash construction. The signature is a
    single fold over the shingle array (accumulator = running
    elementwise min of the per-shingle permutation vector) instead of
    ``num_hashes`` separate array_min passes — one traversal of the
    shingle array total.
    """
    base = F.transform(shingles(text, k), lambda s: F.xxhash64(s))
    top = F.array_repeat(F.lit(0x7FFFFFFFFFFFFFFF).cast("long"), num_hashes)
    return F.aggregate(
        base,
        top,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[F.xxhash64(h, F.lit(i)) for i in range(num_hashes)]),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_pairs_from_sigs(
    sigs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """The LSH self-join + estimated-Jaccard verify of
    ``minhash_lsh_pairs`` over a precomputed ``(doc_id, sig)`` frame —
    factored out so persisted/cached signatures (streaming epochs, the
    incremental index, a signatures table at 100 TB) are banded once
    instead of re-shingling the corpus. The band join ships only
    (doc_id, band, bucket); full signatures re-join onto the (small)
    candidate pair set afterwards."""
    banded = banded_buckets(sigs, num_hashes, bands)
    a = banded.select(F.col("doc_id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("doc_id").alias("id_b"), "band", "bucket")
    cands = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.lit(float(num_hashes))
    return (
        cands.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banded LSH near-dup candidates, verified by estimated
    Jaccard (signature agreement rate). Candidate generation is an
    equi-join on (band index, band hash) — a shuffle on small keys, no
    cross product."""
    # cache the signatures: the LSH self-join references them from both
    # sides, and without the cache Spark recomputes the whole
    # shingle+hash subtree twice (the dominant cost of this operator).
    # A 100 TB run would persist signatures to a table instead.
    sigs = hold(df.select(
        F.col(id_col).alias("doc_id"),
        minhash_signature(F.col(text_col), k, num_hashes).alias("sig"),
    ))
    return minhash_pairs_from_sigs(sigs, num_hashes, bands, threshold)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document, computed relationally: explode tokens,
    xxhash64 each, and for every bit position sum ±1 votes in a single
    groupBy pass (64 aggregate expressions, one shuffle)."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseXOR(term)  # disjoint bits → XOR == OR
    return agg.select("doc_id", sim.alias("simhash"))


def near_dup_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over a near-dup pair list → ``(doc_id,
    component)`` with the component labeled by its minimum member id —
    cluster-based dedup (keep one representative per component, not per
    pair, so transitive chains a~b~c collapse together).

    Min-label propagation with POINTER JUMPING: each round a node takes
    the min of (its label, its neighbors' labels, its *label's* label —
    the path-halving step). Plain propagation advances one hop per
    round and a >max_iter-diameter chain (template spam at corpus
    scale) would silently split; the label-of-label join makes label
    trees collapse exponentially, converging in O(log diameter) rounds.
    Each round is two joins + one aggregation on (id, label) pairs —
    never materializes anything per-component. Lineage is severed per
    round with localCheckpoint (iterative plans otherwise grow
    exponentially in Catalyst). Raises if the fixpoint isn't reached in
    ``max_iter`` rounds rather than returning wrong labels.
    """
    edges = pairs.select("id_a", "id_b")
    # checkpoint the symmetrized edge list ONCE: every round's eager
    # localCheckpoint of `new` scans sym, and without this the entire
    # upstream pair search (for semantic_dedup that's the cell
    # self-join + per-pair cosines — the dominant cost) re-executes
    # once per round instead of once total
    sym = edges.unionByName(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).localCheckpoint()
    labels = (
        sym.select(F.col("id_a").alias("id")).distinct().withColumn("comp", F.col("id"))
    ).localCheckpoint()
    converged = False
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym["id_b"] == labels["id"])
            .groupBy(F.col("id_a").alias("id"))
            .agg(F.min("comp").alias("_nbr_min"))
        )
        # pointer jump: my label's current label (labels re-keyed on id)
        jump = labels.select(
            F.col("id").alias("comp"), F.col("comp").alias("_comp_comp")
        )
        new = (
            labels.join(nbr, "id", "left")
            .join(jump, "comp", "left")
            .select(
                "id",
                F.least(
                    F.col("comp"),
                    F.coalesce(F.col("_nbr_min"), F.col("comp")),
                    F.coalesce(F.col("_comp_comp"), F.col("comp")),
                ).alias("_new"),
                "comp",
            )
        ).localCheckpoint()
        changed = new.filter(F.col("_new") != F.col("comp")).limit(1).count()
        # `new` is already checkpointed — labels is a cheap projection
        # over it, so no second materialization is needed
        labels = new.select("id", F.col("_new").alias("comp"))
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"near_dup_components: labels still changing after {max_iter} "
            "rounds — raise max_iter (component diameter > 2^max_iter)"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("comp").alias("component"))


def simhash_pairs_from_sims(
    sims: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Pigeonhole-LSH banding + Hamming verify over a precomputed
    ``(doc_id, simhash)`` frame — the banding stage of ``simhash_pairs``
    factored out so it can run over persisted signatures (and so the
    contract oracle can re-derive the same pairs in SQL from the same
    signature parquet; the chunk split / equi-join / bit_count-XOR
    verify are all SQL-expressible)."""
    assert max_hamming < bands, "pigeonhole guarantee needs max_hamming < bands"
    width = 64 // bands
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("chunk"),
            )
            for b in range(bands)
        ]
    )
    banded = sims.select(
        "doc_id", "simhash", F.explode(chunks).alias("bc")
    ).select("doc_id", "simhash", "bc.band", "bc.chunk")
    a = banded.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sim_a"), "band", "chunk"
    )
    b = banded.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sim_b"), "band", "chunk"
    )
    cands = (
        a.join(b, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
    return (
        cands.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, found with
    pigeonhole-LSH banding: the 64-bit key splits into ``bands`` equal
    chunks, and any pair within ``max_hamming < bands`` bit flips
    differs in at most ``max_hamming`` chunks — so it shares at least
    one chunk exactly. Candidates come from an equi-join on
    (band, chunk); the exact Hamming distance (bit_count of the XOR)
    verifies. No cross product anywhere — scales like the MinHash path.
    """
    return simhash_pairs_from_sims(simhash(df, text_col, id_col), max_hamming, bands)


def fingerprint_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify: bool = False,
) -> DataFrame:
    """Exact-duplicate pairs by rolling-hash fingerprint equality
    (textstats.fingerprint): a self-equi-join on the 64-bit fingerprint
    — the pairwise view of exact dedup, shuffling only (id, fp).

    The 64-bit key matches the operator's name (a *fingerprint* is
    64-bit by definition), but at 10^12 docs expects ~n²/2^65 ≈ 2.7×10⁴
    false pairs; pass ``verify=True`` to ride the text through the
    fp-join and filter on exact equality (costs text width in the
    shuffle — for hash-only width at scale use ``exact_dedup``'s
    128-bit composite key instead, see ``dedup_key``)."""
    from .textstats import fingerprint

    cols = [F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp")]
    if verify:
        cols.append(F.col(text_col).alias("_txt"))
    fps = df.select(*cols)
    a = fps.select(F.col("doc_id").alias("id_a"), "fp",
                   *([F.col("_txt").alias("_ta")] if verify else []))
    b = fps.select(F.col("doc_id").alias("id_b"), "fp",
                   *([F.col("_txt").alias("_tb")] if verify else []))
    pairs = a.join(b, "fp").filter(F.col("id_a") < F.col("id_b"))
    if verify:
        pairs = pairs.filter(F.col("_ta") == F.col("_tb"))
    return pairs.select("id_a", "id_b")


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 16,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup: random-hyperplane LSH buckets (sign
    signature over deterministic ±1 planes) then exact cosine inside
    buckets only. Pass ``dim`` to keep plan construction lazy (without
    it a one-row probe job infers the vector width)."""
    from .similarity import _plane, _vec_dim

    v = F.col(vec_col)
    dim = dim if dim is not None else _vec_dim(df, vec_col)
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    # planes are driver-side literal arrays — one multiply-add pass per
    # plane per row, no per-element hashing (see similarity._plane)
    sig_bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    v,
                    F.array(*[F.lit(x) for x in _plane(dim, p)]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            F.lit(1),
        ).otherwise(F.lit(0))
        for p in range(num_planes)
    ]
    bucket = F.concat_ws("", *[b.cast("string") for b in sig_bits])
    docs = df.select(
        F.col(id_col).alias("vid"), v.alias("vec"), norm.alias("nrm"), bucket.alias("bucket")
    )
    a = docs.select(
        F.col("vid").alias("id_a"), F.col("vec").alias("vec_a"),
        F.col("nrm").alias("nrm_a"), "bucket",
    )
    b = docs.select(
        F.col("vid").alias("id_b"), F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nrm_b"), "bucket",
    )
    dot = F.aggregate(
        F.zip_with("vec_a", "vec_b", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    # zero-norm guard: all-zero vectors (failed encodes) share the
    # all-'0' bucket and 0/0 = NaN, which Spark orders ABOVE every
    # threshold (NaN >= t is true) — without the guard they'd emit as
    # false near-dup pairs. Same guard as semdedup.semantic_pairs.
    nprod = F.col("nrm_a") * F.col("nrm_b")
    cos = F.when(nprod > 0, dot / nprod).otherwise(F.lit(0.0))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", floor_round(F.col("cosine"), 6).alias("cosine"))
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    min_line_chars: int = 6,
) -> DataFrame:
    """Cross-document duplicated-line removal (the CCNet §3.1 /
    RefinedWeb boilerplate pass): any line whose normalized form
    (one trailing ``\\r`` stripped — CRLF ≡ LF — then lower-cased,
    space-trimmed) occurs in >= ``min_df`` DISTINCT documents
    is boilerplate — nav bars, cookie banners, copyright footers — and
    is removed from every document it appears in. Complements
    ``filters.c4_line_clean`` (per-document rule filter, map-only) and
    ``substr.py`` (approximate shared-substring spans): this is the
    exact *cross-corpus* line-frequency pass between them.

    Lines shorter than ``min_line_chars`` after trimming are exempt —
    never counted, never removed — so blank separators and one-word
    lines don't collapse document structure.

    Plan (three shuffles, all on compact keys, no driver collect):

    1. explode lines with position, key each by the 128-bit composite
       ``dedup_key`` of the normalized text (16 bytes — a 64-bit key
       would merge distinct boilerplate lines at the 10^12-line
       posture, silently deleting innocent text);
    2. document frequency per key = dropDuplicates(key, id) then a
       map-side-combined count; keys with df >= min_df form the
       boilerplate set (shuffle on 16-byte keys only — line text never
       shuffles with them);
    3. mark each line instance via a left semi/anti join on the key
       (AQE skew-join splits the hot boilerplate keys; the dup-key set
       is usually broadcast-sized but correctness doesn't depend on
       it), then reassemble per document with a sort_array(collect_list)
       over (pos, line) — each task handles one document's lines, which
       is bounded by document size, not corpus size.

    Output: the input frame (joined back on ``id_col``) plus
    ``clean_text`` (kept lines re-joined with newline), ``n_lines``,
    and ``n_removed_lines`` — exact integers. A NULL ``text_col``
    explodes to no lines, so those rows come back through the LEFT
    join with ``clean_text = ''`` and zero counts — never dropped
    (the sibling operators' never-drop posture).
    """
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("_pos", "_line"),
    )
    # normalization sees CRLF and LF documents identically: one
    # trailing \r is stripped before the lower/trim key (trim removes
    # spaces only), so a Windows crawl matches the same boilerplate as
    # its Unix twin. Reassembly still uses the ORIGINAL line bytes.
    # Cheap endswith gate, no per-line regex (CLAUDE.md r2 lesson).
    bare = F.when(
        F.col("_line").endswith("\r"),
        F.expr("substring(_line, 1, length(_line) - 1)"),
    ).otherwise(F.col("_line"))
    keyed = lines.withColumn("_bare", bare)
    norm = F.lower(F.trim(F.col("_bare")))
    keyed = keyed.withColumn(
        "_eligible", F.length(F.trim(F.col("_bare"))) >= min_line_chars
    ).withColumn("_k", dedup_key(norm))
    dup_keys = (
        keyed.filter(F.col("_eligible"))
        .select("_k.h0", "_k.h1", "_id")
        .dropDuplicates(["h0", "h1", "_id"])
        .groupBy("h0", "h1")
        .count()
        .filter(F.col("count") >= min_df)
        .select("h0", "h1")
    )
    marked = keyed.join(
        dup_keys.withColumn("_dup", F.lit(True)),
        (keyed["_k.h0"] == dup_keys["h0"]) & (keyed["_k.h1"] == dup_keys["h1"]),
        "left",
    ).select(
        "_id",
        "_pos",
        "_line",
        (F.col("_eligible") & F.coalesce(F.col("_dup"), F.lit(False))).alias("_drop"),
    )
    rebuilt = (
        marked.groupBy("_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(
                        ~F.col("_drop"),
                        F.struct(F.col("_pos"), F.col("_line")),
                    )
                )
            ).alias("_kept"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("_drop").cast("long")).alias("n_removed_lines"),
        )
        .select(
            "_id",
            F.array_join(F.transform(F.col("_kept"), lambda s: s["_line"]), "\n").alias(
                "clean_text"
            ),
            "n_lines",
            "n_removed_lines",
        )
    )
    return (
        df.join(rebuilt, df[id_col] == rebuilt["_id"], "left")
        .drop("_id")
        .withColumn("clean_text", F.coalesce(F.col("clean_text"), F.lit("")))
        .withColumn(
            "n_lines", F.coalesce(F.col("n_lines"), F.lit(0).cast("long"))
        )
        .withColumn(
            "n_removed_lines",
            F.coalesce(F.col("n_removed_lines"), F.lit(0).cast("long")),
        )
    )


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix: for every unordered pair of
    sources (crawls, dumps, vendors), how many DISTINCT document texts
    appear in both — the dataset-composition diagnostic that tells you
    which inputs are rebottling each other before you pay for a full
    dedup of their union.

    Relational shape: distinct (128-bit key, source) pairs — one
    shuffle that collapses each source's repeats first, so the join
    input is bounded by (distinct texts × sources present), not rows —
    then a key self-equi-join restricted to ``src_a < src_b`` and a
    count per pair. The join fan-out per key is at most
    (#sources choose 2), independent of how many times a text repeats
    inside any source; output is #source-pairs rows (tiny).
    """
    keyed = (
        df.select(
            dedup_key(F.col(text_col)).alias("_k"),
            F.col(source_col).alias("_src"),
        )
        .select(F.col("_k.h0").alias("h0"), F.col("_k.h1").alias("h1"), "_src")
        .distinct()
    )
    a = keyed.select("h0", "h1", F.col("_src").alias("src_a"))
    b = keyed.select("h0", "h1", F.col("_src").alias("src_b"))
    return (
        a.join(b, ["h0", "h1"])
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared_texts"))
    )


def representatives(
    labels: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    seed: int = 0,
    salt_buckets: int = 64,
) -> DataFrame:
    """Quality-aware representative selection over dup components:
    given ``labels`` (id, component — e.g. ``near_dup_components`` /
    ``semantic_dedup`` output) and per-doc ``scores``, mark ``keep=1``
    on exactly one member per component — the HIGHEST-scoring one,
    ties broken by ascending id. The RefinedWeb/SemDeDup keep rule
    upgraded from "min id" to "best document": near-dup clusters keep
    the longest / highest-quality / least-boilerplate variant instead
    of whichever crawled first.

    Output: ``(id, component, score, keep)`` for EVERY labels row —
    never drops; downstream filters on ``keep``. Docs missing from
    ``scores`` rank LAST (nulls-last ordering), so a partial score
    table still yields one representative per component.

    Scale: a viral template's component can hold millions of members,
    so the per-component argmax is the salted two-phase top-1
    (``sampling.topk_per_group`` / ``dsir_select`` pattern): phase 1
    takes each (component, salt)-bucket's best row, phase 2 ranks the
    <= salt_buckets survivors per component — no task ever sorts a
    whole hot component. The winner table (one compact row per
    component) equi-joins back on ``component``. Component labels must
    be non-null (CC output always is); score ties are only
    deterministic cross-engine if ``score_col`` is integer-quantized
    (micro-units precedent, CLAUDE.md).
    """
    sid = F.col(id_col)
    d = labels.join(scores.select(id_col, score_col), id_col, "left")
    order = [F.desc_nulls_last(score_col), sid.asc()]
    salted = d.withColumn(
        "_salt", F.pmod(F.xxhash64(sid, F.lit(seed + 1)), F.lit(salt_buckets))
    )
    local_w = Window.partitionBy("component", "_salt").orderBy(*order)
    survivors = (
        salted.withColumn("_lr", F.row_number().over(local_w))
        .filter(F.col("_lr") == 1)
        .drop("_lr", "_salt")
    )
    global_w = Window.partitionBy("component").orderBy(*order)
    winners = (
        survivors.withColumn("_gr", F.row_number().over(global_w))
        .filter(F.col("_gr") == 1)
        .select(F.col("component"), sid.alias("_win_id"))
    )
    return d.join(winners, "component").select(
        sid,
        "component",
        score_col,
        (sid == F.col("_win_id")).cast("int").alias("keep"),
    )


def _fuzzy_keys(df: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """``(fid, fkey, flen)`` — NULL keys dropped, length staged."""
    return (
        df.select(F.col(id_col).alias("fid"), F.col(key_col).alias("fkey"))
        .filter(F.col("fkey").isNotNull())
        .withColumn("flen", F.length("fkey").cast("int"))
    )


def _fuzzy_postings(keys: DataFrame, q: int) -> DataFrame:
    """Multiset q-gram postings ``(fid, flen, gram, occ, pos)`` of a
    ``_fuzzy_keys`` frame: one (id, gram) window for the occurrence
    index (per-task state bounded by key length). ``pos`` is the
    0-based gram start — the positional filter lane (Gravano et al.
    §4.2) buckets on it; readers with a pinned (fid, flen, gram, occ)
    schema simply prune it."""
    gram_arr = F.transform(
        F.sequence(F.lit(1), F.col("flen") - q + 1),
        lambda i: F.col("fkey").substr(i, F.lit(q)),
    )
    return (
        keys.filter(F.col("flen") >= q)
        .select("fid", "flen", F.posexplode(gram_arr).alias("pos", "gram"))
        .withColumn(
            "occ",
            F.row_number().over(
                Window.partitionBy("fid", "gram").orderBy("pos")
            ),
        )
        .select("fid", "flen", "gram", "occ", "pos")
    )


def fuzzy_dup_pairs(
    df: DataFrame,
    key_col: str = "text",
    id_col: str = "doc_id",
    max_edit: int = 2,
    q: int = 3,
    max_gram_df: int = 1000,
) -> DataFrame:
    """Edit-distance near-duplicate pairs over a SHORT key column
    (titles, URLs, names — record-linkage fuzzy dedup, L67): all pairs
    with ``levenshtein(a, b) <= max_edit``, output
    ``(id_a, id_b, edit_distance)`` with ``id_a < id_b``.

    Candidate generation is the q-gram COUNT filter (Gravano et al.
    2001, approximate string joins): ``ed(s,t) <= k`` implies the
    multiset q-gram overlap ``>= max(|s|,|t|) - q + 1 - k*q`` (each
    edit destroys at most ``q`` grams). Multiset overlap is an
    equi-join on ``(gram, occurrence_index, pos_bucket)`` postings —
    never all-pairs; the position bucket (Gravano §4.2: matching grams
    sit within ``k`` positions, bucket width ``k+1`` + 3-bucket probe
    fan-out) shrinks candidates before the overlap groupBy. Keys too short for that bound to guarantee a shared
    gram (``len < q*(k+1)``) take the SHORT lane instead: a
    length-window equi-join (each right key fans out to its
    ``2k+1`` admissible lengths), quadratic only within same-length
    short keys — bounded by the short-key length histogram, which a
    title/URL domain keeps tiny. Every candidate is verified with
    exact ``levenshtein`` before emission, so both lanes are
    precision-exact. Recall is not: postings pair the i-th occurrence
    of a repeated gram with the other key's i-th occurrence, which can
    miss a true ``ed <= k`` pair whose corresponding occurrences sit
    more than ``k`` positions apart (1 of 284 pairs on the benchmark
    corpus; the oracle mirrors the miss). ``max_gram_df`` drops
    stop-grams (postings in more than that many keys) before the
    join — the jaccard_pairs scale guard, trading recall on keys whose
    ONLY shared grams are corpus-universal boilerplate.

    Scale posture: one (id, gram) window for occurrence indexes
    (per-task state bounded by key length), one posting self-join with
    the df cutoff, verify joins keyed by id. NULL keys drop."""
    k = max_edit
    cut = q * (k + 1) - 1  # len <= cut → the gram bound can be < 1
    keys = _fuzzy_keys(df, key_col, id_col)
    posting = _fuzzy_postings(keys, q)
    df_counts = posting.groupBy("gram", "occ").agg(
        F.count("*").alias("_df")
    )
    # stop-gram cutoff as a broadcast ANTI-join: the over-cutoff set
    # is bounded by boilerplate vocabulary; the keep side is O(corpus
    # distinct grams) and must never be the broadcast side
    posting = posting.join(
        F.broadcast(
            df_counts.filter(F.col("_df") > max_gram_df).select("gram", "occ")
        ),
        ["gram", "occ"],
        "left_anti",
    ).select("fid", "flen", "gram", "occ", "pos")
    # positional q-gram filter (Gravano et al. §4.2): under <= k edits
    # a surviving gram's position drifts by at most k, so matching
    # grams must sit within k positions. Bucketing pos by width k+1
    # puts any within-k pair in the SAME or ADJACENT buckets: the
    # probe side fans out to its 3 admissible buckets and the bucket
    # joins the equi-key — candidates shrink BEFORE the groupBy (the
    # adversarial-similar-titles corpus collapses ~2x here). The
    # |pos_a - pos_b| <= k post-filter restores the exact window
    # inside the bucket pair. Occurrence-index pairing can in
    # principle pair non-corresponding occurrences of a repeated gram
    # across > k positions — a recall trade the published filter
    # accepts; every emitted pair is still levenshtein-verified.
    pb = (F.col("pos") / F.lit(k + 1)).cast("int")
    a = posting.select(
        F.col("fid").alias("id_a"), F.col("flen").alias("len_a"),
        "gram", "occ", F.col("pos").alias("pos_a"), pb.alias("_pb"),
    )
    b = posting.select(
        F.col("fid").alias("id_b"), F.col("flen").alias("len_b"),
        "gram", "occ", F.col("pos").alias("pos_b"),
        F.explode(F.array(pb - 1, pb, pb + 1)).alias("_pb"),
    )
    need = (
        F.greatest(F.col("len_a"), F.col("len_b")) - F.lit(q - 1) - F.lit(k * q)
    )
    long_cand = (
        a.join(b, ["gram", "occ", "_pb"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.abs(F.col("pos_a") - F.col("pos_b")) <= k)
        .filter(
            F.abs(F.col("len_a") - F.col("len_b")) <= k
        )
        .filter(F.greatest(F.col("len_a"), F.col("len_b")) > cut)
        .groupBy("id_a", "id_b", "len_a", "len_b")
        .agg(F.count("*").alias("_shared"))
        .filter(F.col("_shared") >= need)
        .select("id_a", "id_b")
    )
    short = keys.filter(F.col("flen") <= cut)
    al = short.select(
        F.col("fid").alias("id_a"), F.col("flen").alias("_lb")
    )
    bl = short.select(
        F.col("fid").alias("id_b"),
        F.explode(
            F.sequence(F.col("flen") - k, F.col("flen") + k)
        ).alias("_lb"),
    )
    short_cand = (
        al.join(bl, "_lb")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    cand = long_cand.unionByName(short_cand).distinct()
    ka = keys.select(F.col("fid").alias("id_a"), F.col("fkey").alias("_ka"))
    kb = keys.select(F.col("fid").alias("id_b"), F.col("fkey").alias("_kb"))
    return (
        cand.join(ka, "id_a")
        .join(kb, "id_b")
        .withColumn(
            "edit_distance",
            F.levenshtein(F.col("_ka"), F.col("_kb")).cast("int"),
        )
        .filter(F.col("edit_distance") <= k)
        .select("id_a", "id_b", "edit_distance")
    )


def write_fuzzy_index(
    df: DataFrame,
    path: str,
    key_col: str = "text",
    id_col: str = "doc_id",
    q: int = 3,
    mode: str = "append",
    codec: str = "zstd",
) -> None:
    """Persist the fuzzy-dedup carry state of a kept corpus snapshot —
    the L67 member of the incremental-index family (exact keys L8,
    MinHash L9, semantic L10): ``<path>/keys`` holds ``(fid, fkey,
    flen)`` (the key STRINGS — the levenshtein verify needs bytes, so
    unlike the 16 B/doc exact index this one is sized by key length;
    titles/URLs keep it tens of bytes per doc) and ``<path>/postings``
    holds the multiset q-gram postings ``(gram, occ, fid, flen)``.
    Append mode accumulates snapshots."""
    keys = _fuzzy_keys(df, key_col, id_col)
    keys.write.mode(mode).option("compression", codec).parquet(
        f"{path}/keys"
    )
    _fuzzy_postings(keys, q).write.mode(mode).option(
        "compression", codec
    ).parquet(f"{path}/postings")


def fuzzy_dedup_against(
    df: DataFrame,
    spark,
    path: str,
    key_col: str = "text",
    id_col: str = "doc_id",
    max_edit: int = 2,
    q: int = 3,
    max_gram_df: int = 1000,
) -> DataFrame:
    """Incremental fuzzy dedup: keep only rows whose key has NO
    ``levenshtein <= max_edit`` match in the persisted
    ``write_fuzzy_index`` state — 'is this title/URL genuinely new vs
    everything kept so far, typos included'. Same candidate discipline
    as ``fuzzy_dup_pairs`` (count-filter gram lane + short-key length
    window + exact verify), but one side is the index: the stop-gram
    ``max_gram_df`` cutoff is computed on the INDEX postings (the
    accumulated corpus defines what is boilerplate, not the batch) and
    applied to both sides. Batch-internal fuzzy duplicates are NOT
    collapsed here (compose with ``fuzzy_dup_pairs``) — the
    ``dedup_against`` convention.

    Scale posture: the gram lane joins batch postings against index
    postings on (gram, occ) — traffic bounded by the batch's gram
    count times the surviving index df; the short lane is batch-short
    × index-short within the length window; verify joins keyed by id.
    """
    k = max_edit
    cut = q * (k + 1) - 1
    keys = _fuzzy_keys(df, key_col, id_col)
    bpost = _fuzzy_postings(keys, q)
    ikeys = spark.read.schema("fid long, fkey string, flen int").parquet(
        f"{path}/keys"
    )
    ipost = spark.read.schema(
        "fid long, flen int, gram string, occ int"
    ).parquet(f"{path}/postings")
    idf = ipost.groupBy("gram", "occ").agg(F.count("*").alias("_df"))
    # broadcast the STOP set (index grams over the cutoff — bounded by
    # boilerplate vocabulary), not the unbounded keep set
    stop = F.broadcast(
        idf.filter(F.col("_df") > max_gram_df).select("gram", "occ")
    )
    bp = bpost.join(stop, ["gram", "occ"], "left_anti").select(
        F.col("fid").alias("bid"), F.col("flen").alias("blen"),
        "gram", "occ",
    )
    ip = ipost.join(stop, ["gram", "occ"], "left_anti").select(
        F.col("fid").alias("iid"), F.col("flen").alias("ilen"),
        "gram", "occ",
    )
    need = (
        F.greatest(F.col("blen"), F.col("ilen"))
        - F.lit(q - 1)
        - F.lit(k * q)
    )
    long_cand = (
        bp.join(ip, ["gram", "occ"])
        .filter(F.abs(F.col("blen") - F.col("ilen")) <= k)
        .filter(F.greatest(F.col("blen"), F.col("ilen")) > cut)
        .groupBy("bid", "iid", "blen", "ilen")
        .agg(F.count("*").alias("_shared"))
        .filter(F.col("_shared") >= need)
        .select("bid", "iid")
    )
    bshort = keys.filter(F.col("flen") <= cut).select(
        F.col("fid").alias("bid"),
        F.explode(
            F.sequence(F.col("flen") - k, F.col("flen") + k)
        ).alias("_lb"),
    )
    ishort = ikeys.filter(F.col("flen") <= cut).select(
        F.col("fid").alias("iid"), F.col("flen").alias("_lb")
    )
    short_cand = bshort.join(ishort, "_lb").select("bid", "iid")
    cand = long_cand.unionByName(short_cand).distinct()
    bk = keys.select(F.col("fid").alias("bid"), F.col("fkey").alias("_bk"))
    ik = ikeys.select(F.col("fid").alias("iid"), F.col("fkey").alias("_ik"))
    hit = (
        cand.join(bk, "bid")
        .join(ik, "iid")
        .filter(F.levenshtein(F.col("_bk"), F.col("_ik")) <= k)
        .select(F.col("bid").alias(id_col))
        .distinct()
    )
    return df.join(hit, id_col, "left_anti")


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.9,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Asymmetric near-SUBSET detection: pairs where the smaller
    document's shingle set is ≥ ``threshold`` CONTAINED in the
    other's — ``containment = |A ∩ B| / min(|A|, |B|)``. Symmetric
    Jaccard misses these (a page quoting a whole short doc inside a
    long one scores low Jaccard but containment 1.0); it is the
    quotation/aggregator signal between exact dedup and the
    substring-level pass. Output ``(id_a, id_b, containment)``,
    ``id_a < id_b``, floor-micros rounded (6 dp grid).

    Same scale posture as ``ngram_jaccard_pairs`` (one posting-list
    self-join with the stop-shingle df cutoff, never all-pairs); the
    cutoff trades recall on stop-shingle-only overlap, mirrored by the
    oracle. Empty shingle sets (docs shorter than ``k`` tokens) have
    undefined containment and emit nothing."""
    docs = df.select(
        F.col(id_col).alias("doc_id"), shingles(F.col(text_col), k).alias("sh")
    ).withColumn("sh_size", F.size("sh"))
    posting = docs.filter(F.col("sh_size") > 0).select(
        "doc_id", "sh_size", F.explode("sh").alias("shingle")
    )
    df_counts = posting.groupBy("shingle").agg(F.count("*").alias("df_cnt"))
    # broadcast STOP-list anti-join (see ngram_jaccard_pairs): the
    # keep side is unbounded at corpus scale, the stop side is not
    posting = posting.join(
        F.broadcast(
            df_counts.filter(F.col("df_cnt") > max_shingle_df).select("shingle")
        ),
        "shingle",
        "left_anti",
    )
    a = posting.select(
        F.col("doc_id").alias("id_a"), F.col("sh_size").alias("size_a"),
        "shingle",
    )
    b = posting.select(
        F.col("doc_id").alias("id_b"), F.col("sh_size").alias("size_b"),
        "shingle",
    )
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("common"))
    )
    cont = F.col("common") / F.least(F.col("size_a"), F.col("size_b"))
    return (
        pairs.withColumn("containment", floor_round(cont, 6))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
