"""Substring-level duplicate detection via winnowed k-gram
fingerprints — the ExactSubstr analog of Lee et al., "Deduplicating
Training Data Makes Language Models Better" (2022), with the
fingerprint-selection scheme of Schleimer/Wilkerson/Aiken, "Winnowing:
Local Algorithms for Document Fingerprinting" (SIGMOD 2003, the MOSS
algorithm). Document-level dedup (exact keys, MinHash, SimHash) misses
the common corpus pathology where DIFFERENT documents share a long
boilerplate passage (license headers, templated paragraphs, quoted
chain mail); this family finds the shared spans themselves.

Why winnowing and not explode-every-gram: a 100 TB corpus has ~one
w-gram per token, so fingerprinting every position shuffles the entire
corpus again through the dup-detection groupBy. Winnowing selects
~2/(W+1) of positions with a hard GUARANTEE: any shared run of at
least w+W-1 tokens shares at least one SELECTED fingerprint in both
documents (the window minimum inside the shared region is a function
of the shared hashes alone). So the shuffle shrinks by ~(W+1)/2 while
detection of spans ≥ w+W-1 tokens stays exact, and spans in [w, w+W-2]
degrade gracefully (caught iff one of their grams wins a window).

Scale posture: gram hashing + winnowing are per-row higher-order
functions — map-only, no shuffle, no Python. Only the selected
fingerprints (~2n/(W+1) rows per n-token doc) hit the groupBy, and a
document-frequency cutoff (stop-gram guard, same design as
ngram_jaccard_pairs' max_shingle_df) removes ubiquitous boilerplate
grams before any self-join, keeping the pair candidate count
near-linear. Defaults here (w=8, window=4) suit the small synthetic
test corpora; real-corpus posture is w≈50, window≈16 (Lee et al.'s
50-token threshold with guarantee ≥ w+W-1 = 65).

Reference parity: the reference has no substring-dedup operator (its
dedup surface is the key-based first-seen set, internal/graph/
types.go); this module is part of the training-data pipeline layer the
graft brief adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import hold
from .filters import word_ngrams
from .textstats import tokens


def gram_hashes_from_tokens(toks: Column, w: int = 8) -> Column:
    """array<long>: xxhash64 of the w-token gram starting at each
    position of an already-tokenized array. ``toks`` should be a
    STAGED column reference, not a nested expression — ``word_ngrams``
    references its input ~2(w-1)+1 times across the zip_with levels
    and HOF trees get no subexpression elimination, so a nested
    tokenization subtree would re-evaluate that many times per row
    (CLAUDE.md round-3 inlining gotcha)."""
    return F.transform(word_ngrams(toks, w), lambda g: F.xxhash64(g))


def gram_hashes(text: Column, w: int = 8) -> Column:
    """array<long>: xxhash64 of the w-token gram starting at each
    position of the lowercased whitespace tokenization. Fewer than w
    tokens → empty array (a doc shorter than the match threshold can
    never hold a qualifying span). Convenience form for one-off
    expressions; corpus-scale scans should stage the token array in a
    prior projection and call ``gram_hashes_from_tokens`` (as
    ``fingerprint_table`` does) so the split/trim doesn't re-run per
    word_ngrams reference."""
    return gram_hashes_from_tokens(tokens(F.lower(text)), w)


def _sliding_chain(arr: Column, window: int, m: Column, combine) -> Column:
    """Fold ``window-1`` shifted zip_with passes of ``combine`` over
    ``arr`` (the filters.word_ngrams construction): entry j of the
    result combines arr[j .. j+window-1], with trailing entries
    holding partial windows (zip_with null-pads the shorter shifted
    side; least/greatest skip nulls). Callers slice off the partial
    tail themselves — the min and max chains clip differently."""
    acc = arr
    for k in range(1, window):
        acc = F.zip_with(acc, F.slice(arr, k + 1, m - k), combine)
    return acc


def _window_min_chain(arr: Column, window: int, m: Column) -> Column:
    """winmin[j] = min(arr[j .. j+window-1]) for j = 1 .. m-window+1.
    The final slice drops the partial-window tail entries."""
    acc = _sliding_chain(arr, window, m, lambda a, b: F.least(a, b))
    return F.when(m >= window, F.slice(acc, 1, m - (window - 1))).otherwise(
        F.array().cast("array<bigint>")
    )


def winnow_positions(hashes: Column, window: int = 4) -> Column:
    """array<int> of 1-based selected positions under winnowing.

    Selection rule: position i is selected iff h[i] equals the minimum
    of at least one covering window of `window` consecutive hashes.
    Since winmin[j] ≤ h[i] for every window j covering i, that is
    h[i] == max(winmin[j] for covering j) — one sliding-min chain over
    h, one sliding-max chain over winmin, both per-row linear HOFs.

    Tie handling: every position achieving a covering-window minimum is
    selected (classic winnowing keeps only the rightmost). This is a
    deterministic SUPERSET of the classic fingerprint set with the same
    guarantee and the same expected density 2/(window+1) (64-bit hash
    ties are negligible), and unlike rightmost-tie selection it needs
    no positional tiebreak state — selection stays a pure function of
    the local hash neighborhood, so identical shared regions in
    different documents select identical grams.

    Docs with fewer than `window` grams fall back to selecting every
    position (their whole fingerprint set is already tiny)."""
    m = F.size(hashes)
    winmin = _window_min_chain(hashes, window, m)
    # covermax[i] = max(winmin[j]) over windows j covering position i,
    # i.e. j in [i-window+1, i] clipped to [1, m-window+1]. Build by the
    # mirrored construction: pad winmin with window-1 sentinels on BOTH
    # ends (long MIN — always ≤ any real hash, and xxhash64 hitting it
    # is a 2^-64 non-event; leading pad clips the covering range for
    # small i, trailing pad for the last window-1 positions), then a
    # sliding max of width `window` over the padded array (length
    # m+window-1) yields exactly m full windows, aligned to covermax.
    pad = F.array_repeat(F.lit(-0x8000000000000000).cast("bigint"), window - 1)
    padded = F.concat(pad, winmin, pad)
    pm = F.size(padded)
    acc = _sliding_chain(padded, window, pm, lambda a, b: F.greatest(a, b))
    covermax = F.slice(acc, 1, pm - (window - 1))  # length m (when m ≥ window)
    # flag positions achieving a covering-window minimum, then convert
    # flags to 1-based positions with transform's INDEX lambda (the
    # second lambda arg is the 0-based array index). Everything here is
    # one linear pass per zip/transform — never an array expression
    # inside a per-element lambda, which would re-evaluate it per
    # element (O(n²·W)).
    flagged = F.zip_with(hashes, covermax, lambda h, c: h == c)
    positions = F.filter(
        F.transform(flagged, lambda x, i: F.when(x, i + F.lit(1))),
        lambda p: p.isNotNull(),
    )
    return (
        F.when(m >= window, positions)
        .when(m >= 1, F.sequence(F.lit(1), m))
        .otherwise(F.array().cast("array<int>"))
    )


def fingerprint_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    window: int = 4,
) -> DataFrame:
    """(doc_id, pos, gram_hash) winnowed fingerprints — the compact
    per-document sketch the dup search runs on. pos is the 1-based
    token index where the w-gram starts."""
    # stage the token array, then the hash array (HOFs are not CSE'd
    # across references — CLAUDE.md round-3 gotcha: word_ngrams
    # references its input ~2(w-1)+1 times, so an unstaged
    # tokenization would re-split every document that many times),
    # winnow over the staged column, and pair each selected position
    # with its hash BEFORE the explode — exploding positions while
    # still carrying the full hash array would duplicate an m-length
    # array per output row (O(m²/W) bytes on long documents).
    staged = (
        df.select(
            F.col(id_col).alias("doc_id"),
            tokens(F.lower(F.col(text_col))).alias("_toks"),
        )
        .select(
            "doc_id", gram_hashes_from_tokens(F.col("_toks"), w).alias("h")
        )
        .select("doc_id", "h", winnow_positions(F.col("h"), window).alias("sel"))
    )
    picked = F.transform(
        F.col("sel"),
        lambda p: F.struct(
            p.alias("pos"), F.element_at(F.col("h"), p).alias("gram_hash")
        ),
    )
    return staged.select("doc_id", F.explode(picked).alias("fp")).select(
        "doc_id", F.col("fp.pos").alias("pos"), F.col("fp.gram_hash").alias("gram_hash")
    )


def substr_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    window: int = 4,
    max_gram_df: int = 1000,
) -> DataFrame:
    """Fingerprints shared by ≥2 distinct documents: (doc_id, pos,
    gram_hash, n_docs), n_docs = distinct documents containing the
    fingerprint. Any boilerplate passage of ≥ w+window-1 tokens shared
    across documents surfaces here at every document/position carrying
    it. Fingerprints in more than `max_gram_df` documents are dropped
    (ubiquitous boilerplate — route those to a stop-gram report, not a
    quadratic join).

    The fingerprint table feeds BOTH the document-frequency aggregate
    and the join-back (and, in ``substr_dup_pairs``, a further
    self-join): Catalyst recomputes unshared subtrees per branch, which
    would re-scan and re-hash the whole corpus up to 4x (verified in
    the physical plan: 4 FileScans without the cache). Since the
    winnowed table is only ~2/(W+1) of token positions it is held
    instead (``session.hold``) — corpus hashed exactly once."""
    fp = hold(fingerprint_table(df, text_col, id_col, w, window))
    docs_per_gram = fp.groupBy("gram_hash").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    shared = docs_per_gram.filter(
        (F.col("n_docs") >= 2) & (F.col("n_docs") <= max_gram_df)
    )
    # shared grams are the rare tail — broadcast when small; Spark's
    # AQE converts this to a broadcast join from runtime stats anyway
    return fp.join(shared, "gram_hash").select("doc_id", "pos", "gram_hash", "n_docs")


def substr_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    window: int = 4,
    max_gram_df: int = 1000,
    min_shared: int = 1,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Document pairs sharing ≥ min_shared winnowed fingerprints:
    (id_a, id_b, shared_fingerprints). The posting-list self-join runs
    only over fingerprints that passed the document-frequency cutoff,
    so candidate fan-out per gram is bounded by max_gram_df.

    Pass a precomputed ``spans`` frame (from ``substr_dup_spans`` with
    the same parameters) to reuse it — callers needing BOTH spans and
    pairs otherwise run the corpus-wide hash/winnow map stage twice."""
    if spans is None:
        spans = substr_dup_spans(df, text_col, id_col, w, window, max_gram_df)
    posting = spans.select("gram_hash", "doc_id").distinct()
    a = posting.select(F.col("doc_id").alias("id_a"), "gram_hash")
    b = posting.select(F.col("doc_id").alias("id_b"), "gram_hash")
    return (
        a.join(b, "gram_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


def merge_spans(
    spans: DataFrame,
    w: int = 8,
    merge_gap: int | None = None,
) -> DataFrame:
    """Merge per-document shared fingerprints into maximal shared
    regions: (doc_id, span_start, span_end, n_fingerprints), token
    indices inclusive. Within a shared run, winnowing selects at least
    one fingerprint per `window` consecutive positions, so consecutive
    selected positions of one run are ≤ the winnow window apart —
    islands under that gap ARE the runs. `merge_gap` defaults to 4 (the
    default winnow window); pass your `window` value if you changed it
    when building the spans. span_end covers the last selected gram's full width
    (last pos + w - 1); boundaries are exact to within window-1 tokens
    (the winnowing density trade-off).

    One shuffle (doc_id window); per-doc row counts are the selected
    SHARED fingerprints only — already document-frequency-cut, so no
    hot-key task scans a corpus-scale history."""
    gap = 4 if merge_gap is None else merge_gap
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(wdoc)
    new_island = F.when(
        prev.isNull() | (F.col("pos") - prev > gap), F.lit(1)
    ).otherwise(F.lit(0))
    island = F.sum(new_island).over(
        wdoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spans.select("doc_id", "pos")
        .distinct()
        .withColumn("island", island)
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(w - 1)).alias("span_end"),
            F.count("*").alias("n_fingerprints"),
        )
        .drop("island")
    )


def remove_dup_spans(
    df: DataFrame,
    merged: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut every shared region out of each document — the removal step
    of Lee et al.'s ExactSubstr dedup (their tool deletes the duplicated
    spans themselves rather than whole documents). Provenance-
    preserving: the original text column stays; `text_deduped` holds
    the reconstruction from kept whitespace tokens (runs of whitespace
    collapse — the tokenizer the spans were computed on is whitespace-
    based, so token indices map 1:1) and `n_tokens_removed` counts the
    cut. Documents with no shared spans pass through unchanged.

    Map-mostly: spans aggregate to one small array per affected doc,
    broadcast-joined (left) onto the corpus; the per-token keep test is
    a native filter/exists HOF over that array — no Python, no
    explode."""
    sp = merged.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    ).withColumnRenamed("doc_id", "_sp_id")
    joined = df.join(
        sp, F.col(id_col) == F.col("_sp_id"), "left"
    ).drop("_sp_id")
    toks = tokens(F.col(text_col))
    spans_arr = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"),
    )
    # stage both arrays: HOFs are not CSE'd across projection columns
    staged = joined.withColumn("_toks", toks).withColumn("_sarr", spans_arr)

    def _kept(t: Column, i: Column) -> Column:
        covered = F.exists(
            F.col("_sarr"),
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        )
        return ~covered

    kept = F.filter(F.col("_toks"), _kept)
    return (
        staged.withColumn("_kept", kept)
        .withColumn("text_deduped", F.array_join(F.col("_kept"), " "))
        .withColumn(
            "n_tokens_removed", F.size(F.col("_toks")) - F.size(F.col("_kept"))
        )
        .drop("_spans", "_sarr", "_toks", "_kept")
    )


def stop_grams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    window: int = 4,
    min_df: int = 1000,
) -> DataFrame:
    """The ubiquitous-boilerplate report: (gram_hash, n_docs) for every
    winnowed fingerprint present in MORE than ``min_df`` documents —
    the complement of what ``substr_dup_spans`` keeps. At corpus scale
    these are license headers, navigation chrome, and templated
    pagination that would otherwise drive quadratic pair fan-out; this
    is where they get routed for human review instead."""
    fp = fingerprint_table(df, text_col, id_col, w, window)
    return (
        fp.groupBy("gram_hash")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") > min_df)
    )


def write_fingerprint_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    window: int = 4,
    mode: str = "append",
    codec: str = "zstd",
) -> None:
    """Persist the DISTINCT winnowed gram hashes of a kept corpus
    snapshot — the boilerplate memory for incremental substring-level
    screening across crawls (the substring analog of
    ``dedup.write_key_index``). 8 bytes per fingerprint at ~2/(W+1)
    density per token, so the index is a small constant fraction of
    corpus token count. Append mode accumulates snapshots;
    ``substr_contamination`` dedups the accumulated repeats itself."""
    (
        fingerprint_table(df, text_col, id_col, w, window)
        .select("gram_hash")
        .distinct()
        .write.mode(mode)
        .option("compression", codec)
        .parquet(path)
    )


def substr_contamination(
    df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    window: int = 4,
    fp_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document boilerplate contamination vs a persisted
    fingerprint index: (doc_id, n_fingerprints, n_seen, contamination)
    where contamination = n_seen / n_fingerprints (0.0 for documents
    too short to carry any fingerprint). The screening question a
    continuous-crawl pipeline asks of every new page: 'how much of
    this is substring-level boilerplate we already keep?'.

    One equi-join on the 8-byte gram hash; the index ships a single
    BIGINT column. The index is distinct()ed here because append-mode
    snapshot accumulation can repeat hashes — a repeated hash would
    otherwise double-count n_seen. Every input document appears in the
    output (left join back onto the corpus ids).

    ``fp_df`` (doc_id, pos, gram_hash): a precomputed fingerprint table
    for ``df`` — pass it when the caller already built one (streaming
    screen persists it per batch) so the batch isn't re-hashed."""
    idx = index.select(F.col("gram_hash")).distinct().withColumn(
        "_seen", F.lit(1)
    )
    fp = (
        fingerprint_table(df, text_col, id_col, w, window)
        if fp_df is None
        else fp_df
    )
    per_doc = (
        fp.join(idx, "gram_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fingerprints"),
            F.sum(F.coalesce(F.col("_seen"), F.lit(0))).alias("n_seen"),
        )
    )
    zero = F.lit(0).cast("long")
    n_fp = F.coalesce(F.col("n_fingerprints"), zero)
    n_seen = F.coalesce(F.col("n_seen"), zero)
    # +1e-9 before round: half-tie parity with the DuckDB oracle
    # (e.g. n_fingerprints=32, odd n_seen lands exactly on a 5 in the
    # 5th decimal)
    contamination = F.when(
        n_fp > 0, F.round(n_seen / n_fp + F.lit(1e-9), 4)
    ).otherwise(F.lit(0.0))
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            n_fp.alias("n_fingerprints"),
            n_seen.alias("n_seen"),
            contamination.alias("contamination"),
        )
    )
