"""Sequence packing for training-data pipelines.

Concat-and-split packing (the GPT-style pretraining layout): each
group's documents are concatenated in a deterministic order and the
resulting token stream is cut into fixed-`budget` chunks; a document
may span a chunk boundary. The LogShipper reference has no packing
layer — this is the standard public technique (Brown et al. 2020
"GPT-3" §2.2 trains on fixed-length concatenated sequences), which is
expressible exactly as a running sum + an interval/chunk overlap
explode, so it stays fully relational.

Scale posture: the running token sum uses the block-offset two-phase
decomposition (sampling.block_running_sum over
skew.block_prefix_sums — no task scans a group's
full history even when one source holds half the corpus). The overlap
explode is map-only and emits ceil(n_tokens/budget)+1 rows per
document at most, so output size is O(total_tokens / budget + docs).
Chunk ids are derived arithmetic (floor(offset / budget)) — no second
shuffle is needed to assign them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import textstats
from .sampling import block_running_sum, numeric_order


def pack_chunks(
    df: DataFrame,
    budget: int,
    group_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    block_size: int = 4096,
) -> DataFrame:
    """Assign every document its slice positions in the packed chunk
    layout: one output row per (document, chunk) overlap with

    - `chunk_id`   — 0-based chunk index within the group,
    - `doc_begin`/`doc_end` — the half-open token range of the document
      that lands in this chunk (doc-relative),
    - `chunk_pos`  — the offset inside the chunk where that slice
      starts.

    Documents are laid out per group in `order_col` order (unique
    within the group); the concatenated token stream is cut every
    `budget` tokens, so every chunk except each group's last is
    exactly full. Zero-token documents occupy no stream space and
    produce no rows. Everything is exact integer arithmetic over a
    deterministic order — reproducible run-to-run and partition-
    independent. A non-numeric `order_col` (string conv_id keys) lays
    out in `(xxhash64(key), key)` order instead (sampling.numeric_order
    — the block-offset running sum needs a blockable numeric key);
    still deterministic, unique, and partition-independent, just not
    lexicographic."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    toks = (
        F.col(tokens_col)
        if tokens_col
        else textstats.token_count(F.col(text_col))
    ).cast("long")
    base, blk_key, tb = numeric_order(df.withColumn("_tok", toks), order_col)
    d = block_running_sum(
        base,
        group_col,
        blk_key,
        "_tok",
        block_size,
        "_end",
        tiebreaks=tb,
    ).withColumn("_start", F.col("_end") - F.col("_tok"))
    d = d.filter(F.col("_tok") > 0)
    # integer DIV, not floor(double /): offsets are nonnegative longs,
    # so DIV is floor division and stays exact past 2^53 stream tokens
    chunk_lo = F.expr(f"_start DIV {budget}")
    chunk_hi = F.expr(f"(_end - 1) DIV {budget}")
    exploded = d.select(
        F.col(group_col),
        F.col(order_col),
        F.col("_tok"),
        F.col("_start"),
        F.explode(F.sequence(chunk_lo, chunk_hi)).alias("chunk_id"),
    )
    cstart = F.col("chunk_id") * budget
    doc_begin = F.greatest(F.lit(0).cast("long"), cstart - F.col("_start"))
    doc_end = F.least(F.col("_tok"), cstart + budget - F.col("_start"))
    return exploded.select(
        group_col,
        "chunk_id",
        order_col,
        doc_begin.alias("doc_begin"),
        doc_end.alias("doc_end"),
        (F.col("_start") + doc_begin - cstart).alias("chunk_pos"),
    )


def assemble_chunks(
    ids_df: DataFrame,
    layout: DataFrame,
    group_col: str = "source",
    order_col: str = "doc_id",
    ids_col: str = "ids",
) -> DataFrame:
    """Materialize the packed training sequences: join the
    ``pack_chunks`` layout back to each document's token-id array,
    slice every (document, chunk) overlap, and rebuild each chunk in
    ``chunk_pos`` order. Output ``(group, chunk_id, ids array<long>,
    n_tokens)`` — every chunk except each group's last is exactly
    ``budget`` long when the layout was packed on ``size(ids)``.

    Scale posture: the document join is an equi-join on the document
    key (each layout row carries only slice arithmetic, so the id
    arrays ride the join once); the regroup shuffles on (group,
    chunk_id) and per-task state is bounded by the chunk budget —
    never by a document or the corpus.

    ``pack_chunks`` only requires ``order_col`` unique WITHIN a group,
    so when ``ids_df`` carries ``group_col`` the join keys on BOTH
    columns — joining on the document key alone would fan a cross-group
    id collision into every colliding group's chunks. An ``ids_df``
    without the group column requires globally unique document keys;
    either way a duplicate join key fans layout rows out and lands two
    pieces on one ``chunk_pos`` — the assembly detects that (two
    pieces at one position) and raises rather than emitting silently
    corrupt over-length chunks. The check is a linear pass over each
    chunk's already-collected piece list — no extra shuffle."""
    if group_col in ids_df.columns:
        keys = [group_col, order_col]
        picked = ids_df.select(
            F.col(group_col), F.col(order_col), F.col(ids_col).alias("_ids")
        )
    else:
        keys = [order_col]
        picked = ids_df.select(
            F.col(order_col), F.col(ids_col).alias("_ids")
        )
    j = layout.join(picked, keys).select(
        group_col,
        "chunk_id",
        "chunk_pos",
        F.slice(
            F.col("_ids"),
            F.col("doc_begin").cast("int") + F.lit(1),
            (F.col("doc_end") - F.col("doc_begin")).cast("int"),
        ).alias("_piece"),
    )
    pieces = F.sort_array(F.collect_list(F.struct("chunk_pos", "_piece")))
    agged = j.groupBy(group_col, "chunk_id").agg(pieces.alias("_pieces"))
    poses = F.transform(F.col("_pieces"), lambda s: s["chunk_pos"])
    dup_free = F.size(poses) == F.size(F.array_distinct(poses))
    guard = F.when(dup_free, F.lit(True)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "assemble_chunks: duplicate document key in ids_df "
                    "fanned two pieces onto one chunk_pos (group="
                ),
                F.col(group_col).cast("string"),
                F.lit(", chunk_id="),
                F.col("chunk_id").cast("string"),
                F.lit(") — document keys must be unique per group"),
            )
        ).cast("boolean")
    )
    return (
        agged.filter(guard)
        .select(
            group_col,
            "chunk_id",
            F.flatten(F.transform(F.col("_pieces"), lambda s: s["_piece"])).alias(
                "ids"
            ),
        )
        .select(
            group_col,
            "chunk_id",
            "ids",
            F.size("ids").cast("long").alias("n_tokens"),
        )
    )


def shard_plan(
    df: DataFrame,
    target_bytes: int,
    order_col: str = "doc_id",
    text_col: str = "text",
    bytes_col: str | None = None,
    group_col: str | None = None,
    block_size: int = 4096,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Size-balanced output sharding: assign every document the shard
    it falls into when documents are laid out in ``order_col`` order
    and a new shard starts each time the running byte total crosses a
    ``target_bytes`` boundary — the 'write ~N-GB training shards' step
    at the end of a curation pipeline, where downstream loaders want
    uniformly sized files, not Spark's partition-shaped ones. Adds
    ``n_bytes``, ``cum_bytes`` (inclusive running total) and ``shard``
    (= bytes_before_this_doc DIV target — exact integer arithmetic).
    Every non-final shard's last document reaches or crosses the next
    target boundary, so shard sizes are target ± one document (a
    document much larger than the target spans several boundaries and
    the skipped shard ids stay empty — ids are stream offsets, not a
    dense sequence).

    Deterministic and partition-independent: the layout depends only on
    the ordering key (non-numeric keys lay out in ``(xxhash64(key),
    key)`` order — see ``pack_chunks``). The running sum is the block-offset two-phase
    decomposition (sampling.block_running_sum over
    skew.block_prefix_sums) — one corpus-sized group
    never funnels through one task; the subsequent physical write is
    ``.repartition(shard)`` + partitionBy, one shuffle sized by the
    data. Per-group sharding (``group_col``) keys shard streams by
    source/language for mixture-stratified output. ``carry_cols``:
    extra input columns passed through to the output (e.g. the original
    document key when ``order_col`` is a derived layout key)."""
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    nbytes = (
        F.col(bytes_col) if bytes_col else F.octet_length(F.col(text_col))
    ).cast("long")
    g = group_col or "_g"
    d = df.withColumn("_nb", nbytes)
    if group_col is None:
        d = d.withColumn("_g", F.lit(0))
    d, blk_key, tb = numeric_order(d, order_col)
    d = block_running_sum(
        d, g, blk_key, "_nb", block_size, "cum_bytes", tiebreaks=tb
    )
    out = d.select(
        *([group_col] if group_col else []),
        F.col(order_col),
        *(carry_cols or []),
        F.col("_nb").alias("n_bytes"),
        "cum_bytes",
        F.expr(f"(cum_bytes - _nb) DIV {target_bytes}").alias("shard"),
    )
    return out


def shard_stats(
    plan: DataFrame, group_col: str | None = None
) -> DataFrame:
    """Per-shard fill accounting over shard_plan output — the balance
    evidence (docs, bytes) per shard. One map-side-combined groupBy."""
    keys = ([group_col] if group_col else []) + ["shard"]
    return plan.groupBy(*keys).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").alias("shard_bytes"),
    )


def epoch_shards(
    df: DataFrame,
    epoch: int,
    target_bytes: int,
    key_col: str = "doc_id",
    text_col: str = "text",
    bytes_col: str | None = None,
    group_col: str | None = None,
    block_size: int = 4096,
) -> DataFrame:
    """Deterministic multi-epoch reshuffle + shard layout: lay the
    corpus out in a per-epoch pseudo-random order and cut size-balanced
    shards — the "each training epoch sees a different, reproducible
    global order" step a multi-epoch loader needs. The layout key is
    ``key || '#e<epoch>'``, which ``shard_plan`` orders by
    ``(xxhash64(layout_key), layout_key)`` (sampling.numeric_order):
    epoch orders are mutually decorrelated (different hash inputs),
    each epoch is reproducible run-to-run and partition-independent,
    and uniqueness follows from the key's. Output ``(group?, key,
    epoch, n_bytes, cum_bytes, shard)``.

    Scale posture: exactly the ``shard_plan`` machinery — the running
    byte sum is the block-offset two-phase decomposition, so no task
    scans the corpus order; one map-only projection on top. Emitting N
    epochs is N independent plans (or one union) — nothing is stateful
    across epochs."""
    d = df.withColumn(
        "_ekey",
        F.concat(F.col(key_col).cast("string"), F.lit(f"#e{int(epoch)}")),
    )
    plan = shard_plan(
        d,
        target_bytes,
        order_col="_ekey",
        text_col=text_col,
        bytes_col=bytes_col,
        group_col=group_col,
        block_size=block_size,
        carry_cols=[key_col],
    )
    return plan.select(
        *([group_col] if group_col else []),
        key_col,
        F.lit(int(epoch)).alias("epoch"),
        "n_bytes",
        "cum_bytes",
        "shard",
    )


def chunk_stats(packed: DataFrame, group_col: str = "source") -> DataFrame:
    """Per-chunk fill accounting over pack_chunks output: document
    count and filled token count (== budget everywhere except each
    group's final chunk). One map-side-combined groupBy."""
    return packed.groupBy(group_col, "chunk_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("doc_end") - F.col("doc_begin")).alias("fill_tokens"),
    )


def sft_examples(
    pairs: DataFrame,
    vocab: DataFrame,
    id_col: str = "pair_id",
    prompt_col: str = "prompt",
    response_col: str = "response",
) -> DataFrame:
    """Turn (prompt, response) SFT pairs into loss-masked training
    examples: ``ids = [BOS] + prompt_ids + response_ids + [EOS]`` and
    ``mask`` (same length) with 0 over BOS+prompt (no loss) and 1 over
    response+EOS — the standard SFT convention (loss only on what the
    model should produce; EOS is supervised so generation learns to
    stop). Output: ``(id_col, ids, mask, n_tokens, n_loss_tokens)``
    where ``n_tokens = size(ids)`` (the packing length) and
    ``n_loss_tokens = size(response_ids) + 1``.

    Scale posture: each lane is one ``tokenize.tokenize_ids`` pass
    (explode → broadcast-vocab join → positional regroup) over ONLY its
    own text, so total shuffled tokens equal a single pass over the
    pair text; the lane join is an equi-join on the pair key. ``id_col``
    must be unique (one row per pair)."""
    from . import tokenize as tok

    p = tok.tokenize_ids(
        pairs.select(id_col, F.col(prompt_col).alias("_t")),
        vocab,
        text_col="_t",
        id_col=id_col,
        add_bos_eos=False,
    ).select(id_col, F.col("ids").alias("_pids"))
    r = tok.tokenize_ids(
        pairs.select(id_col, F.col(response_col).alias("_t")),
        vocab,
        text_col="_t",
        id_col=id_col,
        add_bos_eos=False,
    ).select(id_col, F.col("ids").alias("_rids"))
    j = p.join(r, id_col)
    bos = F.array(F.lit(tok.BOS_ID).cast("long"))
    eos = F.array(F.lit(tok.EOS_ID).cast("long"))
    zero, one = F.lit(0).cast("long"), F.lit(1).cast("long")
    ids = F.concat(bos, F.col("_pids"), F.col("_rids"), eos)
    mask = F.concat(
        F.array(zero),
        F.transform(F.col("_pids"), lambda _: zero),
        F.transform(F.col("_rids"), lambda _: one),
        F.array(one),
    )
    return j.select(
        id_col,
        ids.alias("ids"),
        mask.alias("mask"),
        (F.size("_pids") + F.size("_rids") + 2).cast("long").alias("n_tokens"),
        (F.size("_rids") + 1).cast("long").alias("n_loss_tokens"),
    )


def pack_masked(
    examples: DataFrame,
    budget: int,
    order_col: str = "pair_id",
    group_col: str | None = None,
    ids_col: str = "ids",
    mask_col: str = "mask",
    block_size: int = 4096,
) -> DataFrame:
    """Pack loss-masked examples (``sft_examples`` output, or any
    frame with parallel ``ids``/``mask`` arrays) into fixed-``budget``
    training chunks, keeping the mask aligned token-for-token across
    chunk boundaries: the two arrays are zipped into one struct array
    so the SAME ``pack_chunks`` layout slice applies to both — an
    example split across chunks carries its mask split identically.
    Output per chunk: ``(group?, chunk_id, input_ids, loss_mask,
    n_tokens, n_loss_tokens)``.

    Scale posture: exactly the ``pack_chunks`` + ``assemble_chunks``
    machinery (block-offset running sum; regroup state bounded by the
    chunk budget) — the zip adds no shuffle."""
    g = group_col or "_g"
    d = examples if group_col else examples.withColumn("_g", F.lit(0))
    # arrays_zip null-pads a length mismatch silently — corrupt masks
    # must abort, not train. NULL arrays get their own branch: size(
    # NULL) = NULL would make the equality check NULL and fall through
    # to the mismatch raise with a misleading message.
    aligned = (
        F.when(
            F.col(ids_col).isNull() | F.col(mask_col).isNull(),
            F.raise_error(
                F.concat(
                    F.lit("pack_masked: NULL ids/mask array at "),
                    F.col(order_col).cast("string"),
                )
            ).cast("boolean"),
        )
        .when(F.size(ids_col) == F.size(mask_col), F.lit(True))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("pack_masked: ids/mask length mismatch at "),
                    F.col(order_col).cast("string"),
                )
            ).cast("boolean")
        )
    )
    d = d.filter(aligned)
    d = d.withColumn("_n", F.size(ids_col).cast("long")).withColumn(
        "_zip", F.arrays_zip(F.col(ids_col).alias("i"), F.col(mask_col).alias("m"))
    )
    layout = pack_chunks(
        d, budget, group_col=g, order_col=order_col,
        tokens_col="_n", block_size=block_size,
    )
    packed = assemble_chunks(
        d.select(g, order_col, "_zip"), layout,
        group_col=g, order_col=order_col, ids_col="_zip",
    )
    out = packed.select(
        *([group_col] if group_col else []),
        "chunk_id",
        F.transform("ids", lambda s: s["i"]).alias("input_ids"),
        F.transform("ids", lambda s: s["m"]).alias("loss_mask"),
        "n_tokens",
    )
    return out.withColumn(
        "n_loss_tokens",
        F.aggregate(
            F.col("loss_mask"), F.lit(0).cast("long"), lambda a, x: a + x
        ),
    )


# sentence splitter: a run of non-terminators ending in 1+ terminator
# chars, or the terminator-less tail. Group 1 + trim + drop-empty is
# mirrored verbatim by the DuckDB oracle (RE2-compatible — no
# lookaround, and both engines use leftmost-first alternation).
SENTENCE_PATTERN = r"([^.!?]*[.!?]+|[^.!?]+$)"


def sentence_chunks(
    df: DataFrame,
    max_sentences: int = 5,
    stride: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Doc-local overlapping sentence windows (RAG / context-window
    corpus prep — the complement of ``pack_chunks``, which concatenates
    ACROSS documents with no overlap): split each document into
    sentences (``SENTENCE_PATTERN`` + trim, empties dropped), then emit
    windows of up to ``max_sentences`` sentences starting every
    ``stride`` sentences, as ``(id, chunk_idx, chunk_text,
    n_sentences)``. Window count = min(1 + ceil(max(0, n -
    max_sentences) / stride), ceil(n / stride)) for non-empty docs, 0
    for sentence-less docs — when ``stride <= max_sentences`` every
    sentence lands in >=1 window and consecutive windows overlap by
    ``max_sentences - stride`` sentences (there the min never binds);
    when ``stride > max_sentences`` (gapped sampling) the ceil(n/st)
    cap stops the last start from landing past the sentence array,
    which would otherwise emit phantom empty chunks.

    Scale posture: pure per-row array work (regexp_extract_all →
    transform/filter → sequence → slice explode) — a map-only stage
    with zero shuffles; output rows ≈ n_sentences/stride per document.
    Everything is integer arithmetic over a deterministic split, so
    the DuckDB oracle reproduces it value-exactly."""
    if max_sentences <= 0 or stride <= 0:
        raise ValueError(
            f"max_sentences and stride must be positive, got "
            f"{max_sentences}, {stride}"
        )
    sents = F.filter(
        F.transform(
            F.regexp_extract_all(
                F.col(text_col), F.lit(SENTENCE_PATTERN), F.lit(1)
            ),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    d = df.select(
        F.col(id_col), sents.alias("_sents")
    ).withColumn("_n", F.size("_sents").cast("long"))
    n = F.col("_n")
    ms, st = F.lit(max_sentences), F.lit(stride)
    num = F.least(
        F.lit(1)
        + F.floor(
            (F.greatest(n - ms, F.lit(0)) + st - F.lit(1)) / st
        ).cast("long"),
        F.floor((n + st - F.lit(1)) / st).cast("long"),
    )
    wins = F.when(n > 0, F.sequence(F.lit(0).cast("long"), num - 1)).otherwise(
        F.array().cast("array<long>")
    )
    exploded = d.select(
        id_col, "_sents", F.explode(wins).alias("chunk_idx")
    )
    window = F.slice(
        F.col("_sents"),
        (F.col("chunk_idx") * st).cast("int") + F.lit(1),
        F.lit(max_sentences),
    )
    return exploded.select(
        id_col,
        "chunk_idx",
        F.array_join(window, " ").alias("chunk_text"),
        F.size(window).cast("long").alias("n_sentences"),
    )
