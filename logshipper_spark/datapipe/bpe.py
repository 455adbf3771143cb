"""BPE merge training and segmentation (Sennrich et al. 2016) — the
tokenizer-training-at-scale step of a training-data pipeline.

Scale posture — the industrial formulation: the corpus is touched by
exactly ONE map-side-combined word-count shuffle; the merge loop then
runs entirely on the DISTINCT-word table (vocabulary-sized — millions
of rows against a 100 TB corpus, never the token stream). Each
iteration is one explode+groupBy over that small table (pair counts
weighted by word frequency) plus one head() for the argmax, and the
symbol rewrite is a linear per-row fold. The loop's final state IS the
segmentation dictionary, so applying BPE to the corpus is a broadcast
join against word pieces — no per-document merge replay.

Determinism: argmax tie-break is (count DESC, left ASC, right ASC);
no rand()/now(); the per-iteration plan is severed with
localCheckpoint so lineage stays O(1) across hundreds of merges.

Correctness: pure-Python reference-BPE equality test
(tests/test_datapipe.py) for TRAINING — the iterative argmax has no
SQL twin. SEGMENTATION under a materialized merge table is
deterministic rewriting and carries an exact contract oracle
(`bpe_segment` in __spark_entry__.py): a DuckDB recursive CTE replays
the merge list in rank order per training word (one greedy-fold
symbol step per recursion row) and rebuilds every document's piece
stream, fallback included, from the raw text + merge bytes alone.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .textstats import tokens
from .tokenize import positional_values

END_OF_WORD = "</w>"


def _word_symbols(word: Column) -> Column:
    """Initial BPE symbols: the word's codepoints plus the end-of-word
    marker as a final symbol (so merges can learn suffixes)."""
    return F.concat(F.split(word, ""), F.array(F.lit(END_OF_WORD)))


def _adjacent_pairs(sym: Column) -> Column:
    """array<struct<l,r>> of adjacent symbol pairs; < 2 symbols →
    empty. One linear zip_with against the shifted array (zip_with
    pads the shorter side with nulls; the slice drops the pad pair)."""
    m = F.size(sym)
    zipped = F.zip_with(
        sym,
        F.slice(sym, 2, F.greatest(m - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return F.when(m >= 2, F.slice(zipped, 1, m - 1)).otherwise(
        F.array().cast("array<struct<l:string,r:string>>")
    )


def _merge_pair(sym: Column, left: str, right: str) -> Column:
    """Apply one merge rule left-to-right, non-overlapping — the
    greedy scan of reference BPE as a linear fold: append each symbol,
    except when the accumulator tail is `left` and the symbol is
    `right`, where the tail is replaced by the merged symbol. The
    merged symbol (left||right) is strictly longer than `left`, so a
    just-merged tail can never re-match `left` — the fold needs no
    explicit skip flag. try_element_at: the empty-accumulator probe
    must be null, not an ANSI index error."""
    merged = left + right
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.try_element_at(acc, F.lit(-1)) == left) & (s == right),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct-word frequency table ``(word, cnt)`` over lowercased
    whitespace tokens — the ONLY corpus-sized aggregation in BPE
    training."""
    return (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def bpe_train(
    df: DataFrame,
    num_merges: int = 100,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Learn ``num_merges`` BPE merge rules. Returns ``(merges,
    word_pieces)``:

    - merges ``(rank, left, right, pair_count)`` — rules in learned
      order; stops early when the best remaining pair occurs fewer
      than ``min_pair_count`` times (weighted by word frequency).
    - word_pieces ``(word, cnt, pieces array<string>)`` — every
      distinct training word segmented under the full rule set (the
      loop's final symbol state), ready to broadcast-join against a
      token stream (bpe_segment).

    Each iteration: pair-count explode+groupBy over the vocab-sized
    word table, a 1-row argmax head(), one fold rewrite, and an eager
    localCheckpoint to keep the plan O(1)-deep."""
    spark = df.sparkSession
    words = (
        word_counts(df, text_col)
        .select("word", "cnt", _word_symbols(F.col("word")).alias("symbols"))
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        best = (
            words.select(
                "cnt", F.explode(_adjacent_pairs(F.col("symbols"))).alias("p")
            )
            .groupBy("p")
            .agg(F.sum("cnt").cast("long").alias("c"))
            .orderBy(F.col("c").desc(), F.col("p.l"), F.col("p.r"))
            .head()
        )
        if best is None or best["c"] < min_pair_count:
            break
        left, right = best["p"]["l"], best["p"]["r"]
        merges.append((rank, left, right, int(best["c"])))
        words = words.withColumn(
            "symbols", _merge_pair(F.col("symbols"), left, right)
        ).localCheckpoint()
    merges_df = local_frame(
        spark, merges, "rank int, left string, right string, pair_count long"
    )
    return merges_df, words.select(
        "word", "cnt", F.col("symbols").alias("pieces")
    )


def bpe_segment(
    df: DataFrame,
    word_pieces: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Segment documents with a trained dictionary: ``(id, pieces
    array<string>, n_pieces)``. Tokens found in ``word_pieces`` take
    their trained segmentation; unseen words fall back to their raw
    codepoint symbols (the zero-merge segmentation — documented
    conservative fallback rather than replaying merge rules per row).
    One posexplode + broadcast join + positional regroup — the
    tokenize_ids plan shape. Empty documents keep a row."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode_outer(tokens(F.lower(F.col(text_col)))).alias(
            "_pos", "_word"
        ),
    )
    dic = F.broadcast(
        word_pieces.select(F.col("word").alias("_word"), "pieces")
    )
    seg = toks.join(dic, "_word", "left").select(
        "_id",
        "_pos",
        F.when(
            F.col("_pos").isNotNull(),
            F.coalesce("pieces", _word_symbols(F.col("_word"))),
        ).alias("_pieces"),
    )
    flat = F.flatten(positional_values("_pos", "_pieces"))
    return (
        seg.groupBy("_id")
        .agg(flat.alias("pieces"))
        .select(
            F.col("_id").alias(id_col),
            "pieces",
            F.size("pieces").cast("long").alias("n_pieces"),
        )
    )
