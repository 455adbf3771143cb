"""Substring-level (winnowed fingerprint) duplicate detection.

Covers the winnowing guarantee (any shared run of >= w+window-1 tokens
is detected), brute-force parity of the sliding-min/max position
selection, alignment of detected spans across documents, the
document-frequency cutoff, and short-document edge cases.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from logshipper_spark import session
from logshipper_spark.datapipe import substr

SHARED = "the quick brown fox jumps over the lazy dog again and again forever"


def _corpus(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma " + SHARED + " delta epsilon"),
            (2, "one two three four " + SHARED + " five six"),
            (3, "totally unrelated content with no overlap at all whatsoever here"),
        ],
        "doc_id long, text string",
    )


def test_shared_run_guarantee_and_pairs(spark):
    # shared run is 13 tokens >= w + window - 1 = 6 -> MUST surface
    df = _corpus(spark)
    pairs = substr.substr_dup_pairs(df, w=4, window=3).collect()
    assert len(pairs) == 1
    assert (pairs[0].id_a, pairs[0].id_b) == (1, 2)
    assert pairs[0].shared_fingerprints >= 1


def test_spans_align_across_documents(spark):
    # every shared fingerprint appears in doc 1 and doc 2 at positions
    # offset by exactly 1 (doc 1's prefix is 3 tokens, doc 2's is 4)
    df = _corpus(spark)
    spans = substr.substr_dup_spans(df, w=4, window=3)
    by_doc = {
        r.doc_id: r.pos_by_hash
        for r in spans.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("gram_hash", "pos")))
            ).alias("pos_by_hash")
        )
        .collect()
    }
    assert set(by_doc) == {1, 2}
    assert set(by_doc[1]) == set(by_doc[2])
    for h, p1 in by_doc[1].items():
        assert by_doc[2][h] == p1 + 1


def test_winnow_positions_brute_force_parity(spark):
    # selection rule: position selected iff it is the min of at least
    # one covering window — recompute in Python over the same hashes
    df = _corpus(spark)
    w, window = 4, 3
    rows = df.select(
        substr.gram_hashes(F.col("text"), w).alias("h"),
        substr.winnow_positions(substr.gram_hashes(F.col("text"), w), window).alias(
            "sel"
        ),
    ).collect()
    for row in rows:
        h, sel = row.h, set(row.sel)
        m = len(h)
        expect = set()
        if m < window:
            expect = set(range(1, m + 1))
        else:
            for j in range(m - window + 1):
                win = h[j : j + window]
                mn = min(win)
                for i, v in enumerate(win):
                    if v == mn:
                        expect.add(j + i + 1)
        assert sel == expect, (sorted(sel), sorted(expect))


def test_density_is_sublinear(spark):
    # winnowing keeps ~2/(window+1) of positions; assert well under 1
    df = _corpus(spark).filter("doc_id = 1")
    w, window = 4, 4
    row = df.select(
        F.size(substr.gram_hashes(F.col("text"), w)).alias("m"),
        F.size(
            substr.winnow_positions(substr.gram_hashes(F.col("text"), w), window)
        ).alias("k"),
    ).first()
    assert 0 < row.k < row.m
    assert row.k <= row.m * 0.8


def test_df_cutoff_drops_ubiquitous_grams(spark):
    # the same boilerplate in 3 docs with max_gram_df=2 -> nothing kept
    df = spark.createDataFrame(
        [(i, f"doc {i} prefix " + SHARED) for i in range(1, 4)],
        "doc_id long, text string",
    )
    spans = substr.substr_dup_spans(df, w=4, window=3, max_gram_df=2)
    assert spans.count() == 0
    spans_ok = substr.substr_dup_spans(df, w=4, window=3, max_gram_df=3)
    assert spans_ok.count() > 0


def test_short_documents(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b"), (3, "")], "doc_id long, text string"
    )
    rows = df.select(
        "doc_id",
        F.size(substr.gram_hashes(F.col("text"), 4)).alias("m"),
        substr.winnow_positions(substr.gram_hashes(F.col("text"), 4), 3).alias("sel"),
    ).collect()
    got = {r.doc_id: (r.m, list(r.sel)) for r in rows}
    # m < window -> every position selected; m == 0 -> empty
    assert got[1] == (2, [1, 2])
    assert got[2] == (0, [])
    assert got[3] == (0, [])
    assert substr.substr_dup_pairs(df, w=4, window=3).count() == 0


def test_fingerprint_cache_shared_across_branches(spark):
    # the DF aggregate, join-back, and pair self-join must all read the
    # cached fingerprint table (corpus hashed once), and the release
    # hook must drain the cache
    df = _corpus(spark)
    session.release_held()
    pairs = substr.substr_dup_pairs(df, w=4, window=3)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 3
    assert pairs.count() == 1
    assert len(session._HELD) >= 1
    session.release_held()
    assert not session._HELD


def test_min_shared_threshold(spark):
    df = _corpus(spark)
    # 6 shared fingerprints at w=4/window=3 (see smoke run); a high
    # threshold filters the pair out
    assert substr.substr_dup_pairs(df, w=4, window=3, min_shared=100).count() == 0


def test_merge_spans_single_region_per_doc(spark):
    df = _corpus(spark)
    spans = substr.substr_dup_spans(df, w=4, window=3)
    merged = substr.merge_spans(spans, w=4, merge_gap=3)
    rows = {r.doc_id: r for r in merged.collect()}
    assert set(rows) == {1, 2}
    # doc 1: prefix is 3 tokens, shared run occupies tokens 4..16;
    # winnowed boundaries are exact to within window-1 = 2 tokens
    for doc_id, prefix in ((1, 3), (2, 4)):
        r = rows[doc_id]
        lo, hi = prefix + 1, prefix + 13
        assert lo <= r.span_start <= lo + 2
        assert hi - 2 <= r.span_end <= hi
        assert r.n_fingerprints >= 1


def test_merge_spans_disjoint_regions_stay_separate(spark):
    # two shared runs separated by a long unique middle -> two spans
    run1 = "aa bb cc dd ee ff gg hh"
    run2 = "pp qq rr ss tt uu vv ww"
    df = spark.createDataFrame(
        [
            (1, run1 + " unique1 middle1 filler1 padding1 extra1 " + run2),
            (2, run1 + " unique2 middle2 filler2 padding2 extra2 " + run2),
        ],
        "doc_id long, text string",
    )
    merged = substr.merge_spans(
        substr.substr_dup_spans(df, w=4, window=3), w=4, merge_gap=3
    )
    counts = {r.doc_id: r.n for r in merged.groupBy("doc_id").agg(
        F.count("*").alias("n")).collect()}
    assert counts == {1: 2, 2: 2}


def test_remove_dup_spans_cuts_shared_text(spark):
    df = _corpus(spark)
    merged = substr.merge_spans(
        substr.substr_dup_spans(df, w=4, window=3), w=4, merge_gap=3
    )
    out = {r.doc_id: r for r in substr.remove_dup_spans(df, merged).collect()}
    # untouched doc passes through with original text preserved
    assert out[3].n_tokens_removed == 0
    assert out[3].text_deduped == out[3].text
    for d in (1, 2):
        assert "quick brown fox" not in out[d].text_deduped
        assert out[d].n_tokens_removed >= 9  # 13-token run minus boundary fuzz
        assert out[d].text  # provenance column intact
    assert out[1].text_deduped.startswith("alpha beta gamma")
    assert out[2].text_deduped.startswith("one two three four")


def test_remove_dup_spans_total_removal_and_empty(spark):
    df = spark.createDataFrame(
        [(1, SHARED), (2, SHARED), (3, "")], "doc_id long, text string"
    )
    merged = substr.merge_spans(
        substr.substr_dup_spans(df, w=4, window=3), w=4, merge_gap=3
    )
    out = {r.doc_id: r for r in substr.remove_dup_spans(df, merged).collect()}
    n_tok = len(SHARED.split())
    for d in (1, 2):
        # identical docs: the whole text is one shared region up to
        # winnowing boundary fuzz of window-1 tokens per side
        assert out[d].n_tokens_removed >= n_tok - 2 * (3 - 1)
    assert out[3].text_deduped == ""
    assert out[3].n_tokens_removed == 0


def test_stop_grams_complement_of_spans(spark):
    # the same boilerplate in 3 docs: max_gram_df=2 routes it to the
    # stop-gram report instead of the span join
    df = spark.createDataFrame(
        [(i, f"doc {i} prefix " + SHARED) for i in range(1, 4)],
        "doc_id long, text string",
    )
    sg = substr.stop_grams(df, w=4, window=3, min_df=2)
    rows = sg.collect()
    assert rows and all(r.n_docs == 3 for r in rows)
    spans = substr.substr_dup_spans(df, w=4, window=3, max_gram_df=2)
    assert spans.count() == 0
    # every stop gram is absent from the span output and vice versa
    assert (
        substr.substr_dup_spans(df, w=4, window=3, max_gram_df=3)
        .join(sg, "gram_hash", "left_semi")
        .count()
        > 0
    )


def test_fingerprint_index_contamination(spark, tmp_path):
    df = _corpus(spark)
    idx_dir = str(tmp_path / "fp_idx")
    # index docs 1+3; doc 2 shares a 13-token run with doc 1 only
    substr.write_fingerprint_index(
        df.filter("doc_id != 2"), idx_dir, w=4, window=3, mode="overwrite"
    )
    idx = spark.read.schema("gram_hash long").parquet(idx_dir)
    cont = {
        r.doc_id: r
        for r in substr.substr_contamination(df, idx, w=4, window=3).collect()
    }
    assert set(cont) == {1, 2, 3}
    # indexed docs are fully contaminated by their own fingerprints
    assert cont[1].contamination == 1.0
    assert cont[3].contamination == 1.0
    # doc 2: partially contaminated (the shared run), strictly between
    assert 0.0 < cont[2].contamination < 1.0
    assert cont[2].n_seen < cont[2].n_fingerprints
    # append accumulation must not double-count n_seen
    substr.write_fingerprint_index(
        df.filter("doc_id != 2"), idx_dir, w=4, window=3, mode="append"
    )
    idx2 = spark.read.schema("gram_hash long").parquet(idx_dir)
    cont2 = {
        r.doc_id: r
        for r in substr.substr_contamination(df, idx2, w=4, window=3).collect()
    }
    assert all(cont[d] == cont2[d] for d in cont)


def test_contamination_short_doc_is_zero(spark):
    df = spark.createDataFrame([(1, "a b"), (2, SHARED)], "doc_id long, text string")
    idx = spark.createDataFrame([(0,)], "gram_hash long")
    cont = {
        r.doc_id: r
        for r in substr.substr_contamination(df, idx, w=4, window=3).collect()
    }
    assert cont[1].n_fingerprints == 0 and cont[1].contamination == 0.0
    assert cont[2].n_seen == 0 and cont[2].contamination == 0.0


def test_winnow_positions_randomized_sweep(spark):
    """Brute-force parity over 300 seeded-random token arrays in ONE
    Spark job, including tie-heavy shapes the fixed corpus can't hit:
    tiny vocabularies (many equal gram hashes -> covering-window-min
    ties), constant docs (every hash equal), alternating tokens, and
    lengths straddling every small-m edge case."""
    import random

    rng = random.Random(7)
    docs = []
    for i in range(300):
        shape = i % 4
        if shape == 0:  # general: vocab 2..40, len 0..60
            vocab = [f"t{j}" for j in range(rng.randint(2, 40))]
            n = rng.randint(0, 60)
            toks = [rng.choice(vocab) for _ in range(n)]
        elif shape == 1:  # constant doc: all hashes equal, max ties
            toks = ["same"] * rng.randint(0, 20)
        elif shape == 2:  # alternating pair
            n = rng.randint(0, 25)
            toks = [("a", "b")[j % 2] for j in range(n)]
        else:  # tiny vocab of 3, heavy repetition
            vocab = ["x", "y", "z"]
            toks = [rng.choice(vocab) for _ in range(rng.randint(0, 40))]
        docs.append((i, " ".join(toks)))
    w, window = 3, 4
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = df.select(
        "doc_id",
        substr.gram_hashes(F.col("text"), w).alias("h"),
        substr.winnow_positions(substr.gram_hashes(F.col("text"), w), window).alias(
            "sel"
        ),
    ).collect()
    assert len(rows) == 300
    for row in rows:
        h, sel = row.h, set(row.sel)
        m = len(h)
        if m < window:
            expect = set(range(1, m + 1))
        else:
            expect = set()
            for j in range(m - window + 1):
                win = h[j : j + window]
                mn = min(win)
                for k, v in enumerate(win):
                    if v == mn:
                        expect.add(j + k + 1)
        assert sel == expect, (row.doc_id, sorted(sel), sorted(expect))
