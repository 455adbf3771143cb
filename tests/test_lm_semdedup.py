"""Tests for the round-3b datapipe additions: unigram LM quality
scoring (lm.py), SemDeDup semantic dedup (semdedup.py), size-balanced
shard planning (packing.shard_plan), and incremental near-dup dedup
against a persisted MinHash index (dedup.write_minhash_index /
near_dedup_against)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logshipper_spark.datapipe import dedup, lm, packing, semdedup
from logshipper_spark.session import release_held

from .conftest import plan_string


# ── unigram LM scoring ──


@pytest.fixture(scope="module")
def tiny_corpus(spark):
    return spark.createDataFrame(
        [(0, "a a b"), (1, "a c"), (2, "")], ["doc_id", "text"]
    )


def test_unigram_lm_hand_computed(spark, tiny_corpus):
    """counts a=3 b=1 c=1, T=5, V=3, denom=8: p(a)=4/8 → 1.0 bits,
    p(b)=p(c)=2/8 → 2.0 bits, OOV=1/8 → 3.0 bits."""
    model, oov = lm.fit_unigram_lm(tiny_corpus)
    rows = {r["token"]: (r["cnt"], r["nlp_micro"]) for r in model.collect()}
    assert rows == {"a": (3, 1_000_000), "b": (1, 2_000_000), "c": (1, 2_000_000)}
    assert oov == 3_000_000
    scored = {
        r["doc_id"]: r.asDict()
        for r in lm.lm_score(tiny_corpus, model, oov).collect()
    }
    assert scored[0]["n_tokens"] == 3
    assert scored[0]["nlp_sum_micro"] == 4_000_000  # 1 + 1 + 2 bits
    assert scored[0]["bits_per_token"] == pytest.approx(1.3333)
    assert scored[1]["nlp_sum_micro"] == 3_000_000
    assert scored[1]["bits_per_token"] == pytest.approx(1.5)
    # zero-token doc keeps its row, never dropped
    assert scored[2]["n_tokens"] == 0
    assert scored[2]["bits_per_token"] is None


def test_unigram_lm_min_count_prunes_to_oov(spark, tiny_corpus):
    """min_count prunes rare tokens from the model; pruned tokens score
    at the OOV mass, and probabilities of retained tokens are unchanged
    (T and V are measured pre-pruning)."""
    model, oov = lm.fit_unigram_lm(tiny_corpus, min_count=2)
    assert {r["token"] for r in model.collect()} == {"a"}
    scored = {
        r["doc_id"]: r["nlp_sum_micro"]
        for r in lm.lm_score(tiny_corpus, model, oov).collect()
    }
    assert scored[0] == 1_000_000 + 1_000_000 + oov  # a a b
    assert scored[1] == 1_000_000 + oov  # a c


def test_lm_quality_filter_band(spark, tiny_corpus):
    model, oov = lm.fit_unigram_lm(tiny_corpus)
    scored = lm.lm_score(tiny_corpus, model, oov)
    kept = {r["doc_id"] for r in lm.lm_quality_filter(scored, 1.4, 16.0).collect()}
    assert kept == {1}  # doc0 at 1.33 below band, doc2 NULL dropped


def test_lm_empty_corpus(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    model, oov = lm.fit_unigram_lm(empty)
    assert model.count() == 0 and oov == 0  # -log2(1/1) = 0
    assert lm.lm_score(empty, model, oov).count() == 0


# ── SemDeDup ──


def test_semantic_dedup_transitive_within_cluster(spark):
    """v0~v1 and v1~v2 cross the threshold but v0~v2 does not — the
    component still collapses all three (transitivity via CC), keeping
    only the minimum id. The second cluster's pair is independent, and
    the far-off singleton keeps itself."""
    import math

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    rows = [
        (0, unit(0.0)),
        (1, unit(5.0)),    # cos(0,1)=cos5° ≈ .9962
        (2, unit(10.0)),   # cos(1,2) ≈ .9962, cos(0,2)=cos10° ≈ .9848
        (10, unit(90.0)),
        (11, unit(94.0)),  # cos ≈ .9976
        (20, unit(45.0)),  # boundary-ish singleton
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    labels = {
        r["vec_id"]: (r["component"], r["keep"])
        for r in semdedup.semantic_dedup(df, cents, threshold=0.995).collect()
    }
    assert labels[0] == (0, 1)
    assert labels[1] == (1, 0) or labels[1] == (0, 0)
    assert labels[1][1] == 0 and labels[2] == (0, 0)
    assert labels[10] == (10, 1) and labels[11] == (10, 0)
    # 45° assigns to one cell deterministically and pairs with nothing
    # at this threshold (cos 35° ≈ .819, cos 40° ≈ .766)
    assert labels[20] == (20, 1)
    # exactly one keeper per component
    assert labels[1] == (0, 0)


def test_semantic_pairs_cell_blindness_is_cluster_scoped(spark):
    """Pairs are only searched within a cell — two near vectors split
    across cells are NOT paired (the documented SemDeDup trade: recall
    follows cluster quality)."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.02]), (1, [1.0, -0.02])],
        "vec_id long, embedding array<double>",
    )
    # adversarial centroids putting the near-identical pair in
    # different cells
    cents = [[1.0, 0.5], [1.0, -0.5]]
    assert semdedup.semantic_pairs(df, cents, threshold=0.9).count() == 0
    # one shared centroid finds it
    assert (
        semdedup.semantic_pairs(df, [[1.0, 0.0]], threshold=0.9).count() == 1
    )


def test_semantic_dedup_no_pairs_all_keep(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = semdedup.semantic_dedup(df, [[1.0, 0.0], [0.0, 1.0]], 0.99).collect()
    assert all(r["keep"] == 1 and r["component"] == r["vec_id"] for r in out)


def test_semantic_pairs_property(spark):
    """Property test (hypothesis, derandomized): for generated
    integer-grid vectors and centroids, semantic_pairs must equal a
    pure-Python reference that mirrors the exact float semantics —
    left-fold squared-L2 cell argmin with 6-dp HALF_UP rounding and
    index tie-break, staged per-row norms, left-fold dot, cosine
    rounded to 6 dp, zero-norm guard → 0.0. Rounding mirrors Spark's
    Round (BigDecimal on the shortest decimal repr, HALF_UP) via
    Decimal(repr(x)).quantize."""
    from decimal import ROUND_HALF_UP, Decimal

    from hypothesis import given, settings, strategies as st

    def r6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    def fold(vals):
        s = 0.0
        for v in vals:
            s = s + v
        return s

    def cell(v, cents):
        best_i, best_d = 0, None
        for i, c in enumerate(cents):
            d = r6(fold((a - b) * (a - b) for a, b in zip(v, c)))
            if best_d is None or d < best_d:
                best_i, best_d = i, d
        return best_i

    @settings(max_examples=10, deadline=None, derandomize=True)
    @given(
        data=st.data(),
        dim=st.integers(min_value=2, max_value=3),
        threshold=st.sampled_from([0.5, 0.9, 0.99]),
    )
    def check(data, dim, threshold):
        vec_st = st.lists(
            st.integers(-3, 3).map(float), min_size=dim, max_size=dim
        )
        vecs = data.draw(st.lists(vec_st, min_size=2, max_size=10))
        cents = data.draw(st.lists(vec_st, min_size=1, max_size=3))
        df = spark.createDataFrame(
            list(enumerate(vecs)), "vec_id long, embedding array<double>"
        )
        got = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in semdedup.semantic_pairs(
                df, cents, threshold=threshold
            ).collect()
        }
        release_held()
        import math

        cells = [cell(v, cents) for v in vecs]
        nrms = [math.sqrt(fold(x * x for x in v)) for v in vecs]
        want = {}
        for a in range(len(vecs)):
            for b in range(a + 1, len(vecs)):
                if cells[a] != cells[b]:
                    continue
                n2 = nrms[a] * nrms[b]
                cos = r6(
                    fold(x * y for x, y in zip(vecs[a], vecs[b])) / n2
                    if n2 > 0
                    else 0.0
                )
                if cos >= threshold:
                    want[(a, b)] = cos
        assert got == want

    check()


# ── shard planning ──


def test_shard_plan_hand_layout(spark):
    """bytes [10,20,5,40,8] at target 30: running 10,30,35,75,83 →
    shard = floor(bytes_before / 30) = [0,0,1,1,2]."""
    rows = [(i, "x" * n) for i, n in enumerate([10, 20, 5, 40, 8])]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    plan = packing.shard_plan(df, target_bytes=30, block_size=2)
    got = {
        r["doc_id"]: (r["n_bytes"], r["cum_bytes"], r["shard"])
        for r in plan.collect()
    }
    assert got == {
        0: (10, 10, 0),
        1: (20, 30, 0),
        2: (5, 35, 1),
        3: (40, 75, 1),
        4: (8, 83, 2),
    }
    stats = {
        r["shard"]: (r["n_docs"], r["shard_bytes"])
        for r in packing.shard_stats(plan).collect()
    }
    assert stats == {0: (2, 30), 1: (2, 45), 2: (1, 8)}


def test_shard_plan_grouped_and_block_independent(spark):
    rows = [(s, i, "y" * (7 + i)) for s in ("a", "b") for i in range(20)]
    df = spark.createDataFrame(rows, ["source", "doc_id", "text"])
    big = packing.shard_plan(
        df, 40, group_col="source", block_size=1000
    ).collect()
    small = packing.shard_plan(
        df, 40, group_col="source", block_size=3
    ).collect()
    assert sorted(map(tuple, big)) == sorted(map(tuple, small))
    # every non-final shard's last cum_bytes reaches its end boundary
    # (the guaranteed invariant; raw shard_bytes can undershoot when a
    # huge doc overshoots the previous boundary)
    plan = packing.shard_plan(df, 40, group_col="source", block_size=3)
    ends = plan.groupBy("source", "shard").agg(
        F.max("cum_bytes").alias("end")
    )
    last = {r["source"]: r["shard"] for r in
            ends.groupBy("source").agg(F.max("shard").alias("shard")).collect()}
    for r in ends.collect():
        if r["shard"] != last[r["source"]]:
            assert r["end"] >= 40 * (r["shard"] + 1)


def test_shard_plan_rejects_bad_target(spark):
    df = spark.createDataFrame([(0, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        packing.shard_plan(df, 0)


# ── incremental near-dup dedup ──


def test_near_dedup_against_index_roundtrip(spark, tmp_path):
    """Exact copies of indexed docs are dropped (est_jaccard = 1);
    fresh docs survive; appending a snapshot extends the drop set;
    batch-internal near-dups pass through untouched."""
    path = str(tmp_path / "mh_index")
    long_a = " ".join(f"alpha{i} tok{i} word{i}" for i in range(12))
    long_b = " ".join(f"beta{i} item{i} unit{i}" for i in range(12))
    fresh = " ".join(f"gamma{i} new{i} page{i}" for i in range(12))
    snap1 = spark.createDataFrame([(0, long_a)], ["doc_id", "text"])
    dedup.write_minhash_index(snap1, path, mode="overwrite")
    sigs = spark.read.parquet(path + "/sigs")
    bands = spark.read.parquet(path + "/bands")
    batch = spark.createDataFrame(
        [(100, long_a), (101, fresh), (102, fresh), (103, long_b)],
        ["doc_id", "text"],
    )
    kept = {
        r["doc_id"]
        for r in dedup.near_dedup_against(batch, sigs, bands).collect()
    }
    assert kept == {101, 102, 103}  # internal dup pair 101/102 both kept
    # append snapshot 2; its exact copy now drops too
    snap2 = spark.createDataFrame([(1, long_b)], ["doc_id", "text"])
    dedup.write_minhash_index(snap2, path, mode="append")
    sigs2 = spark.read.parquet(path + "/sigs")
    bands2 = spark.read.parquet(path + "/bands")
    kept2 = {
        r["doc_id"]
        for r in dedup.near_dedup_against(batch, sigs2, bands2).collect()
    }
    assert kept2 == {101, 102}
    release_held()


def test_near_dedup_against_catches_near_copy(spark, tmp_path):
    """A one-token edit of a 30-token indexed doc shares most shingles
    — the banded index must catch it below estimate 1.0."""
    path = str(tmp_path / "mh_near")
    toks = [f"w{i}" for i in range(30)]
    orig = " ".join(toks)
    near = " ".join(toks[:15] + ["CHANGED"] + toks[16:])
    snap = spark.createDataFrame([(0, orig)], ["doc_id", "text"])
    dedup.write_minhash_index(snap, path, mode="overwrite")
    sigs = spark.read.parquet(path + "/sigs")
    bands = spark.read.parquet(path + "/bands")
    batch = spark.createDataFrame([(100, near)], ["doc_id", "text"])
    assert dedup.near_dedup_against(batch, sigs, bands, threshold=0.5).count() == 0
    # a strict threshold keeps it (est < 1 for a real edit)
    assert (
        dedup.near_dedup_against(batch, sigs, bands, threshold=1.0).count() == 1
    )
    release_held()


def test_near_dedup_against_custom_id_col_and_sigs_df(spark, tmp_path):
    """A non-default id column with a precomputed (id_col, sig) frame —
    the exact shape streaming_near_dedup passes — must work end to end
    (regression: the sigs_df select used to assume doc_id)."""
    path = str(tmp_path / "mh_uid")
    long_a = " ".join(f"alpha{i} tok{i} word{i}" for i in range(12))
    fresh = " ".join(f"gamma{i} new{i} page{i}" for i in range(12))
    snap = spark.createDataFrame([(0, long_a)], ["uid", "text"])
    dedup.write_minhash_index(snap, path, id_col="uid", mode="overwrite")
    sigs = spark.read.parquet(path + "/sigs")
    bands = spark.read.parquet(path + "/bands")
    batch = spark.createDataFrame([(7, long_a), (8, fresh)], ["uid", "text"])
    batch_sigs = batch.select(
        F.col("uid"), dedup.minhash_signature(F.col("text")).alias("sig")
    )
    kept = dedup.near_dedup_against(
        batch, sigs, bands, id_col="uid", sigs_df=batch_sigs
    )
    assert [r["uid"] for r in kept.collect()] == [8]


def test_banded_buckets_matches_lsh_pairs_path(spark):
    """banded_buckets over persisted-style signatures reproduces the
    pair set minhash_lsh_pairs finds on the same frame."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(i, i + 10))) for i in range(6)]
        + [(100, " ".join(f"t{j}" for j in range(0, 10)))],
        ["doc_id", "text"],
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.99).collect()
    }
    assert (0, 100) in pairs
    release_held()


# ── incremental semantic dedup (write_semantic_index / _against) ──


def test_semantic_dedup_against_index_roundtrip(spark, tmp_path):
    """Index two kept vectors; a batch near-copy of an indexed vector
    drops, an orthogonal newcomer survives, a near-copy landing in a
    DIFFERENT cell survives (the documented cell-blindness trade), and
    appending a snapshot extends the drop reach."""
    import math

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    path = str(tmp_path / "semidx")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    kept = spark.createDataFrame(
        [(0, unit(2.0)), (1, unit(88.0))],
        "vec_id long, embedding array<double>",
    )
    semdedup.write_semantic_index(kept, path, cents, mode="overwrite")

    batch = spark.createDataFrame(
        [
            (100, unit(3.0)),    # ~cos 0.9998 vs idx 0 → drop
            (101, unit(44.0)),   # cell 0, far from idx 0 → keep
            (102, unit(46.0)),   # cell 1, near 101 but 101 isn't indexed → keep
            (103, unit(87.0)),   # ~idx 1 → drop
        ],
        "vec_id long, embedding array<double>",
    )
    out = semdedup.semantic_dedup_against(batch, path, threshold=0.99)
    release_held()
    assert {r["vec_id"] for r in out.collect()} == {101, 102}
    # append the surviving snapshot: 101/102 now indexed, so their
    # near-copies drop on the next batch
    semdedup.write_semantic_index(out, path, cents, mode="append")
    batch2 = spark.createDataFrame(
        [(200, unit(44.5)), (201, unit(2.5))],
        "vec_id long, embedding array<double>",
    )
    out2 = semdedup.semantic_dedup_against(batch2, path, threshold=0.99)
    release_held()
    assert {r["vec_id"] for r in out2.collect()} == set()


def test_semantic_dedup_against_prunes_probe_cells(spark, tmp_path):
    """The index scan must carry a literal cell IN filter bounded by
    the batch's occupied cells (directory pruning at 100 TB)."""
    path = str(tmp_path / "semidx2")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    kept = spark.createDataFrame(
        [(0, [1.0, 0.01]), (1, [0.01, 1.0])],
        "vec_id long, embedding array<double>",
    )
    semdedup.write_semantic_index(kept, path, cents, mode="overwrite")
    batch = spark.createDataFrame(
        [(10, [1.0, 0.02])], "vec_id long, embedding array<double>"
    )  # occupies cell 0 only
    out = semdedup.semantic_dedup_against(batch, path, threshold=0.999999)
    plan = plan_string(out)
    release_held()
    # the literal probe filter must reach the index scan's partition
    # pruning (single probed cell collapses isin to an equality)
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*\]", plan)
    assert m and re.search(r"cell#\d+ (= 0|IN \(0\))", m.group(0)), m
    # and the survivor logic still holds (cos(10, 0) < threshold)
    assert {r["vec_id"] for r in out.collect()} == {10}
