"""Training-data pipeline operator tests (dedup, similarity, text stats,
multimodal plumbing) over the driver-provided documents/embeddings
tables plus handcrafted cases."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from logshipper_spark.datapipe import dedup, multimodal, similarity, textstats
from logshipper_spark.session import release_held

from .conftest import plan_string

SF_DIR = "/root/testdata/sf0.001"


# Plain-Python reference for the integer-micro nearest-centroid
# convention every similarity kernel shares: per-term
# floor((a-b)²·1e6+0.5) over zip (truncating to the shorter vector), a
# NULL element contributing 0, first index on a distance tie.
def _py_micro_sq_l2(v, c):
    return sum(
        int(math.floor((a - b) * (a - b) * 1_000_000.0 + 0.5))
        for a, b in zip(v, c)
        if a is not None and b is not None
    )


def _py_nearest(v, cents):
    """``(d, i)`` of the nearest centroid; a NULL vector is (None, 0)."""
    if v is None:
        return (None, 0)
    ds = [_py_micro_sq_l2(v, c) for c in cents]
    i = min(range(len(ds)), key=lambda j: (ds[j], j))
    return (ds[i], i)


def _py_maximin(pts, k):
    """Farthest-point seeding: the first maximal point wins a tie."""
    seeds = [list(pts[0])]
    dmin = [math.inf] * len(pts)
    while len(seeds) < k:
        for i, p in enumerate(pts):
            dmin[i] = min(dmin[i], _py_micro_sq_l2(p, seeds[-1]))
        seeds.append(list(pts[max(range(len(pts)), key=dmin.__getitem__)]))
    return seeds


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


# ── text stats ──
def test_token_counts(spark):
    df = spark.createDataFrame(
        [("hello world",), ("one",), ("",), ("  a  b   c ",)], ["text"]
    )
    got = [r[0] for r in df.select(textstats.token_count(F.col("text"))).collect()]
    assert got == [2, 1, 0, 3]


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame([("hello, world 42!",)], ["text"])
    # tokens: hello , world 4 2 !  → 6
    assert df.select(textstats.bpe_ish_token_count(F.col("text"))).first()[0] == 6


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat sat on the mat and it is that for",),
            ("der hund ist ein tier und das ist nicht gut",),
            ("le chat est une bête et la vie est pour que",),
            ("xyzzy qwerty",),
        ],
        ["text"],
    )
    got = [r[0] for r in df.select(textstats.lang_id(F.col("text"))).collect()]
    assert got == ["en", "de", "fr", "unknown"]


def test_quality_score_bounds(docs):
    stats = textstats.text_stats(docs)
    row = stats.agg(
        F.min("quality").alias("lo"), F.max("quality").alias("hi")
    ).first()
    assert 0.0 <= row["lo"] <= row["hi"] <= 1.0


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame([("a b c",), ("c b a",), ("a b c",)], ["text"])
    got = [r[0] for r in df.select(textstats.fingerprint(F.col("text"))).collect()]
    assert got[0] == got[2]
    assert got[0] != got[1]


# ── dedup ──
def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(0, "same text"), (1, "same text"), (2, "unique")], ["doc_id", "text"]
    )
    out = {r["keep_id"]: r["dup_count"] for r in dedup.exact_dedup(df).collect()}
    assert out == {0: 2, 2: 1}


def test_ngram_jaccard_pairs(spark):
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "completely different words entirely here now"),
        ],
        ["doc_id", "text"],
    )
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(df, threshold=0.3).collect()}
    assert (0, 1) in pairs
    assert pairs[(0, 1)] == pytest.approx(6 / 8, abs=1e-6)  # 6 shared of 8 distinct 3-shingles
    assert not any(2 in p for p in pairs)


def test_minhash_estimates_jaccard(spark):
    df = spark.createDataFrame(
        [
            (0, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"),
            (1, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 zz"),
            (2, "q0 q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11"),
        ],
        ["doc_id", "text"],
    )
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
             dedup.minhash_lsh_pairs(df, num_hashes=64, bands=16, threshold=0.3).collect()}
    assert (0, 1) in pairs
    # true jaccard = 8/12 ≈ 0.67; a healthy 64-permutation estimate lands
    # in a band around it — and is NOT degenerate (a collapsed signature
    # reports exactly 0.0 or 1.0; caught a real bug in round 2)
    assert 0.4 < pairs[(0, 1)] < 0.95
    assert not any(2 in p for p in pairs)


def test_minhash_signature_lanes_are_independent(spark):
    """Every permutation lane must use a distinct hash: a collapsed
    signature (all 32 values equal) breaks the jaccard estimator."""
    sig = (
        spark.createDataFrame([("a b c d e f g h",)], ["text"])
        .select(dedup.minhash_signature(F.col("text"), k=3, num_hashes=32).alias("s"))
        .first()["s"]
    )
    assert len(set(sig)) > 16  # 6 shingles x 32 perms: near-all distinct mins


def test_simhash_near_vs_far(spark):
    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "alpha beta gamma delta epsilon zeta eta iota"),
            (2, "one two three four five six seven eight"),
        ],
        ["doc_id", "text"],
    )
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(sh[0], sh[1]) < hamming(sh[0], sh[2])


def test_simhash_pairs_pigeonhole(spark):
    """Identical docs pair at hamming 0; near docs within the band
    guarantee are found; far docs are not paired."""
    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 0
            (2, "one two three four five six seven eight"),
        ],
        ["doc_id", "text"],
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in dedup.simhash_pairs(df).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_fingerprint_pairs_exact_only(spark):
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox"),
            (1, "the quick brown fox"),
            (2, "fox brown quick the"),  # same tokens, different order
        ],
        ["doc_id", "text"],
    )
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.fingerprint_pairs(df).collect()}
    assert pairs == {(0, 1)}  # order-sensitive: 2 does not match


def test_simhash_deterministic(spark, docs):
    a = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs.limit(50)).collect()}
    b = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs.limit(50)).collect()}
    assert a == b


def test_embedding_near_dup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),       # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = dedup.embedding_near_dup_pairs(df, threshold=0.99, num_planes=4).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in ids
    assert (0, 2) not in ids and (1, 2) not in ids


def test_corpus_stats_rollup(spark):
    txt_en = "the cat sat of the mat and it is that for " * 5  # en, 55 tokens
    rows = [(1, txt_en), (2, txt_en), (3, "the of and to in is it that for a"),
            (4, "zzz qqq")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["lang_guess"]: r.asDict()
           for r in textstats.corpus_stats(df).collect()}
    assert got["en"]["docs"] == 3
    assert got["en"]["distinct_texts"] == 2  # planted exact dup collapses
    assert got["en"]["total_tokens"] == 55 * 2 + 10
    assert got["unknown"]["docs"] == 1
    assert got["unknown"]["distinct_texts"] == 1
    per_doc = {
        r["doc_id"]: r["quality"] for r in textstats.text_stats(df).collect()
    }
    want_en = sum(
        int(math.floor(per_doc[i] * 10000 + 0.5)) for i in (1, 2, 3)
    )
    assert got["en"]["quality_sum_4dp"] == want_en  # integer-exact sum
    # HLL path: same shape, estimate within rsd bounds at this scale
    approx = {r["lang_guess"]: r.asDict()
              for r in textstats.corpus_stats(df, approx_distinct=0.01).collect()}
    assert approx["en"]["docs"] == 3
    assert abs(approx["en"]["distinct_texts"] - 2) <= 1
    assert approx["en"]["total_tokens"] == got["en"]["total_tokens"]


# ── similarity ──
def test_cosine_topk_exact(spark, embs):
    query = embs.first()["embedding"]
    out = similarity.cosine_topk(embs, list(query), k=5).collect()
    assert len(out) == 5
    assert out[0]["vec_id"] == embs.first()["vec_id"]  # self is the best match
    assert out[0]["cosine"] == pytest.approx(1.0, abs=1e-6)
    sims = [r["cosine"] for r in out]
    assert sims == sorted(sims, reverse=True)


def test_quantized_topk_matches_exact(spark, embs):
    """Int8 coarse + exact rerank recovers the exact top-k on the test
    corpus (rerank=4 headroom absorbs quantization rank noise), codes
    stay in int8 range, and determinism holds across two evaluations."""
    emb = embs.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    query = [float(x) for x in emb.first()["v"]]
    exact = [
        r["vec_id"]
        for r in similarity.cosine_topk(emb, query, vec_col="v", k=5).collect()
    ]
    got1 = similarity.quantized_topk(
        emb, query, vec_col="v", k=5, rerank=4
    ).collect()
    got2 = similarity.quantized_topk(
        emb, query, vec_col="v", k=5, rerank=4
    ).collect()
    assert [r.asDict() for r in got1] == [r.asDict() for r in got2]
    assert [r["vec_id"] for r in got1][0] == exact[0]  # self is top-1
    assert len(set(r["vec_id"] for r in got1) & set(exact)) >= 4
    qd = similarity.quantize_vectors(emb, vec_col="v")
    mx = qd.select(
        F.max(F.array_max(F.transform("qvec", lambda x: F.abs(x.cast("int")))))
    ).first()[0]
    assert mx <= 127
    # stored-codes path (index built with quantize_vectors) ≡ on-the-fly
    got3 = similarity.quantized_topk(qd, query, vec_col="v", k=5, rerank=4).collect()
    assert [r.asDict() for r in got3] == [r.asDict() for r in got1]


def test_ivf_topk_recall(spark, embs):
    query = list(embs.first()["embedding"])
    exact = [r["vec_id"] for r in similarity.cosine_topk(embs, query, k=5).collect()]
    approx = [r["vec_id"] for r in
              similarity.ivf_topk(embs, query, k=5, num_cells=8, n_probe=4).collect()]
    # the query's own cell is probed → its exact nearest (itself) is found
    assert exact[0] == approx[0]
    assert len(set(exact) & set(approx)) >= 2  # reasonable recall on 500 rows


# ── multimodal plumbing ──
def test_ivf_indexed_partition_pruning(spark, embs, tmp_path):
    """write_ivf_index + ivf_topk_indexed: same result as the on-the-fly
    IVF, and the scan prunes to the probed cell directories (the cell
    predicate appears as a PartitionFilter, not a data filter)."""
    emb = embs.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    qv = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(emb, path, num_cells=16, dim=len(qv))
    indexed = similarity.ivf_topk_indexed(spark, path, qv, k=5, num_cells=16, n_probe=4)
    onthefly = similarity.ivf_topk(emb, qv, k=5, num_cells=16, n_probe=4)
    assert [r.asDict() for r in indexed.collect()] == [
        r.asDict() for r in onthefly.collect()
    ]
    probes = similarity.probe_cells(qv, num_cells=16, n_probe=4)
    plan = plan_string(indexed)
    assert "PartitionFilters" in plan and "cell" in plan
    # only probed cell directories are read
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and all(str(p) in m.group(1) for p in probes)


def test_ivf_knn_join_self_is_top1(spark, embs, tmp_path):
    """Every query's own vector lives in its own (probed) cell, so the
    top-1 neighbor of each query is itself at cosine 1.0."""
    emb = embs.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dim = len(emb.head()["embedding"])
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(emb, path, num_cells=16, dim=dim)
    out = similarity.ivf_knn_join(
        spark, path, emb.filter("vec_id < 8"), k=3, num_cells=16, dim=dim
    )
    rows = out.collect()
    release_held()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["cosine"], r["vec_id"]))
    assert set(by_q) == set(range(8))
    for qid, cands in by_q.items():
        top = max(cands)
        assert top[1] == qid and top[0] == 1.0
        assert len(cands) <= 3


def test_probe_cells_matches_assign_cells(spark, embs):
    """Driver-side qcell == Spark-side cell assignment for the same vector."""
    emb = embs.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).limit(5)
    rows = emb.collect()
    dim = len(rows[0]["embedding"])
    cells = {
        r["vec_id"]: r["cell"]
        for r in similarity.assign_cells(emb, 16, dim=dim).collect()
    }
    for r in rows:
        qv = [float(x) for x in r["embedding"]]
        assert similarity.probe_cells(qv, 16, 1)[0] == cells[r["vec_id"]]


def test_near_dup_components_transitive(spark):
    """Chains collapse into one component labeled by the min member;
    disjoint pairs stay separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 6)], ["id_a", "id_b"]
    )
    comp = {r["doc_id"]: r["component"] for r in dedup.near_dup_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_dedup_against_key_index(spark, tmp_path):
    """Incremental dedup: rows whose text was indexed in a prior
    snapshot are dropped; append mode accumulates snapshots; batch-
    internal duplicates pass through (exact_dedup's job, not this)."""
    idx_path = str(tmp_path / "keys")
    snap1 = spark.createDataFrame(
        [(0, "seen before"), (1, "also seen")], ["doc_id", "text"]
    )
    dedup.write_key_index(snap1, idx_path, mode="overwrite")
    batch = spark.createDataFrame(
        [
            (10, "seen before"),   # indexed → dropped
            (11, "brand new"),
            (12, "brand new"),     # internal dup → both kept
            (13, "newer still"),
        ],
        ["doc_id", "text"],
    )
    idx = spark.read.schema("h0 long, h1 long").parquet(idx_path)
    kept = {r["doc_id"] for r in dedup.dedup_against(batch, idx).collect()}
    assert kept == {11, 12, 13}
    # append the new batch's keys; a rerun of the same batch drops all
    dedup.write_key_index(batch, idx_path, mode="append")
    idx2 = spark.read.schema("h0 long, h1 long").parquet(idx_path)
    assert dedup.dedup_against(batch, idx2).count() == 0


def test_curate_quality_and_exact_dedup(spark):
    from logshipper_spark.datapipe import curate as cur

    good = "the quick brown fox jumps over the lazy dog " * 3  # >50 chars, stopwords
    df = spark.createDataFrame(
        [
            (0, good),
            (1, good),                  # exact dup of 0 → collapsed into 0
            (2, "x"),                   # too short → quality gate drops
            (3, good + "and then some more of it"),
        ],
        ["doc_id", "text"],
    )
    kept = {r["doc_id"]: r.asDict() for r in cur.curate(df, min_quality=0.5).collect()}
    assert set(kept) == {0, 3}
    assert kept[0]["exact_dup_count"] == 2
    assert kept[3]["exact_dup_count"] == 1


def test_curate_scrub_before_dedup_collapses_pii_variants(spark):
    """Two copies that differ ONLY in their PII span must dedup together
    when scrub_pii=True (the scrub runs before the dedup key), and must
    NOT dedup without scrubbing — the property that fixes the stage
    order scrub → quality → repetition → dedup."""
    from logshipper_spark.datapipe import curate as cur

    base = "the quick brown fox jumps over the lazy dog and naps " * 2
    df = spark.createDataFrame(
        [
            (0, base + "mail alice@example.com"),
            (1, base + "mail bob@other.org"),   # differs only in the email
            (2, base + "no pii here at all"),
        ],
        ["doc_id", "text"],
    )
    scrubbed = {r["doc_id"]: r["exact_dup_count"]
                for r in cur.curate(df, min_quality=0.3, scrub_pii=True).collect()}
    assert scrubbed == {0: 2, 2: 1}
    raw = {r["doc_id"]: r["exact_dup_count"]
           for r in cur.curate(df, min_quality=0.3).collect()}
    assert raw == {0: 1, 1: 1, 2: 1}


def test_curate_line_clean_collapses_boilerplate_variants(spark):
    """line_clean=True: two pages identical up to boilerplate lines
    dedup together on the cleaned text; a doc failing the C4 verdict
    (no surviving line) drops outright."""
    from logshipper_spark.datapipe import curate as cur

    body = "the quick brown fox jumps over the lazy dog and sleeps."
    df = spark.createDataFrame(
        [
            (0, body + "\nthis site uses cookies to function."),
            (1, body + "\nplease accept our privacy policy now."),
            (2, "no terminal punctuation so nothing survives"),
        ],
        ["doc_id", "text"],
    )
    kept = {r["doc_id"]: r["exact_dup_count"]
            for r in cur.curate(df, min_quality=0.3, line_clean=True).collect()}
    assert kept == {0: 2}
    # without line_clean the boilerplate variants stay distinct
    raw = {r["doc_id"] for r in cur.curate(df, min_quality=0.3).collect()}
    assert raw == {0, 1, 2}


def test_curate_repetition_gate_drops_spam(spark):
    """repetition=True inserts the Gopher rep_keep gate: a one-bigram
    spam document passes the cheap quality score but fails top_bigram."""
    from logshipper_spark.datapipe import curate as cur

    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    spam = "buy now " * 40  # top bigram 'buy now' ≈ 50% of all bigrams
    df = spark.createDataFrame([(0, good), (1, spam)], ["doc_id", "text"])
    base_kept = {r["doc_id"] for r in cur.curate(df, min_quality=0.3).collect()}
    assert base_kept == {0, 1}
    rep_kept = {r["doc_id"]
                for r in cur.curate(df, min_quality=0.3, repetition=True).collect()}
    assert rep_kept == {0}


def test_curate_near_dup_drops_higher_id(spark):
    from logshipper_spark.datapipe import curate as cur

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    df = spark.createDataFrame(
        [
            (0, base * 2),
            (5, base * 2 + " extra"),   # near-dup of 0 → higher id dropped
            (9, "completely different words about another topic entirely for this one " * 2),
        ],
        ["doc_id", "text"],
    )
    kept = {r["doc_id"] for r in
            cur.curate(df, min_quality=0.3, near_dup=True, minhash_threshold=0.6).collect()}
    assert kept == {0, 9}


def test_media_features(spark):
    media = multimodal.gen_media(spark, 50)
    feats = multimodal.decode_stub_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows[:5]:
        assert len(r["features"]) == multimodal.FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in r["features"])
        assert r["n_bytes"] == 64
    # deterministic across runs
    again = {r["media_id"]: r["features"] for r in multimodal.decode_stub_features(media).collect()}
    assert again[rows[0]["media_id"]] == rows[0]["features"]


def test_decode_real_dispatch_contract():
    # round 5: image/audio decode is REAL (stdlib codecs) — junk bytes
    # fail as a codec error, not as a stub; only video stays blocked
    with pytest.raises(ValueError):
        multimodal.decode_real(b"", "image", {})
    with pytest.raises(ValueError):
        multimodal.decode_real(b"", "audio", {})
    with pytest.raises(NotImplementedError):
        multimodal.decode_real(b"", "video", {})


def test_frame_sample(spark):
    media = multimodal.gen_media(spark, 30)
    frames = multimodal.frame_sample(media, every_ms=1000)
    joined = frames.groupBy("media_id").count().join(
        media.select("media_id", F.col("meta.duration_ms").alias("d")), "media_id"
    )
    for r in joined.collect():
        assert r["count"] == r["d"] // 1000 + 1


# ── trained-centroid IVF (round 3) ──
def test_kmeans_fit_deterministic_and_trained_topk(spark, tmp_path):
    import math

    from logshipper_spark.datapipe import similarity

    # three tight clusters around orthogonal corners
    base = {0: [10.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0], 2: [0.0, 0.0, 10.0]}
    rows = []
    for i in range(60):
        c = i % 3
        bump = [((i * 7 + j) % 5) * 0.01 for j in range(3)]
        rows.append((i, [base[c][j] + bump[j] for j in range(3)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    c1 = similarity.kmeans_fit(df, num_cells=3, dim=3, max_iter=4)
    c2 = similarity.kmeans_fit(df, num_cells=3, dim=3, max_iter=4)
    assert c1 == c2  # hash-seeded init + Lloyd = fully deterministic
    # each trained centroid sits near one distinct corner
    corners = {tuple(1 if x > 5 else 0 for x in c) for c in c1}
    assert corners == {(1, 0, 0), (0, 1, 0), (0, 0, 1)}

    path = str(tmp_path / "ivf_trained")
    similarity.write_ivf_trained(df, path, c1)
    q = [10.0, 0.1, 0.0]
    got = similarity.ivf_trained_topk(spark, path, q, k=5, n_probe=1).collect()
    # probing ONE trained cell recovers the query's whole cluster
    assert len(got) == 5
    assert all(r["vec_id"] % 3 == 0 for r in got)
    brute = similarity.cosine_topk(df, q, k=5).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in brute]


def test_kmeans_empty_input(spark):
    from logshipper_spark.datapipe import similarity

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert similarity.kmeans_fit(df, num_cells=4, dim=3) == []


def test_maximin_seeds_matches_python_reference():
    """The vectorized maximin seeding (r3 verdict nit #1) picks the
    same seeds as the plain-Python reference: same per-term
    integer-micro quantization, same first-maximal tie-break —
    including num_cells > |distinct sample| (duplicate picks) and a
    ragged sample (NaN padding must count a missing term as 0, zip's
    truncation)."""
    from logshipper_spark.datapipe import similarity

    pts = [
        [((i * 2654435761 + j * 40503) % 1000) / 250.0 - 2.0 for j in range(16)]
        for i in range(400)
    ]
    # planted exact ties: two copies of one point, and a point pair
    # symmetric around the first seed
    pts[7] = list(pts[3])
    for k in (2, 16, 100, 450):
        assert similarity._maximin_seeds(pts, k) == _py_maximin(pts, k)
    ragged = [p[: 8 + (i % 5)] for i, p in enumerate(pts[:50])]
    assert similarity._maximin_seeds(ragged, 8) == _py_maximin(ragged, 8)


def test_kmeans_assign_matches_python_reference(spark):
    """Lloyd's assignment kernel (``_nearest_centroid_col``) assigns
    every row to the reference's nearest cell — including ragged
    vectors and NULL elements (counted as 0)."""
    from logshipper_spark.datapipe import similarity

    rows = [
        (i, [((i * 37 + j * 13) % 200) / 50.0 - 2.0 for j in range(12)])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = df.select(F.col("embedding").alias("_v")).unionByName(
        spark.createDataFrame(
            [([0.3] * 5,), ([None] + [0.1] * 11,)], "_v array<double>"
        )
    )
    cents = similarity.kmeans_fit(df, num_cells=40, dim=12, max_iter=1)
    assert len(cents) == 40
    got = base.select(
        similarity._nearest_centroid_col("_v", cents).alias("cell"), "_v"
    ).collect()
    assert len(got) == 302
    for r in got:
        assert r["cell"] == _py_nearest(r["_v"], cents)[1], r["_v"]


def test_knn_join_hot_cell_salt_parity(spark, tmp_path):
    """Hot-cell drill for the batch ANN joins (r3 verdict watch-item):
    ~90% of the corpus lands in ONE IVF cell; the explicit two-sided
    salt must return the IDENTICAL result set as the unsalted join
    (every candidate×probe pair meets exactly once per lane layout) —
    the edge_agg hot-edge parity pattern."""
    from logshipper_spark.datapipe import similarity

    rows = []
    for i in range(400):  # hot cluster: tight around one corner
        rows.append(
            (i, [1.0 + ((i * 13 + j) % 7) * 0.01 for j in range(8)])
        )
    for i in range(400, 440):  # scattered remainder
        rows.append(
            (i, [((i * 31 + j * 17) % 40) / 10.0 - 2.0 for j in range(8)])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "hot_ivf")
    similarity.write_ivf_index(df, idx, num_cells=8, dim=8)
    # the hot cluster really is one cell
    top = (
        similarity.assign_cells(df, num_cells=8, dim=8)
        .groupBy("cell").count().orderBy(F.desc("count")).head()
    )
    assert top["count"] >= 400
    queries = df.filter("vec_id % 50 = 0")

    def rows_of(sdf):
        return sorted(
            (r["query_id"], r["vec_id"], r["cosine"]) for r in sdf.collect()
        )

    plain = rows_of(similarity.ivf_knn_join(
        spark, idx, queries, k=5, num_cells=8, n_probe=2, dim=8))
    salted = rows_of(similarity.ivf_knn_join(
        spark, idx, queries, k=5, num_cells=8, n_probe=2, dim=8, salt=4))
    release_held()
    assert plain == salted and len(plain) == queries.count() * 5

    # same drill through the IVF-PQ composed join
    cents = similarity.kmeans_fit(df, num_cells=4, dim=8, max_iter=2)
    books = similarity.pq_fit(df, m=2, codes_per_sub=4, dim=8, max_iter=2)
    pq_idx = str(tmp_path / "hot_ivfpq")
    similarity.write_ivf_pq(df, pq_idx, cents, books)

    def pq_rows(sdf):
        return sorted(
            (r["query_id"], r["vec_id"], r["adc_micros"]) for r in sdf.collect()
        )

    p1 = pq_rows(similarity.ivf_pq_knn_join(
        spark, pq_idx, queries, k=5, n_probe=2))
    p2 = pq_rows(similarity.ivf_pq_knn_join(
        spark, pq_idx, queries, k=5, n_probe=2, salt=4))
    release_held()
    assert p1 == p2 and len(p1) == queries.count() * 5


def test_pq_fit_batched_matches_sequential(spark):
    """pq_fit's one-scan-per-iteration batching (r3 verdict nit #2) is
    bit-identical to m independent kmeans_fit runs over the subspace
    slices — with and without the sample_mod hash slice (whose row
    membership is per-SLICE hash and differs between subspaces)."""
    from logshipper_spark.datapipe import similarity

    rows = [
        (i, [((i * 101 + j * 31) % 400) / 100.0 - 2.0 for j in range(10)])
        for i in range(250)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def sequential(m, codes, sample_mod):
        books = []
        for st, w in similarity.subspace_bounds(10, m):
            book = similarity.kmeans_fit(
                df.select(F.slice(F.col("embedding"), st, w).alias("_sub")),
                num_cells=codes, vec_col="_sub", dim=w,
                max_iter=3, sample_mod=sample_mod,
            )
            books.append(book)
        return books

    # the batched update divides the decimal sums on the driver while
    # kmeans_fit's goes through group_centroids in Spark — the
    # cross-parity proof that both means round identically
    for m, codes, sm in ((3, 4, None), (4, 6, 3), (4, 16, None)):
        got = similarity.pq_fit(
            df, m=m, codes_per_sub=codes, dim=10, max_iter=3, sample_mod=sm
        )
        assert got == sequential(m, codes, sm)


# ── product quantization (round 3) ──
def test_subspace_bounds():
    assert similarity.subspace_bounds(64, 4) == [(1, 16), (17, 16), (33, 16), (49, 16)]
    # remainder spread over the LEADING subspaces, widths differ by <= 1
    assert similarity.subspace_bounds(10, 3) == [(1, 4), (5, 3), (8, 3)]
    assert similarity.subspace_bounds(3, 3) == [(1, 1), (2, 1), (3, 1)]
    with pytest.raises(ValueError):
        similarity.subspace_bounds(3, 4)
    with pytest.raises(ValueError):
        similarity.subspace_bounds(3, 0)


def test_pq_clustered_recovers_exact(spark, tmp_path):
    """On cluster-structured data (PQ's actual use case) the ADC scan +
    exact rerank recovers the brute-force top-k exactly: each subspace
    codebook learns the per-cluster subvectors, so reconstructions are
    near-lossless and candidate selection keeps the true neighbors."""
    base = {0: [9.0, 9.0, 0.0, 0.0, 0.0, 0.0],
            1: [0.0, 0.0, 9.0, 9.0, 0.0, 0.0],
            2: [0.0, 0.0, 0.0, 0.0, 9.0, 9.0]}
    rows = []
    for i in range(60):
        c = i % 3
        bump = [((i * 11 + j) % 7) * 0.5 for j in range(6)]
        rows.append((i, [base[c][j] + bump[j] for j in range(6)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = similarity.pq_fit(df, m=3, codes_per_sub=4, dim=6, max_iter=4)
    assert len(books) == 3 and all(len(b) == 4 for b in books)
    assert all(len(c) == 2 for b in books for c in b)
    path = str(tmp_path / "pq")
    similarity.write_pq_index(df, path, books)
    q = [float(x) for x in rows[0][1]]  # a member vector: exact self-match
    got = similarity.pq_topk(spark, path, q, k=5, rerank_df=df).collect()
    brute = similarity.cosine_topk(df, q, k=5).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in brute]
    assert got[0]["vec_id"] == 0 and got[0]["cosine_r"] == pytest.approx(1.0)
    assert all(r["vec_id"] % 3 == 0 for r in got)  # the query's cluster
    # ADC-only path: every top candidate is from the query's cluster too
    adc = similarity.pq_topk(spark, path, q, k=5).collect()
    assert [r["vec_id"] % 3 for r in adc] == [0] * 5
    assert adc == sorted(adc, key=lambda r: (-r["adc_micros"], r["vec_id"]))


def test_pq_determinism_and_codes(spark, embs, tmp_path):
    """Real (unclustered) embeddings: fit → write → query is fully
    deterministic across evaluations, the rerank path puts the query's
    own vector at top-1 cosine 1.0, and codes stay in range."""
    emb = embs.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qv = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    b1 = similarity.pq_fit(emb, m=4, codes_per_sub=8, dim=64, max_iter=2)
    b2 = similarity.pq_fit(emb, m=4, codes_per_sub=8, dim=64, max_iter=2)
    assert b1 == b2
    path = str(tmp_path / "pq")
    similarity.write_pq_index(emb, path, b1)
    r1 = similarity.pq_topk(spark, path, qv, k=5, rerank_df=emb, rerank=8).collect()
    r2 = similarity.pq_topk(spark, path, qv, k=5, rerank_df=emb, rerank=8).collect()
    assert [r.asDict() for r in r1] == [r.asDict() for r in r2]
    assert r1[0]["vec_id"] == 0 and r1[0]["cosine_r"] == pytest.approx(1.0, abs=1e-4)
    codes = spark.read.parquet(path)
    stats = codes.select(
        F.max(F.array_max("codes")).alias("mx"),
        F.min(F.array_min("codes")).alias("mn"),
        F.min(F.size("codes")).alias("szmin"),
        F.max(F.size("codes")).alias("szmax"),
    ).head()
    assert 0 <= stats["mn"] and stats["mx"] <= 7
    assert stats["szmin"] == stats["szmax"] == 4


def test_ivf_pq_composed_pruning(spark, tmp_path):
    """IVF×PQ: trained-cell directory pruning composes with the ADC
    code scan — probing ONE cell recovers the query's whole cluster in
    brute-force order, the scan carries the cell PartitionFilter, and
    its ReadSchema holds only (id, codes)."""
    base = {0: [9.0, 9.0, 0.0, 0.0, 0.0, 0.0],
            1: [0.0, 0.0, 9.0, 9.0, 0.0, 0.0],
            2: [0.0, 0.0, 0.0, 0.0, 9.0, 9.0]}
    rows = []
    for i in range(60):
        c = i % 3
        bump = [((i * 11 + j) % 7) * 0.5 for j in range(6)]
        rows.append((i, [base[c][j] + bump[j] for j in range(6)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.kmeans_fit(df, num_cells=3, dim=6, max_iter=4)
    books = similarity.pq_fit(df, m=3, codes_per_sub=4, dim=6, max_iter=4)
    path = str(tmp_path / "ivfpq")
    similarity.write_ivf_pq(df, path, cents, books)
    q = [float(x) for x in rows[0][1]]
    out = similarity.ivf_pq_topk(
        spark, path, q, k=5, n_probe=1, rerank_df=df
    )
    got = out.collect()
    brute = similarity.cosine_topk(df, q, k=5).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in brute]
    assert all(r["vec_id"] % 3 == 0 for r in got)
    plan = plan_string(out)
    assert "PartitionFilters" in plan and "cell" in plan
    assert "ReadSchema: struct<vec_id:bigint,codes:array<int>>" in plan
    # determinism across evaluations
    got2 = similarity.ivf_pq_topk(
        spark, path, q, k=5, n_probe=1, rerank_df=df
    ).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in got2]


def test_ivf_pq_knn_join_self_top1(spark, embs, tmp_path):
    """Batch IVF-PQ join: every query's own vector is ADC top-1 and
    exact-rerank top-1 at cosine 1.0; the pruned code scan carries the
    union of all queries' probe cells as a PartitionFilter; NULL query
    vectors are dropped."""
    emb = embs.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = similarity.kmeans_fit(emb, num_cells=8, dim=64, max_iter=2)
    books = similarity.pq_fit(emb, m=4, codes_per_sub=8, dim=64, max_iter=2)
    path = str(tmp_path / "ivfpq")
    similarity.write_ivf_pq(emb, path, cents, books)
    nulls = spark.createDataFrame(
        [(999999, None)], "vec_id long, embedding array<double>"
    )
    q = emb.filter("vec_id < 6").unionByName(nulls)
    out = similarity.ivf_pq_knn_join(
        spark, path, q, k=3, n_probe=3, rerank_df=emb, rerank=8
    )
    rows = out.collect()
    plan = plan_string(out)
    release_held()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["cosine_r"], r["vec_id"]))
    assert set(by_q) == set(range(6))  # NULL query dropped
    for qid, cands in by_q.items():
        top = max(cands)
        assert top[1] == qid and top[0] == 1.0
        assert len(cands) <= 3
    assert "PartitionFilters" in plan and "cell" in plan
    assert "ReadSchema: struct<vec_id:bigint,codes:array<int>>" in plan


def test_pq_fit_empty_and_bad_books(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert similarity.pq_fit(df, m=2, codes_per_sub=4, dim=6) == []
    with pytest.raises(ValueError):
        similarity.pq_codes(df, [])


# ── Gopher/C4 repetition filters + PII scrubbing (filters.py) ──


def test_repetition_stats_hand_computed(spark):
    from logshipper_spark.datapipe import filters

    rows = [
        # "a b a b a b": bigrams [a b, b a, a b, b a, a b] → top=3 (a b),
        # dup=5 (both bigrams repeat); trigrams [a b a, b a b, a b a,
        # b a b] → top=2, dup=4
        (0, "a b a b a b"),
        # all-distinct bigrams/trigrams, long enough that a top
        # fraction of 1/n clears the percentage gates
        (1, "the quick brown fox jumps over one lazy dog tonight"),
        # too short for trigrams, single bigram
        (2, "hi there"),
        # empty text
        (3, "   "),
        # numeric words → alpha_words = 0
        (4, "12 34 56 78 90 11"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in filters.repetition_stats(df).collect()
    }

    r0 = got[0]
    assert (r0["n_tokens"], r0["n_bigrams"], r0["top_bigram"], r0["dup_bigram"]) == (
        6, 5, 3, 5,
    )
    assert (r0["n_trigrams"], r0["top_trigram"], r0["dup_trigram"]) == (4, 2, 4)
    assert not r0["rep_keep"]  # top bigram 3/5 = 60% > 20%

    r1 = got[1]
    assert (r1["n_bigrams"], r1["top_bigram"], r1["dup_bigram"]) == (9, 1, 0)
    assert r1["rep_keep"]  # 10 tokens, mean len ~4, all alpha, no repeats

    r2 = got[2]
    assert (r2["n_tokens"], r2["n_bigrams"], r2["n_trigrams"]) == (2, 1, 0)
    assert not r2["rep_keep"]  # below MIN_WORDS

    r3 = got[3]
    assert (r3["n_tokens"], r3["n_bigrams"], r3["top_bigram"]) == (0, 0, 0)
    assert not r3["rep_keep"]

    r4 = got[4]
    assert r4["alpha_words"] == 0 and not r4["rep_keep"]


def test_pii_scrub(spark):
    from logshipper_spark.datapipe import filters

    rows = [
        (0, "mail bob.smith+x@corp.example.org now"),
        (1, "ssn 123-45-6789 phone 555-123-4567 ip 10.0.255.7"),
        (2, "two mails a@b.io c@d.co and 192.168.0.1"),
        (3, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in filters.pii_scrub(df).collect()}

    assert got[0]["n_email"] == 1
    assert got[0]["scrubbed"] == "mail <EMAIL> now"
    assert (got[1]["n_ssn"], got[1]["n_phone"], got[1]["n_ipv4"]) == (1, 1, 1)
    assert got[1]["scrubbed"] == "ssn <SSN> phone <PHONE> ip <IP>"
    assert got[2]["n_email"] == 2 and got[2]["n_ipv4"] == 1
    assert got[2]["scrubbed"] == "two mails <EMAIL> <EMAIL> and <IP>"
    assert got[3]["scrubbed"] == rows[3][1]
    assert (
        got[3]["n_email"], got[3]["n_ssn"], got[3]["n_phone"], got[3]["n_ipv4"]
    ) == (0, 0, 0, 0)


# ── deterministic sampling / splitting (sampling.py) ──


def test_bernoulli_sample_deterministic_and_banded(spark):
    from logshipper_spark.datapipe import sampling

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    assert sampling.bernoulli_sample(df, 0.0).count() == 0
    assert sampling.bernoulli_sample(df, 1.0).count() == 1000
    a = sampling.bernoulli_sample(df, 0.5).collect()
    b = sampling.bernoulli_sample(df, 0.5).collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    assert 400 <= len(a) <= 600  # hash uniformity at n=1000
    # different seed → different (still banded) sample
    c = sampling.bernoulli_sample(df, 0.5, seed=9).collect()
    assert sorted(r["doc_id"] for r in c) != sorted(r["doc_id"] for r in a)
    with pytest.raises(ValueError):
        sampling.bernoulli_sample(df, 1.5)


def test_train_val_test_split_exhaustive_disjoint(spark):
    from logshipper_spark.datapipe import sampling

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    out = sampling.train_val_test_split(
        df, {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000  # exhaustive
    assert set(counts) == {"train", "val", "test"}  # all splits hit
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    assert 1400 <= counts["train"] <= 1800
    with pytest.raises(ValueError):
        sampling.train_val_test_split(df, {"a": 0.5, "b": 0.4})


def test_topk_per_group_matches_single_window(spark):
    from pyspark.sql import Window

    from logshipper_spark.datapipe import sampling

    df = spark.range(500).selectExpr(
        "id AS doc_id", "'s' || CAST(id % 7 AS STRING) AS source"
    )
    got = sampling.topk_per_group(
        df, ["source"], k=5, salt_buckets=8
    ).collect()
    # ground truth: the plain single-window formulation
    w = Window.partitionBy("source").orderBy(
        sampling.rank_key(F.col("doc_id"))
    )
    want = (
        df.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 5")
        .collect()
    )
    assert sorted((r["source"], r["doc_id"]) for r in got) == sorted(
        (r["source"], r["doc_id"]) for r in want
    )
    per = {}
    for r in got:
        per[r["source"]] = per.get(r["source"], 0) + 1
    assert all(v == 5 for v in per.values())
    # one salt bucket per group: the phase-1 cut alone decides, so it
    # must keep exactly k rows (with 8 buckets a top k rarely shares one)
    one = sampling.topk_per_group(df, ["source"], k=5, salt_buckets=1)
    assert sorted((r["source"], r["doc_id"]) for r in one.collect()) == sorted(
        (r["source"], r["doc_id"]) for r in want
    )
    # group smaller than k → whole group kept
    small = df.filter("doc_id < 3")
    assert sampling.topk_per_group(small, ["source"], k=5).count() == 3


def test_token_budget_head_hand_case_and_blocks(spark):
    from logshipper_spark.datapipe import sampling

    rows = [
        (1, "g1", "a b c"),        # 3 tokens, cum 3
        (2, "g1", "a b c d"),      # 4 tokens, cum 7
        (3, "g1", "a b c d e"),    # 5 tokens, cum 12
        (10, "g2", "x"),           # 1 token, cum 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = sampling.token_budget_head(df, budget=8, block_size=2)
    res = {(r["source"], r["doc_id"]): r["cum_tokens"] for r in got.collect()}
    assert res == {("g1", 1): 3, ("g1", 2): 7, ("g2", 10): 1}
    # budget below the first doc → group contributes nothing
    assert sampling.token_budget_head(df, budget=0).count() == 0
    # block decomposition invariant: any block_size gives the same rows
    big = sampling.token_budget_head(df, budget=8, block_size=4096)
    assert sorted(r["doc_id"] for r in big.collect()) == [1, 2, 10]


def test_mixture_rates_binding_domain_keeps_all():
    from logshipper_spark.datapipe import sampling

    # web-heavy corpus, target 50/25/25: code is the binding domain
    # (25% share from only 100 docs → T=400), so code keeps 100%
    rates = sampling.mixture_rates(
        {"web": 1000, "code": 100, "wiki": 300},
        {"web": 0.5, "code": 0.25, "wiki": 0.25},
    )
    assert rates["code"] == 1.0
    assert abs(rates["web"] - 0.2) < 1e-12    # 200 of 1000
    assert abs(rates["wiki"] - 1 / 3) < 1e-12  # 100 of 300
    # already at target → keep everything
    rates = sampling.mixture_rates(
        {"a": 300, "b": 100}, {"a": 0.75, "b": 0.25}
    )
    assert rates == {"a": 1.0, "b": 1.0}
    # zero-target domain dropped entirely
    rates = sampling.mixture_rates({"a": 10, "b": 10}, {"a": 1.0, "b": 0.0})
    assert rates["a"] == 1.0 and rates["b"] == 0.0
    with pytest.raises(ValueError):
        sampling.mixture_rates({"a": 10}, {"b": 1.0})


def test_temperature_targets_hand_cases():
    import math

    from logshipper_spark.datapipe import sampling

    counts = {"a": 900, "b": 100}
    # T=1: natural mixture — composing with mixture_rates keeps all
    t1 = sampling.temperature_targets(counts, 1.0)
    assert abs(t1["a"] - 0.9) < 1e-12 and abs(t1["b"] - 0.1) < 1e-12
    assert sampling.mixture_rates(counts, t1) == {"a": 1.0, "b": 1.0}
    # T=2: shares ∝ sqrt(0.9), sqrt(0.1) = 0.75 / 0.25 exactly
    t2 = sampling.temperature_targets(counts, 2.0)
    assert abs(t2["a"] - 0.75) < 1e-12 and abs(t2["b"] - 0.25) < 1e-12
    r2 = sampling.mixture_rates(counts, t2)
    # binding domain is the upweighted small one: b keeps 100%,
    # a downsamples to 300 of 900 (T_out = 100/0.25 = 400)
    assert r2["b"] == 1.0 and abs(r2["a"] - 1 / 3) < 1e-12
    # T→∞: approaches uniform
    tinf = sampling.temperature_targets(counts, 1e9)
    assert abs(tinf["a"] - 0.5) < 1e-6 and abs(tinf["b"] - 0.5) < 1e-6
    # T<1 sharpens toward the big domain
    thalf = sampling.temperature_targets(counts, 0.5)
    assert thalf["a"] > 0.9 and math.isclose(sum(thalf.values()), 1.0)
    with pytest.raises(ValueError):
        sampling.temperature_targets(counts, 0.0)
    with pytest.raises(ValueError):
        sampling.temperature_targets({"a": 0}, 1.0)


def test_mixture_sample_deterministic_per_domain(spark):
    from logshipper_spark.datapipe import sampling

    df = spark.range(2000).selectExpr(
        "id AS doc_id", "CASE WHEN id % 2 = 0 THEN 'web' ELSE 'code' END AS source"
    )
    out = sampling.mixture_sample(df, {"web": 0.2, "code": 1.0}).collect()
    per = {}
    for r in out:
        per[r["source"]] = per.get(r["source"], 0) + 1
    assert per["code"] == 1000          # rate 1.0 keeps everything
    assert 130 <= per["web"] <= 270     # ~200 at hash uniformity
    # absent domain → dropped
    only = sampling.mixture_sample(df, {"code": 1.0}).collect()
    assert all(r["source"] == "code" for r in only) and len(only) == 1000
    # same hash stream as bernoulli_sample at the same seed
    bern = {r["doc_id"] for r in
            sampling.bernoulli_sample(df, 0.2).collect()}
    mixw = {r["doc_id"] for r in out if r["source"] == "web"}
    assert mixw == {i for i in bern if i % 2 == 0}
    with pytest.raises(ValueError):
        sampling.mixture_sample(df, {"web": 1.5})
    with pytest.raises(ValueError):
        sampling.mixture_sample(df, {})


# ── benchmark decontamination (decontam.py) ──


def test_decontaminate_property(spark):
    """Property test (hypothesis, derandomized): for generated corpora
    over a tiny word alphabet (heavy gram collisions by construction),
    NULL/empty texts, n, and min_overlap, the verdict table must equal
    a pure-Python reference: n_overlap = |distinct doc n-grams ∩
    distinct benchmark n-grams| on lowercased whitespace tokens, every
    document present in the output."""
    from hypothesis import given, settings, strategies as st

    from logshipper_spark.datapipe import decontam

    word_st = st.sampled_from(["a", "b", "ab", "C"])
    text_st = st.one_of(
        st.none(),
        st.just(""),
        st.lists(word_st, min_size=0, max_size=6).map(" ".join),
    )

    def grams(text, n):
        toks = (text or "").strip().lower().split()
        if not (text or "").strip():
            toks = []
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    @settings(max_examples=10, deadline=None, derandomize=True)
    @given(
        doc_texts=st.lists(text_st, min_size=1, max_size=8),
        bench_texts=st.lists(text_st, min_size=1, max_size=3),
        n=st.integers(min_value=1, max_value=3),
        min_overlap=st.integers(min_value=1, max_value=2),
    )
    def check(doc_texts, bench_texts, n, min_overlap):
        docs = spark.createDataFrame(
            list(enumerate(doc_texts)), "doc_id long, text string"
        )
        bench = spark.createDataFrame(
            [(100 + i, t) for i, t in enumerate(bench_texts)],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["n_overlap"], r["contaminated"])
            for r in decontam.decontaminate(
                docs, bench, n=n, min_overlap=min_overlap
            ).collect()
        }
        bench_grams = set().union(*(grams(t, n) for t in bench_texts))
        want = {}
        for i, t in enumerate(doc_texts):
            k = len(grams(t, n) & bench_grams)
            want[i] = (k, k >= min_overlap)
        assert got == want

    check()


def test_decontaminate_exact_overlap(spark):
    """Overlap = count of DISTINCT benchmark n-grams in the doc; docs
    below n tokens can never be contaminated; repeats in either the
    doc or the benchmark don't inflate the count."""
    from logshipper_spark.datapipe import decontam

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        ["doc_id", "text"],
    )  # 5-grams: {a b g d e, b g d e z}
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta"),  # both grams
            (1, "x alpha beta gamma delta epsilon y"),       # first gram only
            (2, "totally different words here now okay"),    # none
            (3, "alpha beta gamma delta"),                   # < 5 tokens
            (4, "alpha beta gamma delta epsilon alpha beta gamma delta epsilon"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: (r["n_overlap"], r["contaminated"])
           for r in decontam.decontaminate(docs, bench, n=5).collect()}
    assert got == {
        0: (2, True),
        1: (1, True),
        2: (0, False),
        3: (0, False),
        4: (1, True),  # repeated gram counted once (distinct per doc)
    }
    # min_overlap raises the bar
    strict = {r["doc_id"] for r in
              decontam.decontaminate(docs, bench, n=5, min_overlap=2)
              .filter("contaminated").collect()}
    assert strict == {0}
    # case-insensitive match
    up = spark.createDataFrame(
        [(9, "ALPHA BETA GAMMA DELTA EPSILON")], ["doc_id", "text"]
    )
    assert decontam.decontaminate(up, bench, n=5).filter(
        "contaminated").count() == 1


def test_c4_line_clean(spark):
    """Line verdicts: terminal punctuation + ≥3 words + no boilerplate
    marker; doc verdicts: ≥1 kept line, no braces, no lorem ipsum."""
    from logshipper_spark.datapipe import filters

    docs = spark.createDataFrame(
        [
            (0, "A fine first sentence.\ntiny.\nJavaScript must be enabled.\n"
                "Another keeper ends with a bang!"),
            (1, "no terminal punctuation here at all\nalso not here"),
            (2, "This mentions lorem ipsum dolor sit amet.\nGood line here."),
            (3, "function f() { return 1; } is code.\nFine sentence here."),
            (4, "We value your privacy policy greatly.\nShort.\nOk line here."),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r.asDict()
           for r in filters.c4_line_clean(docs).collect()}
    assert got[0]["clean_text"] == (
        "A fine first sentence.\nAnother keeper ends with a bang!"
    )
    assert (got[0]["n_lines"], got[0]["n_kept_lines"], got[0]["c4_keep"]) == (
        4, 2, True
    )
    assert got[1]["n_kept_lines"] == 0 and not got[1]["c4_keep"]
    # lorem ipsum anywhere kills the doc even with kept lines
    assert got[2]["n_kept_lines"] == 2 and not got[2]["c4_keep"]
    # braces (code) kill the doc
    assert not got[3]["c4_keep"] and got[3]["n_kept_lines"] == 2
    # 'privacy policy' marker drops its line; 'Short.' fails word count
    assert got[4]["clean_text"] == "Ok line here." and got[4]["c4_keep"]


def test_html_extract(spark):
    """Block removal (script/style/comment content), tag stripping,
    single-level entity decode, whitespace collapse, and the
    link-density verdict."""
    from logshipper_spark.datapipe import filters

    docs = spark.createDataFrame(
        [
            (0, '<html><head><script>if (a<b) { alert("x"); }</script>'
                "<style>p { color: red }</style></head>"
                "<body><!-- hidden --><p>Hello  world.</p></body></html>"),
            (1, "plain text with no markup at all"),
            (2, "Fish &amp; chips &lt;now&gt; &amp;lt;later&amp;gt; "
                "&#39;q&#39;&nbsp;&quot;z&quot;"),
            (3, '<div><a href="/a">click <b>here</b> now</a> tail</div>'),
            (4, '<nav><a href="/1">one two three four five six seven'
                "</a></nav>ok"),
            (5, "<p></p><br/><!-- only tags -->"),
            (6, "<SCRIPT>var y=2;</SCRIPT>Case insensitive survives."),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r.asDict()
           for r in filters.html_extract(docs).collect()}
    # script body (with braces, quotes, and a '<' inside), style body,
    # and comment all removed; text whitespace-collapsed
    assert got[0]["extracted_text"] == "Hello world."
    assert got[0]["html_keep"] and got[0]["n_anchors"] == 0
    # plain text passes through
    assert got[1]["extracted_text"] == "plain text with no markup at all"
    assert got[1]["n_tags"] == 0 and got[1]["html_keep"]
    # single-level decode: '&amp;lt;' -> '&lt;' (never '<')
    assert got[2]["extracted_text"] == "Fish & chips <now> &lt;later&gt; 'q' \"z\""
    # anchor text is tag-stripped and whitespace-collapsed for the count
    assert got[3]["n_anchors"] == 1
    assert got[3]["anchor_chars"] == len("click here now")
    assert got[3]["extracted_text"] == "click here now tail"
    # link-farm page: anchor chars dominate -> screened out
    assert not got[4]["html_keep"] and got[4]["n_anchors"] == 1
    # tag-only page extracts to empty -> screened out
    assert got[5]["extracted_text"] == "" and not got[5]["html_keep"]
    # (?i) on the block patterns
    assert got[6]["extracted_text"] == "Case insensitive survives."


def test_epoch_shards(spark):
    """Each epoch is a deterministic global order; different epochs
    are decorrelated; bytes are conserved within every epoch."""
    from logshipper_spark.datapipe import packing

    docs = spark.createDataFrame(
        [(i, "word " * (5 + i % 7)) for i in range(60)],
        "doc_id long, text string",
    )
    e0 = {r["doc_id"]: (r["cum_bytes"], r["shard"])
          for r in packing.epoch_shards(docs, 0, 200, block_size=8).collect()}
    e0b = {r["doc_id"]: (r["cum_bytes"], r["shard"])
           for r in packing.epoch_shards(docs, 0, 200, block_size=8).collect()}
    e1 = {r["doc_id"]: (r["cum_bytes"], r["shard"])
          for r in packing.epoch_shards(docs, 1, 200, block_size=8).collect()}
    assert e0 == e0b  # reproducible
    assert e0 != e1   # epochs decorrelated (orders differ)
    # byte conservation: the max cum equals total bytes in both epochs
    total = sum(len("word " * (5 + i % 7)).__int__() for i in range(60))
    assert max(c for c, _ in e0.values()) == total
    assert max(c for c, _ in e1.values()) == total


def test_hard_negatives(spark, tmp_path):
    """Self and labeled positives are excluded; survivors rank by
    cosine. n_probe = num_cells makes the probe exhaustive, so the
    expected order is exact."""
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.01, 0.0, 0.0]),   # labeled positive of anchor 0
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.5, 0.5, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),
        (5, [-1.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "hnidx")
    similarity.write_ivf_index(emb, idx, num_cells=2, dim=4)
    queries = emb.filter("vec_id = 0")
    positives = spark.createDataFrame([(0, 1)], "query_id long, vec_id long")
    got = similarity.hard_negatives(
        spark, idx, queries, positives, k=3, num_cells=2, n_probe=2, dim=4
    ).orderBy("neg_rank").collect()
    assert [(r["vec_id"], r["neg_rank"]) for r in got] == [(2, 1), (3, 2), (4, 3)]
    assert got[0]["cosine"] > got[1]["cosine"] > got[2]["cosine"]
    # with exclude_self off and no positives, the anchor is its own
    # top hit at cosine 1
    raw = similarity.hard_negatives(
        spark, idx, queries, positives.limit(0), k=2,
        num_cells=2, n_probe=2, dim=4, exclude_self=False,
    ).orderBy("neg_rank").collect()
    assert raw[0]["vec_id"] == 0 and raw[0]["cosine"] == 1.0
    release_held()


def test_sft_examples_and_pack_masked(spark):
    """Loss-masked SFT examples (BOS+prompt masked 0, response+EOS
    masked 1) packed into fixed-budget chunks with the mask staying
    aligned across chunk boundaries."""
    from logshipper_spark.datapipe import packing

    vocab = spark.createDataFrame(
        [("hello", 3), ("world", 4), ("hi", 5), ("there", 6), ("yes", 7)],
        "token string, token_id long",
    )
    pairs = spark.createDataFrame(
        [(1, "hello world", "hi there"), (2, "", "yes")],
        "pair_id long, prompt string, response string",
    )
    ex = packing.sft_examples(pairs, vocab)
    got = {r["pair_id"]: r.asDict() for r in ex.collect()}
    assert got[1]["ids"] == [1, 3, 4, 5, 6, 2]
    assert got[1]["mask"] == [0, 0, 0, 1, 1, 1]
    assert (got[1]["n_tokens"], got[1]["n_loss_tokens"]) == (6, 3)
    # empty prompt: only BOS is maskless
    assert got[2]["ids"] == [1, 7, 2] and got[2]["mask"] == [0, 1, 1]

    packed = {
        r["chunk_id"]: r.asDict()
        for r in packing.pack_masked(ex, budget=4, block_size=2).collect()
    }
    # stream = ex1 (6 tokens) ++ ex2 (3 tokens), cut every 4
    assert packed[0]["input_ids"] == [1, 3, 4, 5]
    assert packed[0]["loss_mask"] == [0, 0, 0, 1]
    # ex1's tail and ex2's head share chunk 1 — masks ride the split
    assert packed[1]["input_ids"] == [6, 2, 1, 7]
    assert packed[1]["loss_mask"] == [1, 1, 0, 1]
    assert packed[2]["input_ids"] == [2] and packed[2]["loss_mask"] == [1]
    assert [packed[c]["n_loss_tokens"] for c in (0, 1, 2)] == [1, 3, 1]

    # misaligned ids/mask must abort, not silently null-pad
    bad = ex.withColumn("mask", F.slice("mask", 1, 2))
    with pytest.raises(Exception, match="length mismatch"):
        packing.pack_masked(bad, budget=4).collect()

    # NULL arrays abort with their OWN message (size(NULL)=NULL would
    # otherwise fall into the mismatch branch and mislead)
    nul = ex.withColumn(
        "mask", F.when(F.col("pair_id") == 0, F.col("mask"))
    )
    with pytest.raises(Exception, match="NULL ids/mask"):
        packing.pack_masked(nul, budget=4).collect()


def test_decontaminate_streaming_foreachbatch(spark, tmp_path):
    """decontaminate() composes with Structured Streaming the way a
    continuous-ingest curation pipeline runs it: per micro-batch via
    foreachBatch (the per-doc overlap count is a batch-local verdict,
    so no streaming-state aggregation is wanted), joining each batch
    against the static benchmark gram set."""
    from logshipper_spark.datapipe import decontam

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    schema = "doc_id long, text string"
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta"),
            (1, "nothing shared with the benchmark here"),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(input_dir)

    def _sink(batch, batch_id):
        decontam.decontaminate(batch, bench, n=5).write.mode(
            "append"
        ).parquet(out_dir)

    q = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in spark.read.schema(
            "doc_id long, n_overlap long, contaminated boolean"
        ).parquet(out_dir).collect()
    }
    assert got == {0: (2, True), 1: (0, False)}


# ── sequence packing (packing.py) ──


def test_pack_chunks_hand_layout(spark):
    """Exact chunk layout for a hand-worked stream: group g packs
    4+5+8 tokens into budget-10 chunks; doc 2 spans the boundary."""
    from logshipper_spark.datapipe import packing

    df = spark.createDataFrame(
        [
            ("g", 0, "a b c d"),
            ("g", 1, "a b c d e"),
            ("g", 2, "a b c d e f g h"),
            ("g", 3, "   "),  # zero tokens → no rows
            ("h", 7, "x y z"),
        ],
        "source string, doc_id long, text string",
    )
    rows = {
        (r["source"], r["chunk_id"], r["doc_id"]): (
            r["doc_begin"], r["doc_end"], r["chunk_pos"]
        )
        for r in packing.pack_chunks(df, budget=10, block_size=2).collect()
    }
    assert rows == {
        ("g", 0, 0): (0, 4, 0),
        ("g", 0, 1): (0, 5, 4),
        ("g", 0, 2): (0, 1, 9),   # first token fills chunk 0
        ("g", 1, 2): (1, 8, 0),   # remaining 7 tokens open chunk 1
        ("h", 0, 7): (0, 3, 0),
    }
    with pytest.raises(ValueError):
        packing.pack_chunks(df, budget=0)


def test_pack_chunks_fill_and_partition_properties(spark):
    """Every chunk except each group's last is exactly full; the chunk
    slices of each doc partition its token range [0, n_tokens); the
    block decomposition is invariant to block_size."""
    from logshipper_spark.datapipe import packing

    docs = spark.range(200).selectExpr(
        "concat('s', id % 3) AS source",
        "id AS doc_id",
        "trim(repeat('w ', CAST(id % 13 AS INT))) AS text",
    )
    packed = packing.pack_chunks(docs, budget=17, block_size=16).cache()
    stats = packing.chunk_stats(packed).collect()
    last = {}
    for r in stats:
        last[r["source"]] = max(last.get(r["source"], 0), r["chunk_id"])
    for r in stats:
        if r["chunk_id"] < last[r["source"]]:
            assert r["fill_tokens"] == 17, r
        else:
            assert 0 < r["fill_tokens"] <= 17, r
    per_doc = packed.groupBy("doc_id").agg(
        F.min("doc_begin").alias("b"),
        F.max("doc_end").alias("e"),
        F.sum(F.col("doc_end") - F.col("doc_begin")).alias("s"),
    ).collect()
    for r in per_doc:
        n = r["doc_id"] % 13
        assert (r["b"], r["e"], r["s"]) == (0, n, n), r
    # zero-token docs (id % 13 == 0) emit nothing
    assert packed.filter("doc_id % 13 = 0").count() == 0
    alt = packing.pack_chunks(docs, budget=17, block_size=4096)
    assert sorted(map(tuple, alt.collect())) == sorted(
        map(tuple, packed.collect())
    )
    packed.unpersist()


def test_pack_chunks_string_order_key_parity(spark):
    """Non-numeric order keys (conv_id strings, the transcript-dataprep
    path) lay out in (xxhash64(key), key) order via sampling.
    numeric_order; the block decomposition must equal a single-window
    running sum over that same order, block_size-invariantly."""
    from pyspark.sql import Window

    from logshipper_spark.datapipe import packing

    docs = spark.range(300).selectExpr(
        "id",
        "concat('s', id % 2) AS source",
        "concat('conv-', id) AS doc_id",
        "trim(repeat('w ', CAST(id % 11 AS INT))) AS text",
    )
    packed = packing.pack_chunks(
        docs.drop("id"), budget=13, block_size=8
    ).cache()
    # single-window reference over the documented (hash, key) order
    w = (
        Window.partitionBy("source")
        .orderBy(F.xxhash64("doc_id"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ref = (
        docs.withColumn("_tok", F.expr("CAST(id % 11 AS LONG)"))
        .filter("_tok > 0")
        .withColumn("_end", F.sum("_tok").over(w))
        .withColumn("_start", F.col("_end") - F.col("_tok"))
    )
    starts = {
        r["doc_id"]: r["_start"] for r in ref.collect()
    }
    got = {
        r["doc_id"]: r["chunk_id"] * 13 + r["chunk_pos"]
        for r in packed.filter("doc_begin = 0").collect()
    }
    assert got == starts
    alt = packing.pack_chunks(docs, budget=13, block_size=4096)
    assert sorted(map(tuple, alt.collect())) == sorted(
        map(tuple, packed.collect())
    )
    # no leaked internal columns
    assert set(packed.columns) == {
        "source", "chunk_id", "doc_id", "doc_begin", "doc_end", "chunk_pos"
    }
    packed.unpersist()


def test_shard_plan_string_order_key(spark):
    """shard_plan over string doc keys: exact running-sum parity with
    the single-window form on the (hash, key) order, and the shard id
    is bytes-before DIV target."""
    from pyspark.sql import Window

    from logshipper_spark.datapipe import packing

    docs = spark.range(150).selectExpr(
        "id",
        "concat('d-', id) AS doc_id",
        "repeat('x', CAST(id % 29 AS INT)) AS text",
    )
    plan = packing.shard_plan(docs.drop("id"), target_bytes=40, block_size=8)
    w = (
        Window.orderBy(F.xxhash64("doc_id"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ref = {
        r["doc_id"]: (r["c"], (r["c"] - r["n"]) // 40)
        for r in docs.withColumn("n", F.expr("CAST(id % 29 AS LONG)"))
        .withColumn("c", F.sum("n").over(w))
        .collect()
    }
    got = {
        r["doc_id"]: (r["cum_bytes"], r["shard"]) for r in plan.collect()
    }
    assert got == ref
    assert set(plan.columns) == {"doc_id", "n_bytes", "cum_bytes", "shard"}


def test_term_counts_exact(spark):
    from collections import Counter

    df = spark.createDataFrame(
        [
            (1, "apple banana apple Cherry cherry apple"),
            (2, "banana date date"),
            (3, ""),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_id, r.token): r.tf for r in textstats.term_counts(df).collect()}
    exp = {}
    for i, t in [(1, "apple banana apple cherry cherry apple"), (2, "banana date date")]:
        for tok, c in Counter(t.split()).items():
            exp[(i, tok)] = c
    assert got == exp


def test_tfidf_topk_hand_computed(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, "apple banana apple cherry cherry apple"),
            (2, "banana date date"),
            (3, "kiwi"),
        ],
        "doc_id long, text string",
    )
    out = {}
    for r in textstats.tfidf_topk(df, k=2).collect():
        out.setdefault(r.doc_id, {})[r.token] = (r.tf, r.score)

    def score(tf, dfc, n=3):
        return round(tf * (math.log((n + 1) / (dfc + 1)) + 1) + 1e-9, 4)

    # doc1: apple tf=3 df=1, cherry tf=2 df=1, banana tf=1 df=2 (cut at k=2)
    assert out[1] == {
        "apple": (3, score(3, 1)),
        "cherry": (2, score(2, 1)),
    }
    assert out[2]["date"] == (2, score(2, 1))
    assert out[3] == {"kiwi": (1, score(1, 1))}


def test_tfidf_tie_breaks_by_token(spark):
    # two tokens with identical tf and df in the same doc: the k=1
    # winner must be the lexicographically smaller one
    df = spark.createDataFrame(
        [(1, "zeta alpha"), (2, "other words")], "doc_id long, text string"
    )
    row = textstats.tfidf_topk(df, k=1).filter("doc_id = 1").first()
    assert row.token == "alpha"


def test_tfidf_n_docs_param_matches_derived(spark, docs):
    a = textstats.tfidf_topk(docs, k=2)
    b = textstats.tfidf_topk(docs, k=2, n_docs=docs.count())
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _bm25_reference(corpus, queries, k=10, k1=1.2, b=0.75, max_df_frac=None):
    """Pure-Python BM25 with the operator's exact quantization:
    per-term micros = floor(idf*norm*1e6 + 0.5), summed as ints."""
    import math

    toks = {d: t.lower().split() for d, t in corpus.items()}
    n = len(corpus)
    tot = sum(len(v) for v in toks.values())
    avgdl = tot / n if n else 1.0
    dfc = {}
    for ts in toks.values():
        for t in set(ts):
            dfc[t] = dfc.get(t, 0) + 1
    out = {}
    for qid, qtext in queries.items():
        scores = {}
        terms = {}
        for t in set(qtext.lower().split()):
            if t not in dfc:
                continue
            if max_df_frac is not None and dfc[t] > max_df_frac * n:
                continue
            idf = math.log(1.0 + (n - dfc[t] + 0.5) / (dfc[t] + 0.5))
            for d, ts in toks.items():
                tf = ts.count(t)
                if not tf:
                    continue
                norm = (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * (len(ts) / avgdl))
                )
                m = math.floor(idf * norm * 1e6 + 0.5)
                scores[d] = scores.get(d, 0) + m
                terms[d] = terms.get(d, 0) + 1
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[qid] = [
            (d, i + 1, m / 1e6, terms[d])
            for i, (d, m) in enumerate(ranked)
        ]
    return out


def test_bm25_matches_python_reference(spark):
    corpus = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the dog barks at the quick cat",
        3: "brown bears eat honey in the quiet forest",
        4: "fox and cat play in the forest near the dog",
        5: "completely unrelated text about spark shuffles",
        6: "",
    }
    queries = {10: "quick fox", 11: "forest honey", 12: "zzz-nohit"}
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    qdf = spark.createDataFrame(
        list(queries.items()), "query_id long, query string"
    )
    got = {}
    for r in textstats.bm25_topk(docs, qdf, k=3).collect():
        got.setdefault(r.query_id, []).append(
            (r.doc_id, r.rank, r.score, r.matched_terms)
        )
    release_held()
    for qid in got:
        got[qid].sort(key=lambda t: t[1])
    want = _bm25_reference(corpus, queries, k=3)
    assert got == {q: v for q, v in want.items() if v}
    assert 12 not in got  # no corpus hit → no rows


def test_bm25_salted_topk_equals_single_window(spark, docs):
    # queries derived from the corpus itself (first 5 tokens of a few
    # docs); salt_buckets=1 is the plain single-window plan — the
    # salted two-phase default must produce the identical relation
    qdf = textstats.prefix_queries(docs, mod=37, rem=3, n_tokens=5)
    a = textstats.bm25_topk(docs, qdf, k=5, salt_buckets=64)
    b = textstats.bm25_topk(docs, qdf, k=5, salt_buckets=1)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # structural invariants: contiguous ranks 1..n per query, scores
    # non-increasing in rank, every hit matched >= 1 term. (The source
    # doc need NOT rank #1 for its own prefix: the generator's docs
    # share templated prefixes and BM25's length normalization rightly
    # prefers shorter docs carrying the same terms.)
    rows = a.collect()
    release_held()
    assert rows and all(r.matched_terms >= 1 for r in rows)
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for qr in per_q.values():
        qr.sort(key=lambda r: r.rank)
        assert [r.rank for r in qr] == list(range(1, len(qr) + 1))
        assert len(qr) <= 5
        assert all(
            x.score >= y.score for x, y in zip(qr, qr[1:])
        )


def test_bm25_property_random_corpora(spark):
    """Property test (hypothesis, derandomized so CI is stable): for
    generated corpora and queries over a small vocabulary, bm25_topk
    must equal the pure-Python reference exactly — ranks, quantized
    scores, and matched-term counts. Exercises empty docs, repeated
    tokens, all-stop-term queries, and ties (equal (tf, df, dl) micros
    broken by doc_id on both sides)."""
    from hypothesis import given, settings, strategies as st

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    text_st = st.lists(st.sampled_from(vocab), min_size=0, max_size=12).map(
        " ".join
    )

    @settings(max_examples=12, deadline=None, derandomize=True)
    @given(
        texts=st.lists(text_st, min_size=1, max_size=6),
        qtexts=st.lists(text_st, min_size=1, max_size=3),
        k=st.integers(min_value=1, max_value=4),
        frac=st.sampled_from([None, 0.6]),
    )
    def check(texts, qtexts, k, frac):
        corpus = {i + 1: t for i, t in enumerate(texts)}
        queries = {100 + i: t for i, t in enumerate(qtexts)}
        docs = spark.createDataFrame(
            list(corpus.items()), "doc_id long, text string"
        )
        qdf = spark.createDataFrame(
            list(queries.items()), "query_id long, query string"
        )
        got = {}
        for r in textstats.bm25_topk(docs, qdf, k=k, max_df_frac=frac).collect():
            got.setdefault(r.query_id, []).append(
                (r.doc_id, r.rank, r.score, r.matched_terms)
            )
        release_held()
        for qid in got:
            got[qid].sort(key=lambda t: t[1])
        want = _bm25_reference(corpus, queries, k=k, max_df_frac=frac)
        assert got == {q: v for q, v in want.items() if v}

    check()


def test_bm25_max_df_frac_drops_stop_terms(spark):
    corpus = {
        1: "the alpha", 2: "the beta", 3: "the gamma", 4: "the delta",
    }
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    qdf = spark.createDataFrame(
        [(1, "the alpha")], "query_id long, query string"
    )
    # 'the' has df=4=N; frac 0.9 drops it so only doc 1 matches 'alpha'
    out = textstats.bm25_topk(docs, qdf, k=10, max_df_frac=0.9).collect()
    assert [(r.doc_id, r.matched_terms) for r in out] == [(1, 1)]
    want = _bm25_reference(corpus, {1: "the alpha"}, k=10, max_df_frac=0.9)
    assert [(r.doc_id, r.rank, r.score, r.matched_terms) for r in out] == want[1]


def test_url_filter_domains_paths_and_edge_cases(spark):
    from logshipper_spark.datapipe import filters

    rows = [
        (1, "https://spam.badsite.com/article/1"),
        (2, "https://docs.example.com/guide"),
        (3, "https://blog.example.co.uk/post"),        # multi-part suffix
        (4, "https://shop.example.com/buy-now/cheap"), # path keyword
        (5, "http://user:pw@host.example.org:8080/x"), # userinfo + port
        (6, "not-a-url-6"),                            # unparseable
        (7, "https://plain/path"),                     # dotless host
        (8, "HTTPS://UPPER.EXAMPLE.COM/CASINO/slots"), # case: host lowered,
                                                       # path lowered too
        (9, None),                                     # NULL url
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    # mixed-case blocklist entry must still match the lowercased domain
    blocked = spark.createDataFrame(
        [("BadSite.com",), ("example.co.uk",)], "domain string"
    )
    got = {
        r.doc_id: r.asDict()
        for r in filters.url_filter(df, blocked).collect()
    }
    assert got[1]["url_domain"] == "badsite.com" and got[1]["blocked_domain"]
    assert not got[1]["url_keep"]
    assert got[2]["url_domain"] == "example.com" and got[2]["url_keep"]
    assert got[3]["url_domain"] == "example.co.uk" and not got[3]["url_keep"]
    assert got[4]["blocked_path"] and not got[4]["url_keep"]
    assert got[5]["host"] == "host.example.org"  # userinfo+port stripped
    assert got[5]["url_domain"] == "example.org" and got[5]["url_keep"]
    assert got[6]["host"] == "" and not got[6]["url_keep"]
    assert got[7]["url_domain"] == "plain" and got[7]["url_keep"]
    assert got[8]["host"] == "upper.example.com"
    assert got[8]["blocked_path"] and not got[8]["url_keep"]
    # NULL url → real booleans (never NULL: a NULL url_keep would drop
    # the row from BOTH sides of a keep/drop partition)
    assert got[9]["host"] == "" and got[9]["url_keep"] is False
    assert got[9]["blocked_domain"] is False and got[9]["blocked_path"] is False


def test_url_filter_no_blocklist_no_keywords(spark):
    from logshipper_spark.datapipe import filters

    df = spark.createDataFrame(
        [(1, "https://any.example.com/casino")], "doc_id long, url string"
    )
    out = filters.url_filter(df, None, path_keywords=[]).first()
    assert out.url_keep and not out.blocked_domain and not out.blocked_path


def test_curate_substr_dedup_collapses_boilerplate_sharers(spark):
    # three docs identical except a long shared boilerplate passage
    # carried by all of them plus distinct prefixes: with substr_dedup
    # the passage is cut BEFORE the exact-dedup key, so docs that
    # differ only by the boilerplate collapse
    boiler = (
        "this license text is identical across every page of the site "
        "and adds nothing to the training corpus whatsoever at all"
    )
    body = "real unique content about apples bananas cherries and dates here"
    df = spark.createDataFrame(
        [
            (1, body + " " + boiler),
            (2, body + " " + boiler),
            (3, boiler + " " + body),
            (4, "entirely different content that shares no passage with others ok"),
        ],
        "doc_id long, text string",
    )
    from logshipper_spark.datapipe import curate as curate_mod

    base = curate_mod.curate(df, min_quality=0.0)
    # without substr removal: docs 1+2 dedup (identical), 3 survives
    assert sorted(r.doc_id for r in base.collect()) == [1, 3, 4]
    out = curate_mod.curate(
        df, min_quality=0.0, substr_dedup=True, substr_w=4, substr_window=3
    )
    rows = {r.doc_id: r for r in out.collect()}
    # with substr removal the boilerplate is cut everywhere; 1,2,3 all
    # reduce to (approximately) the same body. 1+2 are exactly equal
    # after the cut; 3 may differ at the winnowing boundary fuzz, so
    # assert at least the 1+2 collapse and that 4 is untouched
    assert 2 not in rows
    assert rows[1].exact_dup_count >= 2
    assert 4 in rows
    release_held()


# ── cross-document line dedup (CCNet-style boilerplate pass) ──
def test_line_dedup_removes_cross_doc_lines(spark):
    rows = [
        (1, "Unique body one, long enough line.\n(c) ACME corp all rights reserved.\nok", "a"),
        (2, "Another unique body line here.\n(c) acme corp all rights reserved.\nok", "a"),
        (3, "Third unique document body text.\nTotally unique footer for doc three.", "b"),
        (4, "Unique body one, long enough line.\nExtra line here.", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in dedup.line_dedup(df).collect()}
    # the ACME footer repeats across docs 1-2 (case-insensitively) and
    # the body line across docs 1 and 4 — both removed everywhere
    assert out[1]["clean_text"] == "ok"
    assert out[1]["n_removed_lines"] == 2 and out[1]["n_lines"] == 3
    assert out[2]["clean_text"] == "Another unique body line here.\nok"
    # doc 3 shares nothing: untouched
    assert out[3]["clean_text"] == rows[2][1]
    assert out[3]["n_removed_lines"] == 0
    assert out[4]["clean_text"] == "Extra line here."
    # original columns survive the join-back
    assert out[4]["source"] == "b" and out[4]["text"] == rows[3][1]


def test_line_dedup_short_lines_exempt(spark):
    # 'ok' (< min_line_chars after trim) repeats in every doc but is
    # never counted or removed; an all-boilerplate doc rebuilds to ""
    rows = [
        (1, "same boilerplate line.\nok", "a"),
        (2, "same boilerplate line.\nok", "a"),
        (3, "same boilerplate line.", "a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in dedup.line_dedup(df).collect()}
    assert out[1]["clean_text"] == "ok"
    assert out[3]["clean_text"] == "" and out[3]["n_removed_lines"] == 1


def test_line_dedup_null_text_never_dropped(spark):
    # a NULL text explodes to no lines; the row must come back through
    # the left join with empty clean_text and zero counts, not vanish
    rows = [
        (1, "same boilerplate line.\nkeep me here", "a"),
        (2, "same boilerplate line.\nother keeper", "a"),
        (3, None, "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in dedup.line_dedup(df).collect()}
    assert len(out) == 3
    assert out[3]["clean_text"] == "" and out[3]["n_lines"] == 0
    assert out[3]["n_removed_lines"] == 0 and out[3]["source"] == "b"
    assert out[1]["clean_text"] == "keep me here"


def test_line_dedup_property(spark):
    """Property test (derandomized): generated multi-line docs vs a
    pure-Python reference of the CCNet pass — a line is removed iff its
    normalized (trailing-\\r-stripped, lower/trim) form is >=
    min_line_chars long and occurs in >= min_df DISTINCT documents;
    counts exact; CRLF and LF twins share one form; NULL text rides
    through."""
    from hypothesis import given, settings, strategies as st

    lines_pool = [
        "Shared Boilerplate Footer.",   # long, repeatable
        "shared boilerplate footer.",   # same normalized form
        "Shared Boilerplate Footer.\r",  # CRLF twin: same normalized form
        "Unique-ish line alpha beta.",
        "Another Body Line here.",
        "ok",                           # short: always exempt
        "ok\r",                         # short after \r strip: exempt
        "",                             # blank: exempt
        "  Spaced Out Line  .",
    ]
    doc_st = st.one_of(
        st.none(),
        st.lists(st.sampled_from(lines_pool), min_size=0, max_size=5).map(
            "\n".join
        ),
    )

    def trimmed(ln):
        # mirror the operator exactly: ONE trailing \r stripped, then
        # space-only trim (not Python strip(), which eats \t too)
        bare = ln[:-1] if ln.endswith("\r") else ln
        return bare.strip(" ")

    def ref(docs, min_df=2, min_chars=6):
        from collections import defaultdict

        df_count = defaultdict(set)
        for i, t in docs.items():
            if t is None:
                continue
            for ln in t.split("\n"):
                if len(trimmed(ln)) >= min_chars:
                    df_count[trimmed(ln).lower()].add(i)
        boiler = {k for k, v in df_count.items() if len(v) >= min_df}
        out = {}
        for i, t in docs.items():
            if t is None:
                out[i] = ("", 0, 0)
                continue
            lines = t.split("\n")
            kept, removed = [], 0
            for ln in lines:
                drop = (
                    len(trimmed(ln)) >= min_chars
                    and trimmed(ln).lower() in boiler
                )
                if drop:
                    removed += 1
                else:
                    kept.append(ln)
            out[i] = ("\n".join(kept), len(lines), removed)
        return out

    @settings(max_examples=10, deadline=None, derandomize=True)
    @given(texts=st.lists(doc_st, min_size=1, max_size=6))
    def check(texts):
        docs = dict(enumerate(texts))
        df = spark.createDataFrame(
            list(docs.items()), "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (
                r["clean_text"], r["n_lines"], r["n_removed_lines"]
            )
            for r in dedup.line_dedup(df).collect()
        }
        assert got == ref(docs)

    check()


def test_source_overlap_counts_distinct_shared_texts(spark):
    rows = [
        (1, "alpha", "s1"),
        (2, "alpha", "s1"),  # repeat inside s1 must not double-count
        (3, "alpha", "s2"),
        (4, "beta", "s2"),
        (5, "beta", "s1"),
        (6, "gamma", "s3"),  # unshared
        (7, "alpha", "s3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r["src_a"], r["src_b"]): r["n_shared_texts"]
        for r in dedup.source_overlap(df).collect()
    }
    assert got == {("s1", "s2"): 2, ("s1", "s3"): 1, ("s2", "s3"): 1}


# ── vocabulary + tokenize-to-ids (tokenize.py) ──


def test_vocab_build_rank_and_ties(spark):
    """Frequency-desc, token-asc tie-break; ids dense from N_SPECIALS;
    min_count and max_size both prune."""
    from logshipper_spark.datapipe import tokenize as tk

    df = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the dog sat"),
            (2, "THE Cat"),
        ],
        "doc_id long, text string",
    )
    vocab = {
        r["token"]: (r["token_id"], r["count"])
        for r in tk.vocab_build(df, max_size=4).collect()
    }
    # counts: the=4, cat=2, sat=2, dog=1, mat=1, on=1 → top4 ties by token asc
    assert vocab == {
        "the": (3, 4),
        "cat": (4, 2),
        "sat": (5, 2),
        "dog": (6, 1),
    }
    v2 = {r["token"] for r in tk.vocab_build(df, max_size=100, min_count=2).collect()}
    assert v2 == {"the", "cat", "sat"}


def test_tokenize_ids_roundtrip_oov_and_empty(spark):
    from logshipper_spark.datapipe import tokenize as tk

    df = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "   "),
            (2, "zzz the"),
        ],
        "doc_id long, text string",
    )
    vocab = tk.vocab_build(df, max_size=3)  # the=3, cat=4, mat=5 kept
    out = {
        r["doc_id"]: (r["ids"], r["n_tokens"], r["n_oov"])
        for r in tk.tokenize_ids(df, vocab).collect()
    }
    B, E, U = tk.BOS_ID, tk.EOS_ID, tk.UNK_ID
    assert out[0] == ([B, 3, 4, U, U, 3, 5, E], 6, 2)
    assert out[1] == ([B, E], 0, 0)
    assert out[2] == ([B, U, 3, E], 2, 1)
    no_specials = {
        r["doc_id"]: r["ids"]
        for r in tk.tokenize_ids(df, vocab, add_bos_eos=False).collect()
    }
    assert no_specials[1] == [] and no_specials[2] == [U, 3]


# ── interpolated bigram LM (lm.py) ──


def test_bigram_lm_hand_corpus(spark):
    """Exact micro-bit scores for a hand-worked corpus, mirroring the
    model formula with python math; OOV token and unseen-pair fallback
    exercised on a held-out document."""
    import math

    from logshipper_spark.datapipe import lm

    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a a"), (2, "")],
        "doc_id long, text string",
    )
    bi, tok, uni_oov, fb_oov = lm.fit_bigram_lm(df, lam=0.5)
    # corpus: a=4 b=2, T=6 V=2 denom=8; pairs: "a b"=2 "b a"=1 "a a"=1
    # c_prev: a=3, b=1
    denom, lam = 8, 0.5

    def q(p):
        return math.floor(-math.log2(p) * 1_000_000 + 0.5)

    pu = {"a": 5 / denom, "b": 3 / denom}
    bm = {r["gram"]: (r["cnt"], r["c_prev"], r["nlp_micro"]) for r in bi.collect()}
    assert bm == {
        "a b": (2, 3, q(lam * 2 / 3 + (1 - lam) * pu["b"])),
        "b a": (1, 1, q(lam * 1 / 1 + (1 - lam) * pu["a"])),
        "a a": (1, 3, q(lam * 1 / 3 + (1 - lam) * pu["a"])),
    }
    tm = {r["token"]: (r["uni_nlp_micro"], r["fb_nlp_micro"]) for r in tok.collect()}
    assert tm == {
        "a": (q(pu["a"]), q((1 - lam) * pu["a"])),
        "b": (q(pu["b"]), q((1 - lam) * pu["b"])),
    }
    assert uni_oov == q(1 / denom) and fb_oov == q((1 - lam) / denom)

    out = {
        r["doc_id"]: (r["n_tokens"], r["nlp_sum_micro"], r["bits_per_token"])
        for r in lm.lm_score_bigram(df, bi, tok, uni_oov, fb_oov).collect()
    }
    s0 = tm["a"][0] + bm["a b"][2] + bm["b a"][2] + bm["a b"][2]
    s1 = tm["a"][0] + bm["a a"][2]
    assert out[0] == (4, s0, round(s0 / 1e6 / 4 + 1e-9, 4))
    assert out[1] == (2, s1, round(s1 / 1e6 / 2 + 1e-9, 4))
    assert out[2] == (0, 0, None)

    # held-out "b z a": first token b seen (uni nlp), z behind the
    # unseen pair "b z" AND itself OOV (fb_oov), a behind the unseen
    # pair "z a" but a seen token (fb_nlp)
    held = spark.createDataFrame([(9, "b z a")], "doc_id long, text string")
    got = lm.lm_score_bigram(held, bi, tok, uni_oov, fb_oov).collect()[0]
    # b(uni) + z(fb_oov: pair "b z" unseen, token z OOV) + a(fb: pair
    # "z a" unseen, token a seen)
    exp = tm["b"][0] + fb_oov + tm["a"][1]
    assert (got["n_tokens"], got["nlp_sum_micro"]) == (3, exp)
    release_held()


# ── BPE merge training (bpe.py) ──


def _ref_bpe(counts, num_merges, min_pair_count=2):
    """Reference BPE (Sennrich et al. 2016): greedy left-to-right merge
    application, argmax tie-break (count DESC, left ASC, right ASC)."""
    state = {w: list(w) + ["</w>"] for w in counts}
    merges = []
    for rank in range(num_merges):
        pc = {}
        for w, syms in state.items():
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                pc[k] = pc.get(k, 0) + counts[w]
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if c < min_pair_count:
            break
        merges.append((rank, l, r, c))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    return merges, state


def test_bpe_train_matches_reference(spark):
    from logshipper_spark.datapipe import bpe

    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    rows = [(i, " ".join([w] * c)) for i, (w, c) in enumerate(counts.items())]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges, pieces = bpe.bpe_train(df, num_merges=10)
    got_merges = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in merges.orderBy("rank").collect()
    ]
    ref_merges, ref_state = _ref_bpe(counts, 10)
    assert got_merges == ref_merges
    got_pieces = {r["word"]: r["pieces"] for r in pieces.collect()}
    assert got_pieces == ref_state


def test_bpe_segment_seen_unseen_empty(spark):
    from logshipper_spark.datapipe import bpe

    counts = {"low": 5, "lowest": 4, "newer": 3}
    train = spark.createDataFrame(
        [(i, " ".join([w] * c)) for i, (w, c) in enumerate(counts.items())],
        "doc_id long, text string",
    )
    merges, pieces = bpe.bpe_train(train, num_merges=6)
    _, ref_state = _ref_bpe(counts, 6)
    docs = spark.createDataFrame(
        [(0, "low newer"), (1, "zq"), (2, "  ")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["pieces"], r["n_pieces"])
           for r in bpe.bpe_segment(docs, pieces).collect()}
    want0 = ref_state["low"] + ref_state["newer"]
    assert out[0] == (want0, len(want0))
    assert out[1] == (["z", "q", "</w>"], 3)
    assert out[2] == ([], 0)


def test_assemble_chunks_exact_layout(spark):
    """Chunks materialize as exact concat-and-split id slices: every
    chunk but the group's last is exactly budget long, and the flat
    chunk stream equals the docs' ids concatenated in order."""
    from logshipper_spark.datapipe import packing

    rows = [
        ("g", 0, [1, 2, 3, 4]),
        ("g", 1, [5, 6, 7, 8, 9]),
        ("g", 2, [10, 11, 12, 13, 14, 15, 16, 17]),
        ("g", 3, []),
        ("h", 7, [31, 32, 33]),
    ]
    df = spark.createDataFrame(
        rows, "source string, doc_id long, ids array<long>"
    ).withColumn("n", F.size("ids").cast("long"))
    layout = packing.pack_chunks(df, budget=10, tokens_col="n", block_size=2)
    got = {
        (r["source"], r["chunk_id"]): (r["ids"], r["n_tokens"])
        for r in packing.assemble_chunks(df, layout).collect()
    }
    assert got == {
        ("g", 0): ([1, 2, 3, 4, 5, 6, 7, 8, 9, 10], 10),
        ("g", 1): ([11, 12, 13, 14, 15, 16, 17], 7),
        ("h", 0): ([31, 32, 33], 3),
    }


def _sentence_chunks_reference(text, ms, st):
    import math
    import re

    sents = [
        s.strip()
        for s in re.findall(r"[^.!?]*[.!?]+|[^.!?]+$", text)
        if s.strip()
    ]
    n = len(sents)
    if n == 0:
        return []
    # ceil(n/st) cap: for stride > max_sentences the uncapped count
    # puts the last start past the array (phantom empty chunks)
    num = min(1 + math.ceil(max(0, n - ms) / st), math.ceil(n / st))
    return [
        (
            i,
            " ".join(sents[i * st : i * st + ms]),
            len(sents[i * st : i * st + ms]),
        )
        for i in range(num)
    ]


def test_sentence_chunks_hand_cases(spark):
    from logshipper_spark.datapipe import packing

    rows = [
        (1, "One. Two! Three? Four. Five. Six. Seven"),  # tail w/o terminator
        (2, "Only one sentence."),
        (3, ""),                                          # no sentences
        (4, "..."),                                       # punct-only → one
        (5, "a. b. c. d. e. f. g. h."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in packing.sentence_chunks(df, max_sentences=3, stride=2).collect():
        got.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.chunk_text, r.n_sentences)
        )
    for d in got:
        got[d].sort()
    for d, text in rows:
        want = _sentence_chunks_reference(text, 3, 2)
        assert got.get(d, []) == want, (d, got.get(d), want)
    # overlap spot check: doc 1 windows are [1-3],[3-5],[5-7]
    assert got[1][0] == (0, "One. Two! Three?", 3)
    assert got[1][1] == (1, "Three? Four. Five.", 3)
    assert got[1][2] == (2, "Five. Six. Seven", 3)


def test_sentence_chunks_property(spark):
    """Property test (derandomized): generated sentence mixes must
    match the Python reference for several (max_sentences, stride)
    shapes including stride == max (no overlap) and max == 1."""
    from hypothesis import given, settings, strategies as st

    from logshipper_spark.datapipe import packing

    piece = st.sampled_from(
        ["Alpha beta.", "Gamma!", "Delta epsilon zeta?", "no terminator",
         "Two. In one piece!", "...", "  ", "x.y.z."]
    )
    text_st = st.lists(piece, min_size=0, max_size=6).map(" ".join)

    @settings(max_examples=10, deadline=None, derandomize=True)
    @given(
        texts=st.lists(text_st, min_size=1, max_size=5),
        ms=st.integers(min_value=1, max_value=4),
        stv=st.integers(min_value=1, max_value=4),
    )
    def check(texts, ms, stv):
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {}
        for r in packing.sentence_chunks(
            df, max_sentences=ms, stride=stv
        ).collect():
            got.setdefault(r.doc_id, []).append(
                (r.chunk_idx, r.chunk_text, r.n_sentences)
            )
        for d in got:
            got[d].sort()
        for d, text in enumerate(texts):
            assert got.get(d, []) == _sentence_chunks_reference(
                text, ms, stv
            )

    check()


def test_pack_assemble_property_reconstruction(spark):
    """Property test (hypothesis, derandomized): for generated groups,
    document lengths (incl. zero), budgets, and block sizes, the
    assembled chunks must equal the per-group concatenation of id
    arrays in doc order, cut every `budget` tokens — the operator
    pair's defining invariant."""
    from hypothesis import given, settings, strategies as st

    from logshipper_spark.datapipe import packing

    @settings(max_examples=10, deadline=None, derandomize=True)
    @given(
        data=st.lists(
            st.tuples(st.sampled_from(["g", "h"]), st.integers(0, 9)),
            min_size=1,
            max_size=8,
        ),
        budget=st.integers(1, 12),
        block=st.sampled_from([1, 2, 64]),
    )
    def check(data, budget, block):
        rows = []
        nxt = 0
        for i, (g, ln) in enumerate(data):
            rows.append((g, i, list(range(nxt, nxt + ln))))
            nxt += ln
        df = spark.createDataFrame(
            rows, "source string, doc_id long, ids array<long>"
        ).withColumn("n", F.size("ids").cast("long"))
        layout = packing.pack_chunks(
            df, budget=budget, tokens_col="n", block_size=block
        )
        got = {}
        for r in packing.assemble_chunks(df, layout).collect():
            got[(r["source"], r["chunk_id"])] = list(r["ids"])
            assert r["n_tokens"] == len(r["ids"])
        want = {}
        for g in sorted({g for g, _ in data}):
            stream = [x for gg, _i, ids in rows if gg == g for x in ids]
            for c in range(0, len(stream), budget):
                want[(g, c // budget)] = stream[c : c + budget]
        assert got == want

    check()


# ── exact quantile binning (sampling.quantile_bins) ──


def test_quantile_bins_matches_single_phase_window(spark):
    """Two-phase rank+bin == row_number() OVER (PARTITION BY group
    ORDER BY score, id), with a hot tied score crossing bin edges and
    a block size small enough to force multi-block tie classes."""
    from pyspark.sql import Window

    from logshipper_spark.datapipe import sampling

    rows = [
        ("a", i, 5 if i < 9 else i % 4)  # 9-way tie on score 5 in group a
        for i in range(14)
    ] + [("b", 100 + i, i % 2) for i in range(5)] + [
        ("a", 50, None),  # NULL scores: own tie class, ranks first
        ("a", 51, None),
    ]
    df = spark.createDataFrame(rows, "src string, doc_id long, score long")
    got = {
        (r["src"], r["doc_id"]): (r["rank"], r["bin"])
        for r in sampling.quantile_bins(
            df, k=4, score_col="score", group_col="src", block_size=2
        ).collect()
    }
    w = Window.partitionBy("src").orderBy("score", "doc_id")
    want = {
        (r["src"], r["doc_id"]): (
            r["rn"],
            ((r["rn"] - 1) * 4) // r["n"],
        )
        for r in df.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("src")))
        .collect()
    }
    assert got == want
    # bins balanced within 1 row
    from collections import Counter

    ca = Counter(b for (s, _), (_, b) in got.items() if s == "a")
    assert max(ca.values()) - min(ca.values()) <= 1 and set(ca) == {0, 1, 2, 3}


def test_quantile_bins_property(spark):
    """Property test (derandomized): for generated groups (including
    NULL groups — the struct-keyed joins must keep them), discrete
    scores with heavy ties, NULL scores, k, and block sizes, the
    two-phase rank/bin must equal the pure-Python single-sort
    reference (NULLs rank first — Spark ASC null ordering)."""
    from hypothesis import given, settings, strategies as st

    from logshipper_spark.datapipe import sampling

    @settings(max_examples=10, deadline=None, derandomize=True)
    @given(
        rows=st.lists(
            st.tuples(
                st.sampled_from(["a", "b", None]),
                st.one_of(st.none(), st.integers(0, 3)),
            ),
            min_size=1,
            max_size=14,
        ),
        k=st.integers(min_value=1, max_value=5),
        block=st.sampled_from([1, 2, 64]),
    )
    def check(rows, k, block):
        data = [(g, i, s) for i, (g, s) in enumerate(rows)]
        df = spark.createDataFrame(
            data, "src string, doc_id long, score long"
        )
        got = {
            r["doc_id"]: (r["rank"], r["bin"])
            for r in sampling.quantile_bins(
                df, k=k, score_col="score", group_col="src",
                block_size=block, id_col="doc_id",
            ).collect()
        }
        want = {}
        for g in {g for g, _, _ in data}:
            grp = sorted(
                (d for d in data if d[0] == g),
                key=lambda d: (d[2] is not None, d[2] or 0, d[1]),
            )
            n = len(grp)
            for pos, (_, i, _) in enumerate(grp):
                want[i] = (pos + 1, pos * k // n)
        assert got == want

    check()


def test_representatives_argmax_per_component(spark):
    """keep=1 on exactly the highest-scoring member per component
    (tie -> min id); singletons keep themselves; docs missing from the
    score table rank last; never drops a labels row."""
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (9, 9)],
        ["doc_id", "component"],
    )
    scores = spark.createDataFrame(
        # comp 1: 2 wins on score; comp 5: tie -> min id 5; 9 unscored
        [(1, 10), (2, 30), (3, 20), (5, 7), (6, 7)],
        ["doc_id", "score"],
    )
    out = dedup.representatives(labels, scores)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 6
    assert {i: r["keep"] for i, r in rows.items()} == {
        1: 0, 2: 1, 3: 0, 5: 1, 6: 0, 9: 1,
    }
    assert rows[9]["score"] is None
    # exactly one keeper per component
    per_comp = out.groupBy("component").agg(F.sum("keep").alias("k")).collect()
    assert all(r["k"] == 1 for r in per_comp)


def test_representatives_matches_single_window(spark, docs):
    """Two-phase salted argmax == the plain single-window answer on a
    real corpus slice with hash-derived components and scores."""
    base = docs.select("doc_id").limit(400)
    labels = base.select(
        "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(7)).alias("component")
    )
    scores = base.select(
        "doc_id", F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(5)).alias("score")
    )
    got = {
        r["doc_id"]: r["keep"]
        for r in dedup.representatives(labels, scores, salt_buckets=4).collect()
    }
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(
        F.desc_nulls_last("score"), F.asc("doc_id")
    )
    want = {
        r["doc_id"]: int(r["rn"] == 1)
        for r in labels.join(scores, "doc_id", "left")
        .withColumn("rn", F.row_number().over(w))
        .collect()
    }
    assert got == want


def test_semantic_decontaminate(spark):
    """Exact benchmark twins are flagged (cos 1.0), unrelated vectors
    keep, rows whose cell holds no benchmark vector come back with
    NULL max_cos and keep=1 — never drops rows."""
    from logshipper_spark.datapipe import decontam

    # two well-separated directions; centroids put them in cells 0/1
    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),      # exact twin of bench 900
            (1, [0.9, 0.1, 0.0, 0.0]),      # near bench 900 but < tau
            (2, [0.0, 0.0, 1.0, 0.0]),      # cell with no bench vecs
        ],
        "vec_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(900, [1.0, 0.0, 0.0, 0.0]), (901, [1.0, 0.05, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
    out = {
        r["vec_id"]: r
        for r in decontam.semantic_decontaminate(
            corpus, bench, cents, threshold=0.999
        ).collect()
    }
    assert len(out) == 3
    assert out[0]["keep"] == 0 and out[0]["max_cos"] == 1.0
    assert out[0]["near_bench_id"] == 900 and out[0]["n_candidates"] == 2
    assert out[1]["keep"] == 1 and 0.9 < out[1]["max_cos"] < 0.999
    assert out[2]["keep"] == 1 and out[2]["max_cos"] is None
    assert out[2]["near_bench_id"] is None and out[2]["n_candidates"] == 0


def test_semantic_decontaminate_matches_brute_force(spark, embs):
    """Within-cell screen == brute-force max-cos when bench rows land
    in their twins' cells (exact twins always do)."""
    from logshipper_spark.datapipe import decontam, similarity

    emb = embs.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).limit(60)
    bench = emb.filter("vec_id % 7 = 3").selectExpr(
        "vec_id + 900 AS vec_id", "embedding"
    )
    cents = similarity.kmeans_fit(emb, num_cells=4, dim=64, max_iter=2)
    out = {
        r["vec_id"]: r["keep"]
        for r in decontam.semantic_decontaminate(
            emb, bench, cents, threshold=0.999999
        ).collect()
    }
    want = {r["vec_id"]: 0 for r in emb.filter("vec_id % 7 = 3").collect()}
    flagged = {i for i, k in out.items() if k == 0}
    assert flagged == set(want)  # exactly the planted twins
    assert len(out) == 60


def test_assemble_chunks_cross_group_id_collision(spark):
    """order_col only needs to be unique WITHIN a group: two sources
    sharing doc_id=7 must not cross-pollute each other's chunks."""
    from logshipper_spark.datapipe import packing

    ids = spark.createDataFrame(
        [
            ("a", 7, [1, 2, 3], 3),
            ("b", 7, [9, 8], 2),
        ],
        "source string, doc_id long, ids array<long>, n long",
    )
    layout = packing.pack_chunks(ids, budget=10, tokens_col="n")
    out = {
        (r["source"], r["chunk_id"]): list(r["ids"])
        for r in packing.assemble_chunks(ids, layout).collect()
    }
    assert out == {("a", 0): [1, 2, 3], ("b", 0): [9, 8]}


def test_sentence_chunks_gapped_stride_no_empty_chunks(spark):
    """stride > max_sentences (gapped sampling) must not emit phantom
    empty trailing chunks when the last start lands past the array."""
    from logshipper_spark.datapipe import packing

    # 10 sentences; ms=2, st=5 -> starts 0 and 5 only (old formula
    # emitted a third, empty, chunk starting at sentence 11)
    text = " ".join(f"sentence number {i}." for i in range(10))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        (r["chunk_idx"], r["n_sentences"])
        for r in packing.sentence_chunks(
            df, max_sentences=2, stride=5
        ).collect()
    )
    assert rows == [(0, 2), (1, 2)]
    # boundary: 11 sentences -> a real 1-sentence tail chunk at start 10
    text11 = " ".join(f"sentence number {i}." for i in range(11))
    df11 = spark.createDataFrame([(1, text11)], "doc_id long, text string")
    rows11 = sorted(
        (r["chunk_idx"], r["n_sentences"])
        for r in packing.sentence_chunks(
            df11, max_sentences=2, stride=5
        ).collect()
    )
    assert rows11 == [(0, 2), (1, 2), (2, 1)]


def test_semantic_dedup_against_empty_index_dir(spark, tmp_path):
    """An indexed EMPTY kept set (zero data files under partitionBy)
    must read as an empty index, not throw UNRESOLVED_COLUMN on the
    probe-cell filter."""
    from logshipper_spark.datapipe import semdedup

    idx = str(tmp_path / "sem")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    semdedup.write_semantic_index(empty, idx, cents, mode="overwrite")
    batch = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    kept = semdedup.semantic_dedup_against(batch, idx)
    assert {r["vec_id"] for r in kept.collect()} == {1, 2}
    release_held()


def test_trending_terms(spark):
    """Two-phase per-bucket top-k == plain single-window ranking;
    NULL-ts rows land in a NULL bucket instead of vanishing."""
    from datetime import datetime

    from pyspark.sql import Window

    rows = []
    for i in range(40):
        rows.append((datetime(2024, 3, 1, 10, i % 50), "hot hot warm cool%d" % (i % 9)))
    for i in range(10):
        rows.append((datetime(2024, 3, 1, 11, i), "evening token burst burst"))
    rows.append((None, "nullbucket nullbucket words here"))
    rows.append((None, "nullbucket again appears twice twice"))
    df = spark.createDataFrame(rows, "ts timestamp, text string")
    got = textstats.trending_terms(df, k=3, min_count=2, salt_buckets=4)
    # single-window reference over the same counts
    ref_counts = (
        df.select(
            F.window(
                F.coalesce(F.col("ts"), F.to_timestamp(F.lit("0001-01-01"))),
                "1 hour",
            ).alias("_w"),
            F.col("ts").isNull().alias("_n"),
            F.explode(textstats.tokens(F.lower(F.col("text")))).alias("token"),
        )
        .groupBy("_w", "_n", "token")
        .count()
        .filter("count >= 2")
    )
    w = Window.partitionBy("_w", "_n").orderBy(F.col("count").desc(), "token")
    ref = (
        ref_counts.withColumn("rank", F.row_number().over(w))
        .filter("rank <= 3")
        .select(
            F.when(~F.col("_n"), F.col("_w.start")).alias("window_start"),
            "token",
            F.col("count").alias("n"),
            "rank",
        )
    )
    g = {(r["window_start"], r["rank"]): (r["token"], r["n"]) for r in got.collect()}
    e = {(r["window_start"], r["rank"]): (r["token"], r["n"]) for r in ref.collect()}
    assert g == e and len(g) > 0
    # the 10:00 bucket's top term is the hot token; NULL bucket present
    hot = g[(datetime(2024, 3, 1, 10, 0), 1)]
    assert hot[0] == "hot" and hot[1] == 80
    assert any(k[0] is None for k in g)


def test_fuzzy_dup_pairs_matches_bruteforce(spark):
    """L67 fuzzy dedup: with the stop-gram cutoff disarmed, the
    two-lane (gram count filter + short-key length window) candidate
    generation plus levenshtein verify finds EXACTLY the brute-force
    edit-distance pair set — typos, deletions, identical keys,
    repeated-gram keys (multiset occ lanes), short keys below the gram
    bound, and NULL keys (dropped)."""
    from logshipper_spark.datapipe import dedup

    keys = [
        (0, "the quick brown fox"),
        (1, "the quick brown fix"),      # 1 substitution
        (2, "the quick brown f"),        # distance 2 from id 1
        (3, "a completely different"),
        (4, "abcabcabc"),
        (5, "abcabcabX"),                # repeated grams + 1 sub
        (6, "cat"), (7, "cut"), (8, "ca"), (9, "dog"),  # short lane
        (10, "the quick brown fox"),     # exact dup of 0
        (11, None),
    ]
    df = spark.createDataFrame(keys, "doc_id long, text string")

    def ed(s, t):
        m, n = len(s), len(t)
        d = list(range(n + 1))
        for i in range(1, m + 1):
            prev, d[0] = d[0], i
            for j in range(1, n + 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1, prev + (s[i - 1] != t[j - 1])
                )
        return d[n]

    vals = [(i, t) for i, t in keys if t is not None]
    want = sorted(
        (a, b, ed(sa, sb))
        for (a, sa) in vals for (b, sb) in vals
        if a < b and ed(sa, sb) <= 2
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["edit_distance"])
        for r in dedup.fuzzy_dup_pairs(
            df, max_edit=2, max_gram_df=10**6
        ).collect()
    )
    assert got == want and (6, 7, 1) in got and (0, 10, 0) in got


def test_pmi_pairs_matches_python_reference(spark):
    """L68 collocation mining: windowed co-occurrence counts and
    integer-micro PMI equal a scalar replay — window edges, unordered
    pair normalization, self-pair exclusion, min-count cutoff, and the
    deterministic (pmi, a, b) ordering."""
    import math
    from collections import Counter

    from logshipper_spark.datapipe import textstats

    docs = [
        (0, "new york city is in new york state"),
        (1, "san francisco and new york"),
        (2, "york new york new"),
        (3, ""),
        (4, None),
        (5, "solo"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    W, MIN, K = 3, 2, 10
    pair_c, uni_c = Counter(), Counter()
    for _, t in docs:
        toks = (t or "").lower().split()
        uni_c.update(toks)
        for i, a in enumerate(toks):
            for d in range(1, W + 1):
                if i + d < len(toks) and toks[i + d] != a:
                    pair_c[tuple(sorted((a, toks[i + d])))] += 1
    T = sum(uni_c.values())
    kept = {p: c for p, c in pair_c.items() if c >= MIN}
    P = sum(pair_c.values())  # total pair mass, pre-cutoff
    want = sorted(
        (
            (a, b, c,
             math.floor(
                 math.log((c * float(T)) * float(T)
                          / ((float(P) * uni_c[a]) * uni_c[b]))
                 * 1e6 + 0.5))
            for (a, b), c in kept.items()
        ),
        key=lambda r: (-r[3], r[0], r[1]),
    )[:K]
    got = [
        (r["token_a"], r["token_b"], r["pair_count"], r["pmi_micro"])
        for r in textstats.pmi_pairs(
            df, window=W, min_pair_count=MIN, k=K
        ).collect()
    ]
    assert got == want and len(got) > 0


def test_pq_codes_matches_python_reference(spark):
    """The PQ code kernel assigns each subspace slice the reference's
    nearest code — including ragged and NULL-element vectors."""
    from logshipper_spark.datapipe import similarity

    rows = [
        (i, [((i * 37 + j * 13) % 200) / 50.0 - 2.0 for j in range(12)])
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).unionByName(spark.createDataFrame(
        [(900, [0.3] * 5), (901, [None] + [0.1] * 11)],
        "vec_id long, embedding array<double>",
    ))
    books = similarity.pq_fit(df, m=3, codes_per_sub=4, dim=12, max_iter=2)
    bounds = similarity.subspace_bounds(12, 3)
    exp = {
        r["vec_id"]: [
            _py_nearest(r["embedding"][st - 1 : st - 1 + w], books[s])[1]
            for s, (st, w) in enumerate(bounds)
        ]
        for r in df.collect()
    }
    got = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.pq_codes(df, books).collect()
    }
    assert got == exp and len(got) == 202


def test_fuzzy_dedup_against(spark, tmp_path):
    """Incremental fuzzy dedup: batch rows whose key is within
    max_edit of ANY indexed key drop; genuinely new keys and
    over-the-threshold rewrites survive; batch-internal fuzzy dups are
    NOT collapsed (dedup_against convention); short keys use the
    length-window lane."""
    from logshipper_spark.datapipe import dedup

    idx_rows = [
        (0, "the quick brown fox"), (1, "a completely different line"),
        (2, "cat"),
    ]
    spark.createDataFrame(idx_rows, "doc_id long, text string")
    path = str(tmp_path / "fuzzy_idx")
    dedup.write_fuzzy_index(
        spark.createDataFrame(idx_rows, "doc_id long, text string"),
        path, mode="overwrite",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fix"),       # 1 edit from idx 0 → drop
            (11, "the quick brown foxes run"), # > 2 edits → keep
            (12, "cut"),                       # short lane, 1 edit → drop
            (13, "dog"),                       # short, no match → keep
            (14, "an entirely new sentence"),  # keep
            (15, "an entirely new sentenc"),   # fuzzy dup of 14 — BATCH
                                               # internal: still keeps
        ],
        "doc_id long, text string",
    )
    got = sorted(
        r["doc_id"]
        for r in dedup.fuzzy_dedup_against(batch, spark, path).collect()
    )
    assert got == [11, 13, 14, 15]


def test_containment_pairs(spark):
    """Asymmetric containment: a short extract fully contained in a
    long doc scores 1.0 even though symmetric Jaccard is far below any
    useful threshold; unrelated docs emit nothing."""
    from logshipper_spark.datapipe import dedup

    long_doc = " ".join(f"w{i}" for i in range(40))
    extract = " ".join(f"w{i}" for i in range(8))
    rows = [
        (0, long_doc), (1, extract),
        (2, " ".join(f"z{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(
            df, k=1, threshold=0.8, max_shingle_df=10**6
        ).collect()
    }
    assert got == {(0, 1): 1.0}
    jac = dedup.ngram_jaccard_pairs(
        df, k=1, threshold=0.5, max_shingle_df=10**6
    ).collect()
    assert jac == []  # the same pair is invisible to symmetric Jaccard


def test_group_centroids_exact(spark):
    """Per-group mean vectors in exact integer-micro arithmetic:
    matches a scalar replay (incl. negative values, a ragged vector
    contributing 0 to missing dims, NULL elements, and NULL vectors
    excluded); as_micros floor-divides exactly."""
    import math

    from logshipper_spark.datapipe import similarity

    rows = [
        ("a", [1.25, -2.5, 0.000001]),
        ("a", [0.75, -0.5, None]),
        ("a", [3.0]),            # ragged: dims 2..3 contribute 0
        ("a", None),             # excluded
        ("b", [-1.0, -1.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "g string, embedding array<double>")
    vecs = {
        "a": [[1.25, -2.5, 0.000001], [0.75, -0.5, 0.0], [3.0, 0.0, 0.0]],
        "b": [[-1.0, -1.0, -1.0]],
    }
    want = {}
    for g, vs in vecs.items():
        n = len(vs)
        sums = [
            sum(math.floor(v[i] * 1e6 + 0.5) for v in vs) for i in range(3)
        ]
        want[g] = ([s // n for s in sums], n)  # python // = floor
    got = {
        r["g"]: (list(r["centroid"]), r["n_vectors"])
        for r in similarity.group_centroids(
            df, "g", dim=3, as_micros=True
        ).collect()
    }
    assert got == want
    dbl = {
        r["g"]: list(r["centroid"])
        for r in similarity.group_centroids(df, "g", dim=3).collect()
    }
    for g, vs in vecs.items():
        n = len(vs)
        for i in range(3):
            exp = sum(math.floor(v[i] * 1e6 + 0.5) for v in vs) / (n * 1e6)
            assert dbl[g][i] == exp


def test_arrow_kernels_reject_micro_sums_past_2_53(spark):
    """A vector of magnitude ~1e5 puts one micro term near 1e16, past
    the 2^53 float64 exactness bound: every Arrow kernel and every
    driver-side caller of the shared kernel must raise."""
    from logshipper_spark.datapipe import similarity

    cents = [[float(i), 0.0] for i in range(8)]
    df = spark.createDataFrame(
        [([0.5, 0.5],), ([1e5, 0.0],)], "_v array<double>"
    )
    kernels = [
        lambda: df.select(similarity._nearest_centroid_col("_v", cents)),
        lambda: df.select(similarity._pq_codes_arrow("_v", [cents])),
        lambda: df.select(similarity.nearest_centroid_struct_col("_v", cents)),
        lambda: df.select(
            similarity._probe_cells_arrow("_v", dict(enumerate(cents)), 2)
        ),
    ]
    for build in kernels:
        with pytest.raises(Exception, match=r"2\*\*53"):
            build().collect()
    with pytest.raises(ValueError, match=r"2\*\*53"):
        similarity._maximin_seeds([[0.5, 0.5], [1e5, 0.0]], 2)
    with pytest.raises(ValueError, match=r"2\*\*53"):
        similarity._nearest_probe_cells(dict(enumerate(cents)), [1e5, 0.0], 2)


def test_cell_dist_and_probe_kernels_match_python_reference(spark):
    """The nearest-struct kernel (``nearest_centroid_struct_col``,
    d + i) and the probe kernel (``_probe_cells_arrow``, top-n_probe
    by (distance, cell id)) equal the plain-Python reference
    row-for-row — including ragged, NULL-element, and NULL vectors, and
    a planted exact distance tie; the driver-side
    ``_nearest_probe_cells`` returns the kernel's probes."""
    from logshipper_spark.datapipe import similarity

    rows = [
        (i, [((i * 37 + j * 13) % 200) / 50.0 - 2.0 for j in range(12)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = df.select("vec_id", F.col("embedding").alias("_v")).unionByName(
        spark.createDataFrame(
            [
                (900, [0.3] * 5),
                (901, [None] + [0.1] * 11),
                (902, None),
            ],
            "vec_id long, _v array<double>",
        )
    )
    cents = similarity.kmeans_fit(df, num_cells=16, dim=12, max_iter=1)
    cents[3] = list(cents[5])  # planted duplicate centroid: exact tie
    vecs = {r["vec_id"]: r["_v"] for r in base.collect()}
    got = {
        r["vec_id"]: (r["b"]["d"], r["b"]["i"])
        for r in base.select(
            "vec_id",
            similarity.nearest_centroid_struct_col("_v", cents).alias("b"),
        ).collect()
    }
    assert got == {vid: _py_nearest(v, cents) for vid, v in vecs.items()}
    # probe kernel (3 probes, planted tie) over the join's isNotNull
    # domain
    cent = {i: c for i, c in enumerate(cents)}
    nn = base.filter(F.col("_v").isNotNull())
    probes = {
        r["vec_id"]: r["p"]
        for r in nn.select(
            "vec_id", similarity._probe_cells_arrow("_v", cent, 3).alias("p")
        ).collect()
    }
    assert probes == {
        vid: sorted(cent, key=lambda c: (_py_micro_sq_l2(v, cent[c]), c))[:3]
        for vid, v in vecs.items()
        if v is not None
    }
    for vid in (0, 17, 900, 901):
        assert similarity._nearest_probe_cells(cent, vecs[vid], 3) == probes[vid]


