"""Every frame a lazy operator persists through ``session.hold`` is
released by one ``session.release_held()``. One case per operator
family that holds an intermediate: the case runs the operator's action,
checks that it left at least one new persisted RDD behind, releases,
and asserts none of those RDDs is still persisted. A holding site that
persists outside the registry fails its case."""

from __future__ import annotations

import pytest

from logshipper_spark.anomaly import rolling_zscore_blocked
from logshipper_spark.datapipe import curate, dedup, dsir, lm, semdedup
from logshipper_spark.datapipe import similarity, substr, textstats
from logshipper_spark.session import release_held

SHARED = "the quick brown fox jumps over the lazy dog near the river bank"


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma " + SHARED + " delta epsilon"),
            (2, "one two three four " + SHARED + " five six"),
            (3, "one two three four " + SHARED + " five seven"),
            (4, "totally unrelated content with no overlap at all whatsoever"),
        ],
        "doc_id long, text string",
    )


def _emb(spark):
    return spark.createDataFrame(
        [(i, [1.0, 0.01 * i] if i % 2 else [0.01 * i, 1.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )


def _bm25(spark, tmp_path):
    queries = spark.createDataFrame([(1, "quick fox"), (2, "river")],
                                    "query_id long, query string")
    return lambda: textstats.bm25_topk(_docs(spark), queries, k=3).collect()


def _dsir(spark, tmp_path):
    docs = _docs(spark)
    return lambda: dsir.fit_dsir(
        docs.filter("doc_id < 3"), docs, num_buckets=64
    )[0].collect()


def _ivf(spark, tmp_path):
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(_emb(spark), path, num_cells=4, dim=2)
    return lambda: similarity.ivf_knn_join(
        spark, path, _emb(spark), k=2, num_cells=4, dim=2
    ).collect()


def _zscore(spark, tmp_path):
    df = spark.createDataFrame(
        [("k", i, 100 + (i * 13) % 40) for i in range(200)],
        "k string, event_id long, value long",
    )
    return lambda: rolling_zscore_blocked(
        df, ["k"], order_col="event_id", window_size=20, block_size=64
    ).collect()


def _persisted_rdd_ids(spark) -> set[int]:
    # ids, not the count: Spark's persisted-RDD map holds its values
    # weakly, so RDDs an earlier test persisted and dropped (a
    # localCheckpoint) leave it whenever the JVM collects them
    return set(spark.sparkContext._jsc.getPersistentRDDs())


# former per-module registry -> (spark, tmp_path) -> the action to run
CASES = {
    "dedup": lambda s, t: lambda: dedup.minhash_lsh_pairs(_docs(s)).count(),
    "textstats": _bm25,
    "dsir": _dsir,
    "semdedup": lambda s, t: lambda: semdedup.semantic_pairs(
        _emb(s), [[1.0, 0.0], [0.0, 1.0]], threshold=0.9
    ).count(),
    "substr": lambda s, t: lambda: substr.substr_dup_pairs(
        _docs(s), w=4, window=3
    ).count(),
    "curate": lambda s, t: lambda: curate.curate(
        _docs(s), min_quality=0.0, near_dup=True, substr_dedup=True
    ).count(),
    "lm": lambda s, t: lambda: lm.fit_unigram_lm(_docs(s))[0].collect(),
    "similarity": _ivf,
    "anomaly": _zscore,
}


@pytest.mark.parametrize("family", list(CASES))
def test_release_held_unpersists_every_held_frame(spark, tmp_path, family):
    action = CASES[family](spark, tmp_path)
    before = _persisted_rdd_ids(spark)
    action()
    held = _persisted_rdd_ids(spark) - before
    assert held, "the operator held no frame"
    release_held()
    assert not held & _persisted_rdd_ids(spark)
