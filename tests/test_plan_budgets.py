"""Plan budgets: the stage boundaries the engine is designed around,
asserted on the executed plan of each unexecuted frame. A budget is
the exact ``(hash exchanges, range exchanges, BroadcastHashJoin,
SortMergeJoin)`` count, so one added exchange, or a join that stops
broadcasting, fails its case. The pruning tests pin the literal scan
filters and the runtime skew split that a count cannot show. Frames
are built over a cached input: planning over the raw ``gen.transcripts``
expression tree can exhaust the driver heap inside ``executedPlan()``.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from logshipper_spark import aggregate, anomaly, gen, pipeline, route, skew
from logshipper_spark import temporal, transcript
from logshipper_spark.datapipe import decontam, dedup, dsir, filters, lm
from logshipper_spark.datapipe import packing, sampling, similarity
from logshipper_spark.datapipe import textstats, tokenize
from logshipper_spark.session import release_held

from .conftest import plan_string
from .test_datapipe import SF_DIR

ORDER = ["ts", "conv_id", "turn_idx"]
_COUNTED = (r"Exchange hashpartitioning", r"Exchange rangepartitioning",
            r"BroadcastHashJoin", r"SortMergeJoin")


def plan_counts(df) -> tuple[int, int, int, int]:
    """``(hash exchanges, range exchanges, BroadcastHashJoin,
    SortMergeJoin)`` in ``df``'s executed plan. A cached subtree is
    printed under each of its consumers, so its operators count once
    per consumer although they execute once."""
    s = plan_string(df)
    return tuple(len(re.findall(p, s)) for p in _COUNTED)


@pytest.fixture(scope="module")
def tr(spark):
    t = gen.transcripts(spark, 10_000).cache()
    t.count()
    yield t
    t.unpersist()


@pytest.fixture(scope="module")
def enr(spark, tr):
    return pipeline.normalize_and_enrich(spark, tr)


def _cached_read(spark, table):
    # cached like test_datapipe's fixtures: a cached relation replaces
    # every matching read, so plans must not depend on module order
    df = spark.read.parquet(f"{SF_DIR}/{table}.parquet").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def docs(spark):
    return _cached_read(spark, "documents")


@pytest.fixture(scope="module")
def events(spark):
    # not cached: test_parquet_scan_pushdown reads the same file
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return _cached_read(spark, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


@pytest.fixture(scope="module")
def ivf_dir(emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan_ivf"))
    similarity.write_ivf_index(emb, path, num_cells=16, dim=_dim(emb))
    return path


@pytest.fixture(autouse=True)
def _release_held_frames():
    yield
    release_held()


def _dim(emb) -> int:
    return len(emb.filter("vec_id = 0").head()["embedding"])


def _probe(tr):
    return tr.select("conv_id", "turn_idx", F.col("role").alias("key"), "ts")


def _deploys(tr):
    return tr.filter(
        (F.crc32(F.col("conv_id")) % 37 == 0) & (F.col("turn_idx") == 0)
    ).select(F.col("role").alias("key"), "ts",
             (F.crc32(F.col("conv_id")) % 100000).alias("ver"))


def _incidents(tr):
    return tr.filter(
        (F.crc32(F.col("conv_id")) % 97 == 0) & (F.col("turn_idx") == 0)
    ).select(F.col("conv_id").alias("iid"), F.col("role").alias("key"),
             F.col("ts").alias("start_ts"),
             F.expr("ts + make_dt_interval(0, 2, 0, 0)").alias("end_ts"))


def _ivf_pq_knn_join(fx):
    emb, path = fx("emb"), str(fx("tmp_path") / "ivfpq")
    books = similarity.pq_fit(emb, m=4, codes_per_sub=8, dim=_dim(emb),
                              max_iter=2)
    cents = similarity.kmeans_fit(emb, num_cells=8, dim=_dim(emb), max_iter=2)
    similarity.write_ivf_pq(emb, path, cents, books)
    return similarity.ivf_pq_knn_join(
        fx("spark"), path, emb.filter("vec_id < 8"), k=5, n_probe=3)


def _sentence_chunks(fx):
    text = F.regexp_replace("text", r"([a-z]+ [a-z]+ [a-z]+) ", r"$1. ")
    return packing.sentence_chunks(
        fx("docs").select("doc_id", text.alias("text")),
        max_sentences=4, stride=2)


def _url_filter(fx):
    url = F.concat(
        F.lit("https://sub"), (F.col("doc_id") % 97).cast("string"),
        F.lit(".ex"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/p/"), F.col("doc_id").cast("string"))
    blocked = fx("spark").createDataFrame(
        [(f"ex{i}.com",) for i in range(3)], "domain string")
    return filters.url_filter(
        fx("docs").select("doc_id", url.alias("url")), blocked)


def _lm_score(fx):
    model, oov = lm.fit_unigram_lm(fx("docs"))
    return lm.lm_score(fx("docs"), model, oov)


def _dsir_select(fx):
    docs = fx("docs")
    model, oov = dsir.fit_dsir(docs.filter("doc_id % 11 = 0"), docs)
    return dsir.dsir_select(dsir.dsir_weights(docs, model, oov), k=50)


def _representatives(fx):
    docs = fx("docs")
    labels = docs.select("doc_id", (F.col("doc_id") % 50).alias("component"))
    return dedup.representatives(
        labels, docs.select("doc_id", F.col("n_chars").alias("score")))


# (case id, frame builder over the fixture getter, budget)
BUDGETS = [
    # the whole parse → enrich chain is one projection (both lookups are
    # compiled into it, no join) plus the single turn-ordering window.
    # Every row over fx("enr") lost the roles lookup's BroadcastHashJoin
    # when enrich_roles stopped joining.
    ("normalize_and_enrich", lambda fx: fx("enr"), (1, 0, 0, 0)),
    # phase 1 shares one (edge, time-block) exchange between the
    # block window and the partial groupBy; phase 2 merges per edge
    ("edge_agg", lambda fx: aggregate.edge_agg(
        fx("enr"), ts_col="event_ts", order_cols=ORDER), (2, 0, 0, 0)),
    ("edge_agg_single_window", lambda fx: aggregate.edge_agg(
        fx("enr"), ts_col="event_ts", order_cols=ORDER, ring_block_s=None),
     (1, 0, 0, 0)),
    ("route.sink_counts", lambda fx: route.sink_counts(
        route.routed_rows(fx("enr"), gen.routing_rules()), ts_col="ts"),
     (1, 0, 0, 0)),
    ("skew.turn_rank_salted", lambda fx: skew.turn_rank_salted(
        fx("tr"), block_size=1024), (3, 0, 1, 0)),
    ("anomaly.rolling_zscore", lambda fx: anomaly.rolling_zscore(
        fx("enr").filter("src_service <> ''").selectExpr(
            "src_service AS k", "ts", "conv_id", "turn_idx",
            "latency_us / 1000.0 AS value"),
        key_cols=["k"], value_col="value", order_cols=ORDER), (1, 0, 0, 0)),
    # three ROLLUP levels through one map-side-combined exchange
    ("aggregate.edge_rollup", lambda fx: aggregate.edge_rollup(fx("enr")),
     (1, 0, 0, 0)),
    ("transcript.conv_stats", lambda fx: transcript.conv_stats(fx("tr")),
     (1, 0, 0, 0)),
    # no join operator: build and probe rows share one window shuffle
    ("temporal.asof_join", lambda fx: temporal.asof_join(
        _probe(fx("tr")), _deploys(fx("tr")), ["key"], payloads=["ver"],
        tiebreak="ver"), (1, 0, 0, 0)),
    ("temporal.asof_join_blocked", lambda fx: temporal.asof_join_blocked(
        _probe(fx("tr")), _deploys(fx("tr")), ["key"], payloads=["ver"],
        tiebreak="ver", block_s=3600), (3, 0, 1, 0)),
    # the small incident side broadcasts into the (key, bucket) equi-join
    # at the default and at a narrower bucket width
    ("temporal.range_join_broadcast", lambda fx: temporal.range_join(
        _probe(fx("tr")), _incidents(fx("tr")), ["key"]), (0, 0, 1, 0)),
    ("temporal.range_join_bucketed", lambda fx: temporal.range_join(
        _probe(fx("tr")), _incidents(fx("tr")), ["key"],
        bucket_width_s=1800), (0, 0, 1, 0)),
    ("similarity.ivf_knn_join", lambda fx: similarity.ivf_knn_join(
        fx("spark"), fx("ivf_dir"), fx("emb").filter("vec_id < 8"), k=5,
        dim=_dim(fx("emb"))), (1, 0, 1, 0)),
    ("similarity.ivf_pq_knn_join", _ivf_pq_knn_join, (1, 0, 1, 0)),
    # the datapipe filter family fuses into the scan: zero shuffles
    ("filters.repetition_stats+pii_scrub", lambda fx: filters.pii_scrub(
        filters.repetition_stats(fx("docs")), text_col="text"),
     (0, 0, 0, 0)),
    ("filters.html_extract", lambda fx: filters.html_extract(fx("docs")),
     (0, 0, 0, 0)),
    ("packing.sentence_chunks", _sentence_chunks, (0, 0, 0, 0)),
    # the domain blocklist broadcasts; the corpus never shuffles for it
    ("filters.url_filter", _url_filter, (1, 0, 1, 0)),
    # the corpus side only probes the broadcast benchmark gram set
    ("decontam.decontaminate", lambda fx: decontam.decontaminate(
        fx("docs"), fx("docs").filter("doc_id % 97 = 0"), n=5), (2, 0, 2, 0)),
    # the model join broadcasts by hint; over the cached corpus the
    # never-drop restore join plans as a SortMergeJoin (the in-memory
    # size estimate exceeds the broadcast threshold)
    ("lm.lm_score", _lm_score, (4, 0, 1, 1)),
    ("tokenize.tokenize_ids", lambda fx: tokenize.tokenize_ids(
        fx("docs"), tokenize.vocab_build(fx("docs"), max_size=1000,
                                         min_count=2)), (2, 0, 1, 0)),
    # the cached posting subtree is printed under both of its
    # consumers, so its exchanges count twice; it executes once
    ("textstats.bm25_topk", lambda fx: textstats.bm25_topk(
        fx("docs"), textstats.prefix_queries(fx("docs"), mod=37, rem=3,
                                             n_tokens=5),
        k=5, max_df_frac=0.9), (6, 0, 4, 0)),
    # the persisted model prints its final and initial plan (two count
    # exchanges and the full-outer SortMergeJoin each) under both of
    # its consumers: 8 of the 11 exchanges and all 4 sort-merge joins
    ("dsir.dsir_select", _dsir_select, (11, 0, 3, 4)),
    # the hot-key decompositions' callers (skew.block_prefix_sums and
    # skew.salted_topk). The feed reads fx("enr") in both branches, so
    # the roles join counted twice; without it the estimated size of the
    # enriched 10k rows fell from ~1.27 GB (a left join estimates as the
    # product of its sides) to ~1.9 MB, the per-(edge, block) offsets
    # side fits the broadcast threshold, and the offsets join-back is a
    # BroadcastHashJoin instead of a SortMergeJoin over one more exchange
    ("anomaly.edge_metric_feed", lambda fx: anomaly.edge_metric_feed(
        fx("enr"), order_cols=ORDER), (3, 0, 1, 0)),
    ("anomaly.rolling_zscore_blocked", lambda fx:
     anomaly.rolling_zscore_blocked(fx("events"), ["event_type"],
                                    block_size=256), (9, 0, 4, 0)),
    ("sampling.token_budget_head", lambda fx: sampling.token_budget_head(
        fx("docs"), budget=2000), (3, 0, 1, 0)),
    ("sampling.quantile_bins", lambda fx: sampling.quantile_bins(
        fx("docs"), k=4, score_col="n_chars", group_col="source"),
     (7, 0, 3, 0)),
    ("packing.shard_plan", lambda fx: packing.shard_plan(
        fx("docs"), target_bytes=4000), (2, 0, 1, 0)),
    ("sampling.topk_per_group", lambda fx: sampling.topk_per_group(
        fx("docs"), ["source"], k=5), (2, 0, 0, 0)),
    ("textstats.trending_terms", lambda fx: textstats.trending_terms(
        fx("tr")), (3, 0, 0, 0)),
    ("dedup.representatives", _representatives, (3, 0, 2, 1)),
]


@pytest.mark.parametrize(
    "build, budget", [pytest.param(b, n, id=i) for i, b, n in BUDGETS]
)
def test_plan_budget(request, build, budget):
    assert plan_counts(build(request.getfixturevalue)) == budget


def test_parquet_scan_pushdown(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = plan_string(ev.filter("event_type = 'error' AND value > 50")
                 .select("event_id", "value"))
    assert ("PushedFilters: [IsNotNull(event_type), IsNotNull(value), "
            "EqualTo(event_type,error), GreaterThan(value,50.0)]") in plan
    assert ("ReadSchema: struct<event_id:bigint,event_type:string,"
            "value:double>") in plan


def test_ivf_knn_join_prunes_to_literal_cells(spark, emb, ivf_dir):
    """The distinct probe cells reach the index scan as a literal
    ``cell IN`` partition filter, independent of dynamic partition
    pruning."""
    knn = similarity.ivf_knn_join(
        spark, ivf_dir, emb.filter("vec_id < 8"), k=5, dim=_dim(emb))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan_string(knn))
    assert m and re.match(r"cell#\d+ (IN \(|INSET )\d", m.group(1))


def test_ivf_knn_join_splits_hot_cell(spark, tmp_path):
    """With 97% of the corpus in one cell and the join forced off
    broadcast, AQE's skew join splits the hot cell's shuffle partition
    at runtime."""
    corpus = spark.range(62000).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(16)), lambda j: F.when(
            F.col("id") < 60000,  # the hot cluster
            F.lit(1.0) + F.pmod(F.col("id") * 13 + j, F.lit(7)) * 0.01,
        ).otherwise(
            F.pmod(F.col("id") * 31 + j * 17, F.lit(40)) / 10.0 - 2.0
        )).alias("embedding"),
    )
    similarity.write_ivf_index(corpus, str(tmp_path), num_cells=8, dim=16)
    # scaled down from the 256MB default threshold to this corpus
    forced = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k, None) for k in forced}
    try:
        for k, v in forced.items():
            spark.conf.set(k, v)
        sknn = similarity.ivf_knn_join(
            spark, str(tmp_path), corpus.filter("vec_id % 400 = 0"), k=5,
            num_cells=8, n_probe=2, dim=16)
        sknn.collect()
        plan = plan_string(sknn)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert len(re.findall(r"skew=true", plan)) == 1
    assert re.search(r"AQEShuffleRead [a-z ]*skewed", plan)
