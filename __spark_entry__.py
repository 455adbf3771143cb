"""Driver contract for the spark-graft builder (PySpark target).

Every operator family from SURVEY.md §2 is exposed here twice: as a
`queries()` callable (our Spark implementation) and, where ANSI-SQL can
express the exact semantics, as an `oracle_sql()` DuckDB query over the
same parquet tables. The parse-layer queries use a *roundtrip* oracle:
log/transcript text is constructed deterministically from `events`
columns, our parse layer extracts fields from the text, and the oracle
recomputes the expected fields directly from the source columns — an
independent ground truth, not a re-implementation of the parser.

Hash-based operators (MinHash, SimHash, xxhash fingerprints, LSH
buckets) have no DuckDB twin for their *values*, but their pair
semantics do: planted exact-duplicate corpora make the ground-truth
pair set SQL-computable (see the dedup query section). The pipeline
queries read a materialized enriched parquet so DuckDB recomputes
routing/aggregation/detection from the same bytes. ``graph_cycles`` is
oracled as cycle *membership* (node reaches itself — a recursive CTE in
DuckDB); the path-reporting DFS remains a unit-tested reporting layer.
Every query has an oracle as of round 3.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logshipper_spark import aggregate as agg
from logshipper_spark import (
    anomaly, enrich, formats, gen, graphalg, parse, pipeline, route, sinks,
    skew, template, temporal, transcript, transform,
)
from logshipper_spark.datapipe import (
    bpe,
    compaction,
    curate,
    decontam,
    dedup,
    dsir,
    filters,
    lm,
    multimodal,
    packing,
    pruning,
    sampling,
    semdedup,
    similarity,
    substr,
    textstats,
    tokenize,
)
from logshipper_spark.schemas import DEFAULT_INGEST_TS
from logshipper_spark.session import release_held

SF_SMOKE = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ── shared synthesized normalized view over `events` (oracle mirror in SQL) ──

_FED_SQL = """
    SELECT event_id, ts,
           'svc-' || CAST(user_id % 8 AS VARCHAR) AS src,
           'dst-' || CAST(user_id % 5 AS VARCHAR) AS dst,
           event_type AS op,
           CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS status_code,
           CAST(floor(value * 1000) AS BIGINT) AS latency_us
    FROM events
"""

_BASE_SQL = """
    SELECT src, dst, op,
           COUNT(*) AS call_count,
           CAST(SUM(CASE WHEN status_code >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS error_count,
           CAST(SUM(latency_us) AS BIGINT) AS latency_sum_us,
           MIN(ts) AS first_seen, MAX(ts) AS last_seen
    FROM fed GROUP BY src, dst, op
"""


def _events_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").selectExpr(
        "event_id",
        "ts",
        "'svc-' || CAST(user_id % 8 AS STRING) AS src_service",
        "'dst-' || CAST(user_id % 5 AS STRING) AS dst_service",
        "event_type AS operation",
        "CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS status_code",
        "CAST(floor(value * 1000) AS LONG) AS latency_us",
    )


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.edge_agg(
        _events_normalized(spark, sf_dir), ts_col="ts", order_cols=["ts", "event_id"]
    )


# ── aggregate queries (A1–A13) ──


def q_edge_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _edges(spark, sf_dir)


def q_edge_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.derived_edge_metrics(_edges(spark, sf_dir)).select(
        "src", "dst", "op", "call_count", "error_rate", "avg_latency_us"
    )


def q_service_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.service_rollup(_edges(spark, sf_dir))


def q_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.first_seen_edges(_events_normalized(spark, sf_dir), ts_col="ts")


def q_p99_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events_normalized(spark, sf_dir)
    d = df.groupBy(F.col("src_service").alias("src")).agg(
        F.sort_array(F.collect_list("latency_us")).alias("_l"),
    )
    # collect_list skips nulls, so the guard/index must use the ring's
    # own size — reuse the engine's calcP99(nil)-parity helper
    return d.select("src", agg._ring_p99(F.col("_l")).alias("p99_us"))


def q_edge_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL-sessionized edge lifetimes (re-appearing edge is new again);
    oracle = lag-gap sessionization, which session_window must match."""
    return agg.edge_sessions(_events_normalized(spark, sf_dir), ts_col="ts", ttl="1 day")


def q_upstream_downstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen2 split: edges into/out of one service (A11)."""
    edges = _edges(spark, sf_dir)
    return agg.upstream_downstream(edges, "svc-3").select(
        "src", "dst", "op", "call_count", "direction"
    )


def q_graph_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: distinct node set of the service graph (graph.go:78-79)."""
    return agg.nodes(_edges(spark, sf_dir))


def q_last_n_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen3 last-N ring per edge (W9)."""
    df = _events_normalized(spark, sf_dir)
    return agg.last_n_events(
        df, n=5, key_cols=["src_service"], order_cols=["ts", "event_id"]
    ).select("src_service", "event_id")


def q_service_sort_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen1 filter+sort over the rollup (W6/W7)."""
    rollup = agg.service_rollup(_edges(spark, sf_dir))
    return agg.sort_services(agg.filter_services(rollup, "1"), by="risk", asc=False)


def q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated p50/p95/p99 per service (the reference's bench
    report shape, W10)."""
    df = _events_normalized(spark, sf_dir)
    eps = F.lit(1e-9)
    pct = F.percentile(F.col("latency_us"), F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)))
    d = df.groupBy(F.col("src_service").alias("src")).agg(pct.alias("_p"))
    return d.select(
        "src",
        F.round(F.element_at("_p", 1) + eps, 3).alias("p50"),
        F.round(F.element_at("_p", 2) + eps, 3).alias("p95"),
        F.round(F.element_at("_p", 3) + eps, 3).alias("p99"),
    )


def q_event_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation key synthesis + IsMetric / HasCorrelationKey
    predicates (reference internal/event/)."""
    df = _events_normalized(spark, sf_dir).withColumn(
        "trace_id",
        F.expr("CASE WHEN event_id % 2 = 0 THEN 'tr-' || CAST(event_id AS STRING) ELSE '' END"),
    )
    return df.select(
        "event_id",
        parse.correlation_key(
            F.col("trace_id"), F.col("src_service"), F.col("dst_service"),
            F.col("operation"),
        ).alias("corr_key"),
        parse.is_metric_event(F.col("latency_us"), F.col("status_code")).alias("is_metric"),
        parse.has_correlation_key(
            F.col("trace_id"), F.col("src_service"), F.col("dst_service")
        ).alias("has_corr"),
    )


def q_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", parse.truncate_message(F.col("text"), 120).alias("short")
    )


def q_topk_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _edges(spark, sf_dir).select("src", "dst", "op", "call_count").orderBy(
        F.col("call_count").desc(), "src", "dst", "op"
    ).limit(10)


def q_zscore_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    scored = anomaly.rolling_zscore(
        ev, key_cols=["user_id"], value_col="value",
        order_cols=["ts", "event_id"], window_size=100, threshold=3.0,
    )
    # +1e-9 before rounding: means of 2-decimal inputs land exactly on
    # round-half boundaries, where engines tie-break differently; the
    # nudge moves every value off the boundary by far more than the
    # cross-engine summation noise (~1e-13) without changing any
    # non-boundary digit.
    eps = F.lit(1e-9)
    return scored.select(
        "event_id", "user_id",
        F.round(F.col("mean") + eps, 4).alias("mean_r"),
        F.round(F.col("stddev") + eps, 4).alias("stddev_r"),
        F.round(F.col("zscore") + eps, 4).alias("zscore_r"),
        "n_samples", "is_anomaly",
    )


def q_zscore_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded two-phase rolling window (rolling_zscore_blocked): the
    oracle pins the EXACT outputs — windowed count and mean over the
    integer-quantized metric (cents: floor(value*100 + 0.5)). Integer
    prefix sums make the windowed sum exact, so mean = sum/n is the
    same IEEE division in both engines — no rounding needed. The
    float stddev/z recomposition is covered by the 1e-8 parity unit
    test instead (last-ulp vs incremental moments)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v100"),
    )
    out = anomaly.rolling_zscore_blocked(
        ev, key_cols=["user_id"], value_col="v100", order_col="event_id",
        window_size=100, block_size=256,
    )
    return out.select("event_id", "user_id", "n_samples", "mean")


def q_error_rate_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector metric feed: latency + order-dependent cumulative error
    rate per edge under stable ordering (reference graph.go:149-152)."""
    return anomaly.edge_metric_feed(
        _events_normalized(spark, sf_dir),
        key_cols=["src_service", "dst_service", "operation"],
        order_cols=["ts", "event_id"],
        ts_col="ts",
    )


def q_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.time_buckets(
        _t(spark, sf_dir, "events"), ts_col="ts", duration="1 minute",
        extra_keys=["event_type"],
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "raw", F.from_json("props", "map<string,string>")
    )
    return ev.select(
        "event_id",
        parse.first_string(F.col("raw"), ["missing_key", "k"]).alias("k_str"),
        F.try_element_at(F.col("raw"), F.lit("k")).cast("int").alias("k_int"),
    )


# ── parse-layer roundtrips (P1–P20): text constructed from events columns,
#    oracle recomputes expected fields from the source columns directly ──


def _jpart(*cols) -> F.Column:
    return F.concat(*[c if not isinstance(c, str) else F.lit(c) for c in cols])


def _parse_json_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    lat = F.expr("CAST(floor(value * 100) AS LONG)").cast("string")
    even = F.expr("event_id % 2 = 0")
    m3 = F.expr("event_id % 3")
    status = F.expr(
        "CAST(CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS STRING)"
    )
    level_in = F.expr("CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'Info' END")
    svc = F.expr("'svc-' || CAST(user_id % 8 AS STRING)")
    dst = F.expr("'dst-' || CAST(user_id % 5 AS STRING)")
    tr = F.expr("'tr-' || CAST(event_id AS STRING)")
    tss = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")

    key = lambda a, b: F.when(even, F.lit(a)).otherwise(F.lit(b))  # noqa: E731
    lat_part = (
        F.when(m3 == 0, _jpart('"latency":"', lat, 'ms"'))
        .when(m3 == 1, _jpart('"duration_ms":', lat))
        .otherwise(_jpart('"latency":"', lat, 'us"'))
    )
    status_part = F.when(even, _jpart('"status_code":', status)).otherwise(
        _jpart('"status":"', status, '"')
    )
    op_part = F.when(
        even, _jpart('"operation":"do_', F.col("event_type"), '"')
    ).otherwise(_jpart('"method":"GET","url":"/', F.col("event_type"), '"'))

    text = _jpart(
        '{"', key("timestamp", "ts"), '":"', tss, '","',
        key("level", "severity"), '":"', level_in, '","',
        key("service", "app"), '":"', svc, '","',
        key("upstream", "target"), '":"', dst, '","',
        key("trace_id", "traceId"), '":"', tr, '",',
        lat_part, ",", status_part, ",", op_part, "}",
    )
    return ev.withColumn("text", text)


def q_parse_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = parse.parse_normalized(
        _parse_json_input(spark, sf_dir), text_col="text", source_name="oracle"
    )
    return parsed.select(
        "event_id", "format",
        F.col("event_ts").cast("timestamp_ntz").alias("event_ts"),
        "src_service", "dst_service", "operation", "status_code", "latency_us",
        "level", "trace_id",
    )


def _parse_ecs_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    lat_ns = F.expr("CAST(floor(value * 100) AS LONG) * 1000000").cast("string")
    even = F.expr("event_id % 2 = 0")
    status = F.expr(
        "CAST(CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS STRING)"
    )
    level_in = F.expr("CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'Info' END")
    svc = F.expr("'svc-' || CAST(user_id % 8 AS STRING)")
    dst = F.expr("'dst-' || CAST(user_id % 5 AS STRING)")
    tr = F.expr("'tr-' || CAST(event_id AS STRING)")
    tss = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    url_part = F.when(
        even, _jpart('"url":{"path":"/p/', F.col("event_id").cast("string"), '"},')
    ).otherwise(F.lit(""))
    text = _jpart(
        '{"@timestamp":"', tss, '",',
        '"log":{"level":"', level_in, '"},',
        '"service":{"name":"', svc, '"},',
        '"trace":{"id":"', tr, '"},',
        '"http":{"request":{"method":"get"},"response":{"status_code":', status, "}},",
        '"event":{"duration":', lat_ns, "},",
        '"destination":{"address":"', dst, '"},',
        url_part,
        '"message":"ecs"}',
    )
    return ev.withColumn("text", text)


def q_parse_ecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = parse.parse_normalized(
        _parse_ecs_input(spark, sf_dir), text_col="text", source_name="oracle"
    )
    return parsed.select(
        "event_id", "format",
        F.col("event_ts").cast("timestamp_ntz").alias("event_ts"),
        "src_service", "dst_service", "operation", "status_code", "latency_us",
        "level", "trace_id", "span_id",
    )


def q_parse_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    m4 = F.expr("event_id % 4")
    svc = F.expr("'svc-' || CAST(user_id % 8 AS STRING)")
    lat = F.expr("CAST(floor(value * 100) AS LONG)").cast("string")
    secs = F.expr("unix_seconds(CAST(ts AS TIMESTAMP))").cast("string")
    text = (
        F.when(m4 == 0, _jpart('{"service":"', svc, '","message":"hello"}'))
        .when(
            m4 == 1,
            _jpart(
                '{"metric":"req_ms","value":', lat, ',"service":"', svc,
                '","timestamp":', secs, "}",
            ),
        )
        .when(m4 == 2, _jpart("plain hello #", F.col("event_id").cast("string")))
        .otherwise(F.lit(""))
    )
    parsed = parse.parse_normalized(
        ev.withColumn("text", text), text_col="text", source_name="stdin"
    )
    return parsed.select(
        "event_id", "format", "operation", "src_service",
        F.col("event_ts").cast("timestamp_ntz").alias("event_ts"), "parse_ok",
    )


NGINX_TEMPLATE = (
    '$remote_addr - $remote_user [$time_local] "$request" '
    "$status $body_bytes_sent $request_time"
)


def q_template_nginx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    tl = F.concat(F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss"), F.lit(" +0000"))
    status = F.expr(
        "CASE WHEN event_type = 'error' THEN '500' WHEN event_type = 'click' "
        "THEN '404' ELSE '200' END"
    )
    line = F.concat(
        F.expr("'10.0.' || CAST(user_id % 200 AS STRING) || '.9'"),
        F.lit(" - - ["), tl, F.lit('] "'),
        F.expr("'GET /p/' || CAST(event_id AS STRING) || ' HTTP/1.1'"),
        F.lit('" '), status, F.lit(" "),
        F.expr("CAST(floor(value * 100) AS LONG)").cast("string"), F.lit(" "),
        F.expr("CAST(floor(value) AS LONG)").cast("string"),
    )
    tmpl = template.TemplateParser(NGINX_TEMPLATE)
    parsed = tmpl.parse_normalized(
        ev.withColumn("text", line), text_col="text", source_name="nginx"
    )
    return parsed.select(
        "event_id", "template_matched", "operation", "status_code", "latency_us",
        "level", F.col("event_ts").cast("timestamp_ntz").alias("event_ts"),
    )


def q_parse_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-only formats roundtrip: syslog 5424/3164, python logging,
    logfmt lines constructed from events columns; oracle recomputes the
    expected fields directly."""
    ev = _t(spark, sf_dir, "events")
    m4 = F.expr("event_id % 6")
    svc = F.expr("'svc-' || CAST(user_id % 8 AS STRING)")
    lat = F.expr("CAST(floor(value * 100) AS LONG)").cast("string")
    iso_ms = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    iso_s = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    line = (
        F.when(m4 == 0, _jpart("<165>1 ", iso_ms, " host1 ", svc, " 42 MID - started"))
        .when(
            m4 == 1,
            _jpart("<11>", F.date_format("ts", "MMM d HH:mm:ss"), " host2 ", svc,
                   "[7]: cron tick"),
        )
        .when(
            m4 == 2,
            _jpart(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"), ",",
                   F.date_format("ts", "SSS"), " - worker.", svc,
                   " - ERROR - job failed"),
        )
        .when(
            m4 == 3,
            _jpart("level=warn service=", svc, " latency=", lat,
                   "ms status=404 ts=", iso_s),
        )
        .when(
            m4 == 4,
            _jpart('request failed for user {"service":"', svc,
                   '","level":"warn","duration_ms":', lat,
                   ',"ts":"', iso_ms, '"}'),
        )
        .otherwise(
            _jpart('{"log":"inner plain line","stream":"stdout","time":"',
                   iso_ms, '"}'),
        )
    )
    # sever the generated-text tree before the parse layer (the
    # gen.transcripts precedent): fused gen+parse whole-stage codegen
    # compiles past the 64 KB method limit and silently drops the whole
    # stage to interpreted eval
    gen_ev = ev.withColumn("text", line).cache()
    parsed = formats.parse_extended(gen_ev, text_col="text", source_name="mixed")
    return parsed.select(
        "event_id", "format", "level", "src_service", "status_code", "latency_us",
        F.col("event_ts").cast("timestamp_ntz").alias("event_ts"),
    )


def q_parse_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-family nested-JSON roundtrip (normalization-spec.md:91,
    355-385, 250-291): six line shapes constructed from events columns
    exercise depth-5 top-level flattening, depth-3 message-string
    merging with Message cleared, the depth cap (raw-JSON remainder),
    first-win duplicate keys, and both _parse_warn cases; the oracle
    recomputes every output from the source columns directly."""
    ev = _t(spark, sf_dir, "events")
    m6 = F.expr("event_id % 6")
    eid = F.col("event_id").cast("string")
    svc = F.expr("'svc-' || CAST(user_id % 8 AS STRING)")
    uid = F.col("user_id").cast("string")
    tss = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    line = (
        F.when(m6 == 0, _jpart(
            '{"timestamp":"', tss, '","level":"INFO","service":"', svc,
            '","ctx":{"user":{"id":"', uid, '","tier":"gold"},"region":"eu"},'
            '"message":"hello"}',
        ))
        .when(m6 == 1, _jpart(
            '{"time":"', tss, '","msg":"{\\"trace_id\\":\\"tr-', eid,
            '\\",\\"depth\\":{\\"k\\":\\"v\\"}}","severity":"warn"}',
        ))
        .when(m6 == 2, _jpart(
            '{"ts":"notatime","http":{"response":{"status_code":"OK"}},'
            '"body":"evt ', eid, '"}',
        ))
        .when(m6 == 3, _jpart(
            '{"a":{"b":{"c":{"d":{"e":{"f":"', eid, '"}}}}},"app":"', svc, '"}',
        ))
        .when(m6 == 4, F.lit('{"dup.k":"top","dup":{"k":"nested"},"level":"ERROR"}'))
        .otherwise(_jpart("plain ", eid))
    )
    from logshipper_spark import nested

    out = nested.parse_nested(ev.withColumn("text", line))
    a = lambda k: F.coalesce(F.try_element_at("attrs", F.lit(k)), F.lit(""))  # noqa: E731
    return out.select(
        "event_id",
        F.col("event_ts").cast("timestamp_ntz").alias("event_ts"),
        "level", "service", "message",
        F.size("attrs").alias("n_attrs"),
        a("ctx.user.id").alias("a_user"),
        a("ctx.user.tier").alias("a_tier"),
        a("a.b.c.d.e").alias("a_deep"),
        a("msg.trace_id").alias("m_trace"),
        a("msg.depth.k").alias("m_k"),
        a("dup.k").alias("a_dup"),
        F.concat_ws("; ", "parse_warn").alias("warn"),
    )


def q_turn_rank_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted row_number == plain window row_number (W11 at
    hot-conversation scale); events play the transcript role with
    user_id as conv and event_id as the ordering key."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id")
    return skew.turn_rank_salted(
        ev, conv_col="user_id", turn_col="event_id", block_size=512
    )


# ── transforms (T1–T3) ──


def q_case_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        transform.apply_case(F.col("text"), "snake").alias("snake"),
        transform.apply_case(F.col("text"), "camel").alias("camel"),
    )


def q_transform_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2: static-field merge into the raw map — a static field
    OVERWRITES an existing raw key (Go map assignment, remap.go:23-25)
    — plus upper/lower message case (remap.go:27-37)."""
    facts = _t(spark, sf_dir, "events").selectExpr(
        "event_id",
        "map('kind', event_type, 'env', 'staging') AS raw",
        "'Handled ' || event_type || ' #' || CAST(event_id AS STRING) AS text",
    )
    out = transform.remap(facts, add={"env": "prod", "region": "eu-1"}, case="upper")
    return out.select(
        "event_id",
        F.element_at("raw", F.lit("kind")).alias("kind"),
        F.element_at("raw", F.lit("env")).alias("env"),
        F.element_at("raw", F.lit("region")).alias("region"),
        F.col("text").alias("text_upper"),
        transform.apply_case(F.col("text"), "lower").alias("text_lower"),
    )


# ── enrichment / resolver (J1–J7) ──


def q_enrich_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    facts = _t(spark, sf_dir, "events").selectExpr(
        "event_id",
        "CASE user_id % 4 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' "
        "WHEN 2 THEN 'system' ELSE 'tool' END AS role",
        "CASE WHEN user_id % 4 = 3 THEN (CASE event_id % 2 WHEN 0 THEN 'search' "
        "ELSE 'db_query' END) ELSE '' END AS tool",
    )
    return enrich.enrich_roles(facts, gen.lookup_roles(spark)).select(
        "event_id", "role", "tool", "team", "cost_tier", "sink_hint"
    )


def q_resolver_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    facts = _t(spark, sf_dir, "events").selectExpr(
        "event_id",
        "CASE user_id % 5 WHEN 0 THEN 'db' "
        "WHEN 1 THEN 'node' || CAST(user_id % 3 AS STRING) || '.redis.svc' "
        "WHEN 2 THEN 'cache' "
        "WHEN 3 THEN 'unknown-' || CAST(user_id % 7 AS STRING) "
        "ELSE 'MAILER' END AS dst_service",
        "'' AS src_service",
        "'stdin' AS source_name",
    )
    return enrich.resolve_services(
        facts, gen.lookup_hosts(spark), docker_replicas=True
    ).select("event_id", "dst_service", "src_service")


# ── routing fan-out + per-sink windowed counts (K3, A12–A13) ──

_EVENT_RULES = [
    ("sink_errors", "event_type = 'error'", 0),
    ("sink_big", "value > 50.0", 1),
    ("sink_default", "true", 2),
]


def q_fanin_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: multi-source fan-in. Sources project their columns in
    different orders; the merge is by NAME (a positional union would
    silently swap fields), and every per-source row survives."""
    ev = _t(spark, sf_dir, "events")
    a = ev.selectExpr("event_id", "'file' AS source_name", "event_type AS kind")
    b = ev.filter("event_id % 3 = 0").selectExpr(
        "'docker' AS source_name", "event_type AS kind", "event_id"
    )
    merged = a.unionByName(b)
    return merged.groupBy("source_name", "kind").agg(F.count("*").alias("cnt"))


def q_routing_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = route.routed_rows(_t(spark, sf_dir, "events"), _EVENT_RULES)
    return routed.groupBy("sink").agg(F.count("*").alias("cnt"))


def q_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    facts = _t(spark, sf_dir, "events").selectExpr(
        "event_id", "ts", "event_type", "value",
        "'u' || CAST(user_id % 50 AS STRING) AS conv_id",
        "CASE WHEN event_type = 'click' THEN 'search' ELSE '' END AS tool",
        "CASE WHEN event_type = 'error' THEN 'error' ELSE 'info' END AS level",
        "CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS status_code",
    )
    routed = route.routed_rows(facts, _EVENT_RULES)
    return route.sink_counts(routed, ts_col="ts", window_duration="1 minute")


# ── training-data pipeline ops (dedup / similarity / text stats) ──


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_t(spark, sf_dir, "documents")).select(
        "keep_id", "dup_count"
    )


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter("doc_id % 5 = 0")
    return dedup.ngram_jaccard_pairs(docs, k=1, threshold=0.5, max_shingle_df=100000)


def q_group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-domain embedding centroids (similarity.group_centroids
    as_micros form — pure integer arithmetic end-to-end): vectors
    grouped by vec_id%7. The oracle re-derives every per-dimension
    micro sum and the floor division (emulated exactly in integer
    arithmetic — DuckDB's // truncates where Spark's floor floors).
    Micros serialized space-joined (arrays can't hash)."""
    emb = _t(spark, sf_dir, "embeddings").selectExpr(
        "CAST(vec_id % 7 AS LONG) AS domain",
        "CAST(embedding AS array<double>) AS embedding",
    )
    out = similarity.group_centroids(
        emb, "domain", dim=IVF_DIM, as_micros=True
    )
    return out.select(
        "domain",
        F.concat_ws(
            " ", F.transform("centroid", lambda x: x.cast("string"))
        ).alias("centroid_micros"),
        "n_vectors",
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC crawl diff (report.snapshot_diff): cur = documents with
    %11==0 removed, %7==0 rewritten (' updated edition' appended),
    %13==0 re-added as new ids (+200000). The oracle re-derives the
    perturbation, the full-outer presence classification, and every
    signed token delta in SQL."""
    prev = _t(spark, sf_dir, "documents").select("doc_id", "text")
    kept = prev.filter("doc_id % 11 != 0").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 7 = 0 THEN concat(text, ' updated edition')"
        " ELSE text END AS text",
    )
    added = prev.filter("doc_id % 13 = 0").selectExpr(
        "doc_id + 200000 AS doc_id", "text"
    )
    from logshipper_spark.datapipe import report as report_mod

    return report_mod.snapshot_diff(prev, kept.unionByName(added))


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-subset pairs (dedup.containment_pairs): 8-token
    extracts of doc_id%10==0 docs (id+100000) are planted as
    'quotations' — containment 1.0 against their source while
    symmetric Jaccard stays low. Oracle re-derives the extracts and
    the common/least(|A|,|B|) metric via list_intersect all-pairs
    (the jaccard_pairs oracle family; df cutoff inert)."""
    docs = _t(spark, sf_dir, "documents").filter(
        "doc_id % 5 = 0 AND text IS NOT NULL AND trim(text) <> ''"
    )
    base = docs.select("doc_id", "text")
    ex = docs.filter("doc_id % 10 = 0").selectExpr(
        "doc_id + 100000 AS doc_id",
        "concat_ws(' ', slice(array_remove(split(lower(text), '\\\\s+'),"
        " ''), 1, 8)) AS text",
    )
    return dedup.containment_pairs(
        base.unionByName(ex), k=1, threshold=0.8, max_shingle_df=100000
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.text_stats(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "n_bpe_tokens", "quality", "lang_guess"
    )


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus accounting: the oracle recomputes every stat
    in SQL AND counts DISTINCT text directly, independently checking the
    Spark side's 128-bit-hash distinct count."""
    return textstats.corpus_stats(_t(spark, sf_dir, "documents"))


def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain curation screen over deterministically synthesized
    URLs (hash-free: host/path picked by doc_id modulus, one modulus
    class schemeless) — covers the blocklist hit, the multi-part
    suffix (example.co.uk), the path keyword, the dotless host, and
    the unparseable branch. The oracle re-derives host/path extraction,
    the registered-domain CASE, the blocklist membership, and the
    keyword screen entirely in SQL."""
    hosts = [
        "docs.example.com", "spam.badsite.com", "news.site.co.uk",
        "ads.tracker.net", "blog.example.co.uk", "", "plain",
        "weird.example.org",
    ]
    paths = ["article", "buy-now", "research", "casino"]
    did = F.col("doc_id")
    h = F.element_at(
        F.array(*[F.lit(x) for x in hosts]), (did % 8).cast("int") + 1
    )
    p = F.element_at(
        F.array(*[F.lit(x) for x in paths]), (did % 4).cast("int") + 1
    )
    url = F.when(
        did % 8 == 5, F.concat(F.lit("not-a-url-"), did.cast("string"))
    ).otherwise(
        F.concat(
            F.lit("https://"), h, F.lit("/"), p, F.lit("/"),
            did.cast("string"),
        )
    )
    d = _t(spark, sf_dir, "documents").select("doc_id").withColumn("url", url)
    blocked = spark.createDataFrame(
        [("badsite.com",), ("tracker.net",), ("example.co.uk",)],
        "domain string",
    )
    return filters.url_filter(d, blocked).select(
        "doc_id", "url", "host", "url_domain", "url_path",
        "blocked_domain", "blocked_path", "url_keep",
    )


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 repetition + word-shape stats, all exact integers.
    Spark computes them per-row (array_sort + linear fold, no shuffle);
    the oracle recomputes relationally (unnest n-grams → GROUP BY) —
    two independent formulations of the same multiset statistics."""
    return filters.repetition_stats(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        "n_tokens",
        "word_chars",
        "alpha_words",
        "n_bigrams",
        "top_bigram",
        "dup_bigram",
        "n_trigrams",
        "top_trigram",
        "dup_trigram",
        F.col("rep_keep").cast("int").alias("rep_keep"),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over deterministically augmented documents (the
    synthetic corpus carries no PII, so both engines append the same
    doc_id-derived email/IP/SSN/phone spans before scrubbing)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ssn 123-45-6789 tel 555-123-4567"),
        ).alias("text"),
    )
    return filters.pii_scrub(docs).select(
        "doc_id", "n_email", "n_ssn", "n_phone", "n_ipv4", "scrubbed"
    )


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget head sampling with a fully independent
    SQL oracle (running SUM window) — verifies the block-offset
    two-phase running sum end-to-end."""
    return sampling.token_budget_head(
        _t(spark, sf_dir, "documents"), budget=700, block_size=8
    ).select("doc_id", "source", "cum_tokens")


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning over planted multi-line documents: each
    doc gains a kept line (terminal punctuation, ≥3 words), a
    too-short line, a boilerplate line ('uses cookies'), and a second
    kept line. Oracle re-runs the line filter with DuckDB list ops."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    multi = docs.selectExpr(
        "doc_id",
        "concat(text, '.', '\n', 'tiny.', '\n', "
        "'this page uses cookies so beware.', '\n', "
        "'A good second sentence stands here!') AS text",
    )
    return filters.c4_line_clean(multi).select(
        "doc_id", "clean_text", "n_lines", "n_kept_lines", "c4_keep"
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction over deterministically wrapped documents:
    each doc's text becomes the body of a page with a script block
    (quoted JS), a style block (curly braces), an HTML comment, a
    heading with entities, one anchor, and — every 3rd doc — a nav div
    with two long anchors that pushes link density past the
    MAX_LINK_DENSITY_PCT screen. Oracle re-runs the identical
    RE2-compatible block/tag/entity chain in DuckDB."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    nav = F.when(
        F.col("doc_id") % 3 == 0,
        F.lit(
            '<div class="nav"><a href="/a">a b c d e f g h i j k l m n'
            '</a><a href="/b">longer anchor text that pushes link '
            "density higher for this page</a></div>"
        ),
    ).otherwise(F.lit(""))
    page = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><head><script type="text/javascript">var x=1; '
                  'alert("'),
            did,
            F.lit('");</script><style>body { color: red; }</style></head>'
                  "<body><!-- comment "),
            did,
            F.lit(" --><h1>Title &amp;amp; "),
            did,
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit(" &lt;tag&gt;&nbsp;&#39;q&quot;</p>"
                  '<a href="/x">click here '),
            did,
            F.lit("</a>"),
            nav,
            F.lit("</body></html>"),
        ).alias("text"),
    )
    return filters.html_extract(page).select(
        "doc_id",
        "extracted_text",
        "text_chars",
        "n_tags",
        "n_anchors",
        "anchor_chars",
        "html_keep",
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup (CCNet §3.1 boilerplate pass) over
    planted multi-line documents: every doc gains a per-source
    copyright footer (repeats across the ~25 docs of its source →
    removed; planted upper-cased to exercise the case-insensitive
    normalization), a per-doc unique tail (kept), and a short 'ok'
    line (< min_line_chars → exempt, kept). Every 5th doc's body is a
    fixed shared line (removed); other bodies are the distinct corpus
    texts (kept). Oracle re-derives document frequency and the rebuild
    from the raw lines in SQL."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    multi = docs.selectExpr(
        "doc_id",
        "concat(CASE WHEN doc_id % 5 = 0"
        " THEN 'This shared body line repeats across documents.'"
        " ELSE concat(text, '.') END, '\n',"
        " '(c) ', upper(source), ' all rights reserved.', '\n',"
        " 'unique tail for doc ', doc_id, '.', '\n', 'ok') AS text",
    )
    return dedup.line_dedup(multi).select(
        "doc_id", "clean_text", "n_lines", "n_removed_lines"
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix over a planted multi-source
    corpus: every 7th doc's text is mirrored into 'mirror_<source>'
    and every 13th doc's into a shared 'aggregator' source, so the
    matrix has mirror↔original rows, aggregator↔original rows, and
    (via doc_id % 91) aggregator↔mirror rows. Oracle re-derives the
    distinct (text, source) pairs and the key self-join in SQL."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    mirrored = docs.filter("doc_id % 7 = 0").selectExpr(
        "doc_id + 100000 AS doc_id", "text", "concat('mirror_', source) AS source"
    )
    agg = docs.filter("doc_id % 13 = 0").selectExpr(
        "doc_id + 200000 AS doc_id", "text", "'aggregator' AS source"
    )
    return dedup.source_overlap(docs.unionByName(mirrored).unionByName(agg))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 97th document's text forms the
    'benchmark' corpus, so those documents are contaminated by
    construction (plus any chance 5-gram collisions in the synthetic
    vocabulary — the oracle computes the identical exact overlap).
    Exact string-gram broadcast join — no hashes in the match path."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter("doc_id % 97 = 0")
    return decontam.decontaminate(docs, bench, n=5, min_overlap=1)


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing: every (document, chunk)
    overlap with exact slice positions. Fully independent SQL oracle —
    DuckDB re-derives the layout from a plain running-SUM window +
    generate_series explode, verifying both the block-offset running
    sum and the interval/chunk overlap arithmetic."""
    return packing.pack_chunks(
        _t(spark, sf_dir, "documents"), budget=64, block_size=16
    ).select("source", "chunk_id", "doc_id", "doc_begin", "doc_end", "chunk_pos")


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency vocabulary over the corpus: top-300 lower-cased
    whitespace tokens with count >= 2, dense ids from N_SPECIALS in
    (count DESC, token ASC) order. The oracle re-derives the count,
    the cutoff, and the rank arithmetic independently."""
    return tokenize.vocab_build(
        _t(spark, sf_dir, "documents"), max_size=300, min_count=2
    )


def q_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text → token-id sequences against the q_vocab_topk vocabulary:
    OOV → UNK(0), BOS/EOS wrapping, per-doc token/OOV accounting. The
    ids array is serialized to a space-joined string (driver
    canonicalizer cannot hash arrays); the oracle rebuilds the exact
    positional id sequence via generate_series indexing."""
    docs = _t(spark, sf_dir, "documents")
    vocab = tokenize.vocab_build(docs, max_size=300, min_count=2)
    out = tokenize.tokenize_ids(docs, vocab)
    return out.select(
        "doc_id",
        F.concat_ws(
            " ", F.transform("ids", lambda x: x.cast("string"))
        ).alias("ids_str"),
        "n_tokens",
        "n_oov",
    )


BPE_MERGES_PATH = "/tmp/spark_graft_contract/bpe_merges"


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE segmentation under a trained merge table — the APPLY half
    of L39 (bpe.py; the training loop's iterative argmax has no SQL
    twin and stays unit-verified). Training runs on the doc_id%2=0
    half (30 merges) and materializes the (rank, left, right) merge
    table; segmentation covers ALL documents, so the odd half
    exercises the unseen-word codepoint fallback. The oracle reads
    ONLY the merge bytes and re-derives every training word's piece
    sequence by replaying the merge list in rank order as a recursive
    CTE (one greedy left-to-right fold step per recursion row — the
    _merge_pair semantics), then rebuilds each document's positional
    piece stream and the fallback independently from the raw text."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    train = docs.filter("doc_id % 2 = 0")
    merges, word_pieces = bpe.bpe_train(train, num_merges=30)
    merges.coalesce(1).write.mode("overwrite").option(
        "compression", "zstd"
    ).parquet(BPE_MERGES_PATH)
    out = bpe.bpe_segment(docs, word_pieces)
    return out.select(
        "doc_id",
        F.concat_ws(" ", "pieces").alias("pieces_str"),
        "n_pieces",
    )


def q_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-local overlapping sentence windows (max 4, stride 2) over
    sentence-ified synthetic docs (a period appended after every third
    word — the corpus has no punctuation of its own; the regexp_replace
    is mirrored in the oracle with the 'g' flag and \\1 backref). The
    oracle re-derives the sentence split, trim/drop-empty, the window
    count arithmetic, and every slice."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    prep = docs.withColumn(
        "text",
        F.regexp_replace("text", r"([a-z]+ [a-z]+ [a-z]+) ", r"$1. "),
    )
    return packing.sentence_chunks(prep, max_sentences=4, stride=2)


def q_pack_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-sequence materialization: tokenize to ids
    (q_tokenize_ids vocabulary), pack the id stream (budget 256, per
    source), and assemble the actual chunk id arrays. The oracle
    re-derives the vocabulary, every id list, the running-sum layout,
    the per-overlap list slices, and the positional chunk rebuild —
    the complete composition verified value-exactly. Ids serialized
    to a space-joined string (arrays are unhashable to the driver)."""
    docs = _t(spark, sf_dir, "documents")
    vocab = tokenize.vocab_build(docs, max_size=300, min_count=2)
    ids = (
        tokenize.tokenize_ids(docs, vocab)
        .join(docs.select("doc_id", "source"), "doc_id")
        .withColumn("n", F.size("ids").cast("long"))
    )
    layout = packing.pack_chunks(ids, budget=256, tokens_col="n", block_size=64)
    return packing.assemble_chunks(ids, layout).select(
        "source",
        "chunk_id",
        F.concat_ws(
            " ", F.transform("ids", lambda x: x.cast("string"))
        ).alias("ids_str"),
        "n_tokens",
    )


def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source quartile binning by token count (deterministic
    doc_id tie-break). The two-phase distinct-score + block-offset
    rank must equal the oracle's plain row_number window bin for every
    row."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        "doc_id",
        textstats.token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    return sampling.quantile_bins(
        d, k=4, score_col="n_tok", group_col="source", block_size=64
    ).select("source", "doc_id", "n_tok", "rank", "bin")


SAMPLE_BUCKETS_PATH = "/tmp/spark_graft_contract/sample_buckets.parquet"


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli sampling + train/val/test splitting.
    The xxhash64 bucket has no DuckDB twin, so the bucket column is
    materialized (simhash_pairs precedent) and the oracle re-derives
    the keep flag and the cumulative-threshold split label from the
    same bucket bytes — verifying the thresholding logic exactly."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    docs.select(
        "doc_id", sampling.hash_bucket(F.col("doc_id"), seed=7).alias("bucket")
    ).write.mode("overwrite").option("compression", "zstd").parquet(
        SAMPLE_BUCKETS_PATH
    )
    back = spark.read.schema("doc_id long, bucket long").parquet(
        SAMPLE_BUCKETS_PATH
    )
    split = sampling.train_val_test_split(
        back, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    )
    keep = sampling.bernoulli_sample(back, 0.1, seed=7).select(
        "doc_id", F.lit(1).alias("kept_10pct")
    )
    return split.join(keep, "doc_id", "left").select(
        "doc_id", "bucket", "split", F.coalesce("kept_10pct", F.lit(0)).alias(
            "kept_10pct"
        )
    )


KEY_INDEX_PATH = "/tmp/spark_graft_contract/key_index.parquet"


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup: every 5th document's key is
    persisted as the 'prior crawl' index; the anti-join keeps exactly
    the documents whose text is new. Oracle: NOT EXISTS on raw text
    (the 128-bit key is injective at any feasible corpus size)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dedup.write_key_index(
        docs.filter("doc_id % 5 = 0"), KEY_INDEX_PATH, mode="overwrite"
    )
    idx = spark.read.schema("h0 long, h1 long").parquet(KEY_INDEX_PATH)
    return dedup.dedup_against(docs, idx).select("doc_id")


MH_INDEX_PATH = "/tmp/spark_graft_contract/mh_index"
MH_BATCH_SIGS_PATH = "/tmp/spark_graft_contract/mh_batch_sigs.parquet"


def q_near_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup against a persisted MinHash index:
    every 5th document is the 'prior crawl' (signatures + band buckets
    persisted via write_minhash_index); the batch (all documents) drops
    everything whose estimated Jaccard vs ANY indexed doc ≥ 0.5 — the
    indexed docs themselves plus any natural near-dups. The batch's
    signatures are materialized too, and the oracle re-derives the
    banding (slice equality — band-hash equality minus xxhash
    collisions), the candidate join, the signature-agreement estimate,
    and the anti-join entirely in SQL from the same signature bytes
    (simhash_pairs trust model)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dedup.write_minhash_index(
        docs.filter("doc_id % 5 = 0"), MH_INDEX_PATH, mode="overwrite"
    )
    docs.select(
        "doc_id", dedup.minhash_signature(F.col("text")).alias("sig")
    ).write.mode("overwrite").option("compression", "zstd").parquet(
        MH_BATCH_SIGS_PATH
    )
    idx_sigs = spark.read.schema("doc_id long, sig array<long>").parquet(
        MH_INDEX_PATH + "/sigs"
    )
    idx_bands = spark.read.schema("doc_id long, band int, bucket long").parquet(
        MH_INDEX_PATH + "/bands"
    )
    batch_sigs = spark.read.schema("doc_id long, sig array<long>").parquet(
        MH_BATCH_SIGS_PATH
    )
    return dedup.near_dedup_against(
        docs, idx_sigs, idx_bands, threshold=0.5, sigs_df=batch_sigs
    ).select("doc_id")


MH_CIDX_PATH = "/tmp/spark_graft_contract/mh_cidx"
MH_CBATCH_SIGS_PATH = "/tmp/spark_graft_contract/mh_cidx_batch_sigs.parquet"


def q_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-based index compaction (datapipe.compaction): two 'crawl
    snapshots' land as streaming-layout batch partitions (batch_id=0:
    doc_id%5==0, batch_id=1: doc_id%5==1) with commit markers,
    ``compact_minhash_index`` folds them into ``epoch=1``, and the
    probe (all documents) runs near_dedup_against over the LIVE VIEW —
    which after compaction reads ONLY the epoch files. The oracle
    re-derives banding / signature-agreement estimate / anti-join from
    the ORIGINAL pre-compaction batch-partition signature bytes, so a
    hash match proves the compacted view is semantically identical to
    the uncompacted state (what makes vacuum safe)."""
    import shutil

    shutil.rmtree(MH_CIDX_PATH, ignore_errors=True)  # markers are append-mode
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    for batch_id, part in ((0, "doc_id % 5 = 0"), (1, "doc_id % 5 = 1")):
        sigs = docs.filter(part).select(
            "doc_id", dedup.minhash_signature(F.col("text")).alias("sig")
        )
        sigs.write.mode("overwrite").option("compression", "zstd").parquet(
            f"{MH_CIDX_PATH}/sigs/batch_id={batch_id}"
        )
        dedup.banded_buckets(sigs).write.mode("overwrite").option(
            "compression", "zstd"
        ).parquet(f"{MH_CIDX_PATH}/bands/batch_id={batch_id}")
        spark.createDataFrame([(batch_id,)], "batch_id long").write.mode(
            "append"
        ).parquet(f"{MH_CIDX_PATH}/_commits")
    res = compaction.compact_minhash_index(spark, MH_CIDX_PATH)
    if not (res["compacted"] and res["epoch"] == 1):
        raise RuntimeError(f"compaction did not land: {res}")
    docs.select(
        "doc_id", dedup.minhash_signature(F.col("text")).alias("sig")
    ).write.mode("overwrite").option("compression", "zstd").parquet(
        MH_CBATCH_SIGS_PATH
    )
    idx_sigs, idx_bands = compaction.read_minhash_index(spark, MH_CIDX_PATH)
    batch_sigs = spark.read.schema("doc_id long, sig array<long>").parquet(
        MH_CBATCH_SIGS_PATH
    )
    return dedup.near_dedup_against(
        docs, idx_sigs, idx_bands, threshold=0.5, sigs_df=batch_sigs
    ).select("doc_id")


UNIGRAM_LM_PATH = "/tmp/spark_graft_contract/unigram_lm.parquet"


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained unigram LM cross-entropy per document. The fitted
    model (token, cnt, nlp_micro) is materialized; the oracle
    re-tokenizes every document, RECOUNTS the corpus unigrams, joins
    the model on (token AND cnt) — so a count error breaks the join —
    and re-derives every per-document sum (exact longs) and the final
    bits/token division independently. The only Spark-trusted bytes are
    the once-per-distinct-token log2 quantizations."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    model, oov = lm.fit_unigram_lm(docs)
    lm.write_unigram_lm(model, UNIGRAM_LM_PATH)
    release_held()  # scoring reads the parquet back, not the fit
    back = spark.read.schema("token string, cnt long, nlp_micro long").parquet(
        UNIGRAM_LM_PATH
    )
    return lm.lm_score(docs, back, oov)


BIGRAM_LM_PATH = "/tmp/spark_graft_contract/bigram_lm"


def q_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained interpolated-bigram LM cross-entropy per document
    (lam=0.7). Both model tables are materialized with ALL their
    counts (pair count, context count, token count); the oracle
    re-tokenizes, recounts unigrams AND bigrams AND per-context
    totals, joins each model row only when every count matches, and
    re-derives the per-document positional scoring (first token at
    unigram nlp, later tokens at bigram nlp) and the division. With
    min_count=1 on the training corpus no fallback row fires, so the
    oracle path is exact joins — fallbacks are unit-tested on
    held-out text."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bi, tok, uni_oov, fb_oov = lm.fit_bigram_lm(docs, lam=0.7)
    lm.write_bigram_lm(bi, tok, BIGRAM_LM_PATH)
    release_held()
    bi_back = spark.read.schema(
        "gram string, cnt long, c_prev long, nlp_micro long"
    ).parquet(f"{BIGRAM_LM_PATH}/bigram")
    tok_back = spark.read.schema(
        "token string, cnt long, uni_nlp_micro long, fb_nlp_micro long"
    ).parquet(f"{BIGRAM_LM_PATH}/tokens")
    return lm.lm_score_bigram(docs, bi_back, tok_back, uni_oov, fb_oov)


DSIR_MODEL_PATH = "/tmp/spark_graft_contract/dsir_model.parquet"
DSIR_FEATS_PATH = "/tmp/spark_graft_contract/dsir_feats.parquet"
DSIR_GUMBEL_PATH = "/tmp/spark_graft_contract/dsir_gumbel.parquet"
DSIR_BUCKETS, DSIR_SEED, DSIR_GSEED, DSIR_K = 4096, 3, 13, 100


def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (datapipe.dsir): target = the
    src0/src1 slice, raw = all documents; hashed unigram+bigram bucket
    model → per-doc integer log-weight sums → hash-Gumbel top-k
    selection. The per-doc feature buckets and the Gumbel noise are
    materialized (xxhash64 has no DuckDB twin — sample_split
    precedent); the oracle RECOUNTS both corpus histograms from the
    feature bytes, joins the model on (bucket, cnt_target, cnt_raw)
    with a poison value on mismatch, and re-derives every weight sum,
    key, and the global top-k rank independently. Target ⊆ raw means
    no scored feature is OOV, so the oracle needs no cross-engine
    transcendental; the OOV lane is unit-tested (test_dsir)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    target = docs.filter(F.col("source").isin("src0", "src1"))
    model, oov = dsir.fit_dsir(target, docs, num_buckets=DSIR_BUCKETS, seed=DSIR_SEED)
    dsir.write_dsir_model(model, DSIR_MODEL_PATH)
    release_held()  # the weights below read the parquet back
    docs.select(
        "doc_id", dsir.tokens(F.lower(F.col("text"))).alias("_toks")
    ).select(
        "doc_id",
        F.explode(
            dsir.feature_buckets(F.col("_toks"), DSIR_BUCKETS, DSIR_SEED)
        ).alias("bucket"),
    ).write.mode("overwrite").option("compression", "zstd").parquet(
        DSIR_FEATS_PATH
    )
    docs.select(
        "doc_id",
        dsir.gumbel_hash(F.col("doc_id"), DSIR_GSEED).alias("ghash"),
        dsir.gumbel_log2_micro(F.col("doc_id"), DSIR_GSEED).alias("g_micro"),
    ).write.mode("overwrite").option("compression", "zstd").parquet(
        DSIR_GUMBEL_PATH
    )
    back = spark.read.schema(
        "bucket long, cnt_target long, cnt_raw long, lr_micro long"
    ).parquet(DSIR_MODEL_PATH)
    g_back = spark.read.schema("doc_id long, ghash long, g_micro long").parquet(
        DSIR_GUMBEL_PATH
    )
    w = dsir.dsir_weights(docs, back, oov, num_buckets=DSIR_BUCKETS, seed=DSIR_SEED)
    sel = dsir.dsir_select(
        w.join(g_back.select("doc_id", "g_micro"), "doc_id"),
        DSIR_K,
        gumbel_col="g_micro",
    )
    return sel.select("doc_id", "n_feats", "logw_micro", "key_micro", "selected")


SEMDEDUP_CENT_PATH = "/tmp/spark_graft_contract/semdedup_centroids.parquet"
SEMDEDUP_CELLS, SEMDEDUP_TAU = 8, 0.95


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over embeddings with planted duplicates (vec_id +
    100000): trained k-means cells → within-cell cosine pairs ≥ τ →
    connected components → one keeper per component. The oracle
    re-derives cell assignment from the materialized centroid bytes
    (ann_ivf_trained pattern), the within-cell pair search, and the
    transitive closure (recursive CTE) — the full keep-list logic,
    independent of ground-truth assumptions about which pairs exist."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dup = emb.selectExpr("vec_id + 100000 AS vec_id", "embedding")
    union = emb.unionByName(dup)
    cents = similarity.kmeans_fit(
        emb, num_cells=SEMDEDUP_CELLS, dim=IVF_DIM, max_iter=3
    )
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").option("compression", "zstd").parquet(
        SEMDEDUP_CENT_PATH
    )
    return semdedup.semantic_dedup(union, cents, threshold=SEMDEDUP_TAU)


SEMDECON_CENT_PATH = "/tmp/spark_graft_contract/semdecon_centroids.parquet"
SEMDECON_CELLS, SEMDECON_TAU = 8, 0.98


def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination (decontam.semantic_decontaminate):
    benchmark = every 7th embedding re-identified at +900000 (exact
    twins guaranteed contaminated), trained cells broadcast with the
    bench side; per corpus vec the audit row (candidate count, max
    cosine, nearest bench id, keep). The oracle re-derives BOTH sides'
    cell assignments from the materialized centroid bytes, the
    within-cell cosine set, and the argmax/verdict independently."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    bench = emb.filter("vec_id % 7 = 3").selectExpr(
        "vec_id + 900000 AS vec_id", "embedding"
    )
    cents = similarity.kmeans_fit(
        emb, num_cells=SEMDECON_CELLS, dim=IVF_DIM, max_iter=3
    )
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").option("compression", "zstd").parquet(
        SEMDECON_CENT_PATH
    )
    return decontam.semantic_decontaminate(
        emb, bench, cents, threshold=SEMDECON_TAU
    )


SEMDEDUP_IDX_PATH = "/tmp/spark_graft_contract/semdedup_index"


def q_semantic_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup against a persisted cell-partitioned index
    (semdedup.write_semantic_index / semantic_dedup_against — the
    semantic analog of near_dedup_against): every 3rd embedding is the
    'kept' snapshot, the batch is the full table, so indexed rows drop
    by exact self-match (cos = 1.0) and semantic near-copies of
    indexed vectors drop with them while cell-blind survivors stay.
    The oracle re-derives cell assignment from the materialized
    centroid bytes for BOTH sides and replays the within-cell cosine
    NOT EXISTS — fully independent of which pairs actually exist."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = similarity.kmeans_fit(
        emb, num_cells=SEMDEDUP_CELLS, dim=IVF_DIM, max_iter=3
    )
    semdedup.write_semantic_index(
        emb.filter("vec_id % 3 = 0"), SEMDEDUP_IDX_PATH, cents,
        mode="overwrite",
    )
    return semdedup.semantic_dedup_against(
        emb, SEMDEDUP_IDX_PATH, threshold=SEMDEDUP_TAU
    ).select("vec_id")


PRUNE_CENT_PATH = "/tmp/spark_graft_contract/prune_centroids.parquet"
PRUNE_PERMILLE = 300


def q_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototype density pruning (datapipe.pruning): k-means cells
    over embeddings, per-cell distance-to-centroid rank (id tie-break),
    keep the hardest 30% per cell. The oracle re-derives assignment,
    integer-grid distance, rank, n_cell, and the integer keep rule from
    the materialized centroid bytes — a plain row_number window, so it
    also proves the block-offset ranking == single-window semantics."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = similarity.kmeans_fit(
        emb, num_cells=SEMDEDUP_CELLS, dim=IVF_DIM, max_iter=3
    )
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").option("compression", "zstd").parquet(
        PRUNE_CENT_PATH
    )
    scores = pruning.prototype_scores(emb, cents)
    return pruning.prototype_prune(scores, PRUNE_PERMILLE, hardest=True)


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced output sharding: running byte total in doc_id
    order (block-offset two-phase) cut every 25 kB. Fully independent
    SQL oracle (plain window running sum + integer division)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return packing.shard_plan(docs, target_bytes=25_000, block_size=64)


EPOCH_KEYS_PATH = "/tmp/spark_graft_contract/epoch_keys.parquet"


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch reshuffle (packing.epoch_shards) for
    epochs 0 and 1: per-epoch pseudo-random layout + 25 kB shard cuts.
    The per-epoch layout hashes are materialized (the only non-SQL
    part — stratified_k precedent) and the oracle re-derives each
    epoch's running byte sum and shard ids with a plain SQL window
    ordered by the same (hash, key) bytes — proving the block-offset
    two-phase layout equals the single-window form for BOTH epochs."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    frames = [
        docs.select(
            "doc_id",
            F.lit(e).alias("epoch"),
            F.concat(
                F.col("doc_id").cast("string"), F.lit(f"#e{e}")
            ).alias("ekey"),
            F.octet_length("text").cast("long").alias("n_bytes"),
        )
        for e in (0, 1)
    ]
    frames[0].unionByName(frames[1]).withColumn(
        "h", F.xxhash64("ekey")
    ).write.mode("overwrite").option("compression", "zstd").parquet(
        EPOCH_KEYS_PATH
    )
    return packing.epoch_shards(docs, 0, 25_000, block_size=64).unionByName(
        packing.epoch_shards(docs, 1, 25_000, block_size=64)
    )


MIXTURE_BUCKETS_PATH = "/tmp/spark_graft_contract/mixture_buckets.parquet"
MIXTURE_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture downsampling: fixed per-source keep rates (other
    sources dropped entirely). The hash bucket is materialized
    (sample_split precedent) and the oracle re-derives every keep
    decision from the same bucket bytes with literal thresholds."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    docs.select(
        "doc_id",
        "source",
        sampling.hash_bucket(F.col("doc_id"), seed=11).alias("bucket"),
    ).write.mode("overwrite").option("compression", "zstd").parquet(
        MIXTURE_BUCKETS_PATH
    )
    back = spark.read.schema("doc_id long, source string, bucket long").parquet(
        MIXTURE_BUCKETS_PATH
    )
    return sampling.mixture_sample(back, MIXTURE_RATES, seed=11).select(
        "doc_id", "source", "bucket"
    )


STRAT_RANK_PATH = "/tmp/spark_graft_contract/strat_rank.parquet"


def q_stratified_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact uniform k-per-source sample. Spark runs the salted
    TWO-PHASE top-k; the oracle runs the plain single-window
    row_number over the materialized rank hashes — proving the
    decomposition returns exactly the single-window answer."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    docs.select(
        "doc_id", "source", F.xxhash64(F.col("doc_id"), F.lit(0)).alias("h")
    ).write.mode("overwrite").option("compression", "zstd").parquet(
        STRAT_RANK_PATH
    )
    back = spark.read.schema("doc_id long, source string, h long").parquet(
        STRAT_RANK_PATH
    )
    return sampling.topk_per_group(
        back.select("doc_id", "source"), ["source"], k=5, salt_buckets=8
    ).select("doc_id", "source")


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qv = [float(x) for x in emb.filter("vec_id = 0").head()["v"]]
    q = F.array(*[F.lit(x) for x in qv])
    scored = emb.select(
        "vec_id",
        similarity.floor_round(
            similarity.cosine_similarity(F.col("v"), q), 4
        ).alias("cosine_r"),
    )
    return scored.orderBy(F.col("cosine_r").desc(), "vec_id").limit(10)


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized coarse top-k + exact rerank. The oracle
    re-derives the per-vector quantization codes, the integer dot
    products, the k*rerank candidate cut, and the exact-cosine rerank
    entirely in SQL from the same floats — integer dots are exact in
    any engine, so the candidate boundary is bit-reproducible."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qv = [float(x) for x in emb.filter("vec_id = 0").head()["v"]]
    return similarity.quantized_topk(
        emb, qv, vec_col="v", id_col="vec_id", k=10, rerank=4
    )


# ── dedup/similarity queries with planted-duplicate oracles ──
#
# The hash functions themselves (MinHash/SimHash/xxhash fingerprints)
# have no DuckDB twin, but their *pair semantics* do: the test corpus
# unions each document/vector with an exact copy at id+100000, so the
# ground-truth near-dup pair set is exactly the identical-content pairs
# — which DuckDB computes independently from the raw text/vectors. The
# oracle checks both recall (every planted pair found) and precision
# (no spurious pair crosses the threshold on this corpus).


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter("doc_id % 5 = 0").select(
        "doc_id", "text"
    )
    dup = docs.selectExpr("doc_id + 100000 AS doc_id", "text")
    return dedup.minhash_lsh_pairs(docs.unionByName(dup), threshold=0.5)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # %5==1 subset: short synthetic docs produce occasional natural
    # SimHash vote-coincidences; this subset is verified collision-free
    # at the contract SF so the planted-pair oracle is exact.
    docs = _t(spark, sf_dir, "documents").filter("doc_id % 5 = 1").select(
        "doc_id", "text"
    )
    dup = docs.selectExpr("doc_id + 100000 AS doc_id", "text")
    return dedup.simhash_pairs(docs.unionByName(dup), max_hamming=3)


SIMHASH_PATH = "/tmp/spark_graft_contract/simhash_sigs.parquet"


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pigeonhole-banded SimHash near-dup pairs with a FULL SQL oracle:
    the 64-bit signatures (hash-dependent, no DuckDB twin) are
    materialized to parquet, and DuckDB independently re-derives the
    banding (arithmetic 16-bit chunk split), the (band, chunk)
    candidate equi-join, and the bit_count-XOR Hamming verify from the
    same signature bytes — so the LSH pair logic itself is
    oracle-checked, not just the planted-dup recall (which the
    ``simhash`` query covers)."""
    docs = _t(spark, sf_dir, "documents").filter("doc_id % 5 = 1").select(
        "doc_id", "text"
    )
    dup = docs.selectExpr("doc_id + 100000 AS doc_id", "text")
    sims = dedup.simhash(docs.unionByName(dup))
    sims.write.mode("overwrite").option("compression", "zstd").parquet(SIMHASH_PATH)
    back = spark.read.schema("doc_id long, simhash long").parquet(SIMHASH_PATH)
    return dedup.simhash_pairs_from_sims(back, max_hamming=3, bands=4)


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.selectExpr("doc_id + 100000 AS doc_id", "text")
    return dedup.fingerprint_pairs(docs.unionByName(dup))


SUBSTR_GRAMS_PATH = "/tmp/spark_graft_contract/substr_grams.parquet"
SUBSTR_GRAMS_PATH_P = "/tmp/spark_graft_contract/substr_grams_pairs.parquet"


def _materialize_grams(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """Write the FULL pre-winnowing gram-hash table (doc_id, pos, h)
    for the documents table. The xxhash64 gram values have no DuckDB
    twin (simhash_pairs trust model), but everything downstream — the
    winnowing selection rule, the document-frequency cutoff, the span
    join and the pair grouping — is re-derived independently in SQL
    from these bytes, so the whole substring-dedup logic after hashing
    is oracle-checked."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    grams = docs.select(
        "doc_id", F.posexplode(substr.gram_hashes(F.col("text"), w=8))
    ).select("doc_id", (F.col("pos") + 1).alias("pos"), F.col("col").alias("h"))
    grams.write.mode("overwrite").option("compression", "zstd").parquet(path)
    return docs


def q_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed-fingerprint shared substring spans (MOSS-style): every
    (doc, position) carrying a w-gram fingerprint selected by winnowing
    and present in >= 2 documents."""
    docs = _materialize_grams(spark, sf_dir, SUBSTR_GRAMS_PATH)
    return substr.substr_dup_spans(docs, w=8, window=4)


def q_substr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing winnowed substring fingerprints."""
    docs = _materialize_grams(spark, sf_dir, SUBSTR_GRAMS_PATH_P)
    return substr.substr_dup_pairs(docs, w=8, window=4, min_shared=2)


SUBSTR_GRAMS_PATH_M = "/tmp/spark_graft_contract/substr_grams_merge.parquet"
SUBSTR_GRAMS_PATH_R = "/tmp/spark_graft_contract/substr_grams_remove.parquet"


def q_substr_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal shared substring regions per document (islands of
    winnowed fingerprints merged under the winnow-window gap). The
    oracle re-derives the island grouping with a lag/running-sum window
    over the SQL-winnowed selection."""
    docs = _materialize_grams(spark, sf_dir, SUBSTR_GRAMS_PATH_M)
    spans = substr.substr_dup_spans(docs, w=8, window=4)
    return substr.merge_spans(spans, w=8, merge_gap=4)


def q_substr_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal: cut every shared region out of each
    document. The oracle re-derives the kept-token reconstruction with
    a parallel-unnest token table and a NOT EXISTS span cover test."""
    docs = _materialize_grams(spark, sf_dir, SUBSTR_GRAMS_PATH_R)
    spans = substr.substr_dup_spans(docs, w=8, window=4)
    merged = substr.merge_spans(spans, w=8, merge_gap=4)
    return substr.remove_dup_spans(docs, merged).select(
        "doc_id", "text_deduped", "n_tokens_removed"
    )


SUBSTR_GRAMS_PATH_C = "/tmp/spark_graft_contract/substr_grams_contam.parquet"
SUBSTR_FP_INDEX_PATH = "/tmp/spark_graft_contract/substr_fp_index.parquet"
SUBSTR_GRAMS_PATH_S = "/tmp/spark_graft_contract/substr_grams_stop.parquet"


def q_substr_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental substring screening: every 5th document's winnowed
    fingerprints form the persisted 'prior crawl' index; every document
    reports what fraction of its fingerprints the index already holds.
    The oracle re-derives BOTH sides (index and batch) from the one
    materialized gram table."""
    docs = _materialize_grams(spark, sf_dir, SUBSTR_GRAMS_PATH_C)
    substr.write_fingerprint_index(
        docs.filter("doc_id % 5 = 0"), SUBSTR_FP_INDEX_PATH, mode="overwrite"
    )
    idx = spark.read.schema("gram_hash long").parquet(SUBSTR_FP_INDEX_PATH)
    return substr.substr_contamination(docs, idx)


def q_substr_stop_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ubiquitous-boilerplate (stop-gram) report."""
    docs = _materialize_grams(spark, sf_dir, SUBSTR_GRAMS_PATH_S)
    return substr.stop_grams(docs, min_df=2)


SUBSTR_GRAMS_PATH_X = "/tmp/spark_graft_contract/substr_grams_curate.parquet"


def q_curate_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation with the ExactSubstr stage: shared substring regions
    are cut from every document BEFORE quality scoring and the exact-
    dedup key, so pages identical up to shared boilerplate collapse.
    The oracle chains the full relational re-derivation: winnowing →
    island merge → token removal → quality formula → text groupBy."""
    docs = _materialize_grams(spark, sf_dir, SUBSTR_GRAMS_PATH_X)
    return curate.curate(docs, min_quality=0.4, substr_dedup=True)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval top-5 per query; queries derived from the corpus
    itself (first 5 whitespace tokens of every doc with doc_id % 37 =
    3), stop terms with df > 0.9*N pruned (the synthetic corpus has a
    31-token vocabulary with median df 0.78*N, so a lower cutoff would
    empty the queries; pruning behavior itself is unit-tested with a
    handcrafted corpus). Fully independent SQL
    oracle: DuckDB re-derives tokenization, tf/df/dl/avgdl, the exact
    integer micro-bit per-term quantization (floor(x*1e6 + 0.5) —
    order-independent integer score, no float-summation-order
    divergence), and the (score desc, doc_id asc) rank."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qdf = textstats.prefix_queries(docs, mod=37, rem=3, n_tokens=5)
    return textstats.bm25_topk(docs, qdf, k=5, max_df_frac=0.9)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed tf-idf.
    Fully independent SQL oracle (no hash materialization): DuckDB
    re-derives tf from a token unnest + GROUP BY, document frequency,
    the smooth-idf formula, and the per-doc rank — all from the raw
    text. Both sides rank on the ROUNDED score so ordering is a pure
    function of integer tf/df/N."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return textstats.tfidf_topk(docs, k=3)


def _substr_sel_cte(path: str) -> str:
    """Oracle CTE chain shared by the four substr rows: re-derive the
    winnowing selection relationally from the materialized gram table —
    sliding-window min per position, covering-full-window join, the
    short-document fallback, then the document-frequency cutoff."""
    return f"""g AS (
              SELECT doc_id, pos, h
              FROM read_parquet('{path}/*.parquet')),
            m AS (SELECT doc_id, COUNT(*) AS mm FROM g GROUP BY doc_id),
            w AS (
              SELECT doc_id, pos,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
                     count(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
              FROM g),
            sel AS (
              SELECT DISTINCT doc_id, pos, h FROM (
                SELECT g.doc_id, g.pos, g.h
                FROM g JOIN w ON w.doc_id = g.doc_id
                   AND g.pos BETWEEN w.pos AND w.pos + 3 AND w.wn = 4
                WHERE g.h = w.wmin
                UNION ALL
                SELECT g.doc_id, g.pos, g.h
                FROM g JOIN m USING (doc_id) WHERE m.mm < 4)),
            dfreq AS (
              SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM sel
              GROUP BY h
              HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 1000)"""


# island merge over the winnow-selected shared positions (gap > 4 opens
# a new island; running sum numbers them) — continues _substr_sel_cte
_SUBSTR_ISLANDS_CTE = """shared AS (
              SELECT DISTINCT s.doc_id, s.pos FROM sel s JOIN dfreq USING (h)),
            flag AS (
              SELECT doc_id, pos,
                CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                          IS NULL
                       OR pos - lag(pos) OVER (PARTITION BY doc_id
                          ORDER BY pos) > 4
                     THEN 1 ELSE 0 END AS ni
              FROM shared),
            isl AS (
              SELECT doc_id, pos,
                     SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS island
              FROM flag)"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dup = emb.selectExpr("vec_id + 100000 AS vec_id", "embedding")
    return dedup.embedding_near_dup_pairs(emb.unionByName(dup), threshold=0.95)


def q_curate_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full curation composition: PII scrub → quality gate → Gopher
    repetition gate → exact dedup. The planted copies differ ONLY in
    their PII span (different emails on identical base text), so
    scrub-before-dedup must collapse each pair to one survivor with
    exact_dup_count = 2 — the property that makes scrubbing first the
    correct stage order. Oracle re-runs the whole chain in SQL."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.selectExpr(
        "doc_id", "text || ' mail a' || CAST(doc_id AS STRING) || '@b.co' AS text"
    )
    dup = docs.selectExpr(
        "doc_id + 100000 AS doc_id",
        "text || ' mail u' || CAST(doc_id AS STRING) || '@x.io' AS text",
    )
    return curate.curate(
        base.unionByName(dup), min_quality=0.4, repetition=True, scrub_pii=True
    )


def q_curate_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML-first curation (curate(html=True)): planted page pairs
    carry IDENTICAL text under DIFFERENT markup (tags, a comment, and
    '&amp;' vs literal '&'), so extraction-before-dedup must collapse
    each pair to one survivor with exact_dup_count = 2 — the property
    that makes WARC→WET the first stage. Every 9th doc also gains a
    link-farm variant (anchor text dominates) that the html_keep
    screen must drop. Oracle re-runs extraction → quality → dedup in
    SQL."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        "doc_id",
        F.concat(
            F.lit("<p>"), F.col("text"),
            F.lit(' x &amp; y</p><a href="/n">next</a>'),
        ).alias("text"),
    )
    dup = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.lit("<div><b>"), F.col("text"),
            F.lit('</b> x & y</div><!-- v2 --><a href="/n">next</a>'),
        ).alias("text"),
    )
    farm = docs.filter("doc_id % 9 = 0").select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(
            F.lit('<a href="/f">'), F.col("text"),
            F.lit(" and plenty more anchor text here</a> ok"),
        ).alias("text"),
    )
    return curate.curate(
        base.unionByName(dup).unionByName(farm), min_quality=0.4, html=True
    )


def q_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the planted near-dup pairs: every
    (i, i+100000) pair is its own 2-component labeled i — an exactly
    SQL-derivable ground truth for the iterative CC operator."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.selectExpr("doc_id + 100000 AS doc_id", "text")
    pairs = dedup.fingerprint_pairs(docs.unionByName(dup))
    return dedup.near_dup_components(pairs)


def q_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware representative selection (dedup.representatives):
    planted dup clusters where the members genuinely differ in quality.
    Every doc i gets a twin i+100000 — EVEN i twins carry 3 extra
    tokens (twin wins the argmax), ODD i twins share the text (tie →
    min id, original wins) — and every i%5==0 doc gets a THIRD member
    i+200000 with 6 extra tokens chained transitively through the twin
    (component winner). score = whitespace token count; the oracle
    re-derives the per-component argmax from the same planted layout."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    twin = docs.selectExpr(
        "doc_id + 100000 AS doc_id",
        "CASE WHEN doc_id % 2 = 0 THEN text || ' extra extra extra'"
        " ELSE text END AS text",
    )
    third = docs.filter("doc_id % 5 = 0").selectExpr(
        "doc_id + 200000 AS doc_id",
        "text || ' six more tokens appended right here' AS text",
    )
    union = docs.unionByName(twin).unionByName(third)
    pairs = docs.selectExpr(
        "doc_id AS id_a", "doc_id + 100000 AS id_b"
    ).unionByName(
        docs.filter("doc_id % 5 = 0").selectExpr(
            "doc_id + 100000 AS id_a", "doc_id + 200000 AS id_b"
        )
    )
    labels = dedup.near_dup_components(pairs)
    scores = union.select(
        "doc_id", textstats.token_count(F.col("text")).cast("long").alias("score")
    )
    return dedup.representatives(labels, scores)


def q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation keep-list (quality gate + exact dedup) over the corpus
    with planted exact duplicates; the near-dup LSH stage is covered by
    unit tests (its pair set is hash-dependent, not SQL-derivable)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.selectExpr("doc_id + 100000 AS doc_id", "text")
    return curate.curate(docs.unionByName(dup), min_quality=0.4, near_dup=False)


IVF_CELLS, IVF_PROBE, IVF_DIM = 16, 4, 64


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned top-k through the *indexed* path: the table is
    written partitioned by cell once, and the probe is directory-level
    partition pruning. The oracle recomputes the deterministic
    hyperplane cell assignment in SQL (the planes are literals), probes
    the same cells, and takes the same cosine top-k — an independent
    re-derivation, not a brute-force comparison (IVF deliberately
    trades recall on unclustered data)."""
    import os

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qv = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    idx = f"/tmp/spark_graft_contract/ivf_{os.path.basename(sf_dir.rstrip('/'))}"
    similarity.write_ivf_index(emb, idx, num_cells=IVF_CELLS, dim=len(qv))
    return similarity.ivf_topk_indexed(
        spark, idx, qv, k=10, num_cells=IVF_CELLS, n_probe=IVF_PROBE
    )


IVF_TRAINED_PATH = "/tmp/spark_graft_contract/ivf_trained.parquet"
IVF_TRAINED_CELLS, IVF_TRAINED_PROBE = 8, 3


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-centroid IVF (deterministic Lloyd k-means → partitioned
    index + materialized centroid table): the oracle re-derives every
    vector's nearest-centroid assignment, the query's probe set, and
    the final cosine top-k in SQL from the SAME centroid parquet — so
    the assignment math, the index write, and the probe logic are all
    independently checked."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qv = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    cents = similarity.kmeans_fit(
        emb, num_cells=IVF_TRAINED_CELLS, dim=IVF_DIM, max_iter=3
    )
    similarity.write_ivf_trained(emb, IVF_TRAINED_PATH, cents)
    return similarity.ivf_trained_topk(
        spark, IVF_TRAINED_PATH, qv, k=10, n_probe=IVF_TRAINED_PROBE
    )


PQ_PATH = "/tmp/spark_graft_contract/pq.parquet"
PQ_M, PQ_CODES, PQ_RERANK = 4, 8, 4
IVFPQ_PATH = "/tmp/spark_graft_contract/ivfpq.parquet"
IVFPQ_PROBE = 3


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (similarity.pq_fit/write_pq_index/
    pq_topk): per-subspace k-means codebooks → m-int code rows → integer
    asymmetric-distance scan → exact-cosine rerank. The oracle re-derives
    EVERY per-subspace code assignment from the persisted codebook
    bytes, rebuilds the integer-micros partial-dot tables from the same
    doubles, and re-runs the candidate cut + rerank in SQL — so the fit
    output, the index write, the ADC arithmetic, and the rerank are all
    independently checked."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qv = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    books = similarity.pq_fit(
        emb, m=PQ_M, codes_per_sub=PQ_CODES, dim=IVF_DIM, max_iter=3
    )
    similarity.write_pq_index(emb, PQ_PATH, books)
    return similarity.pq_topk(
        spark, PQ_PATH, qv, k=10, rerank_df=emb, rerank=PQ_RERANK
    )


def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ composed serving path (similarity.write_ivf_pq /
    ivf_pq_topk): trained-cell directory pruning over m-int PQ code
    rows, integer ADC, exact rerank. The oracle re-derives the coarse
    cell of every vector AND every per-subspace code from the persisted
    centroid/codebook bytes, restricts to the probed cells, and re-runs
    the ADC + rerank in SQL."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qv = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    cents = similarity.kmeans_fit(
        emb, num_cells=IVF_TRAINED_CELLS, dim=IVF_DIM, max_iter=3
    )
    books = similarity.pq_fit(
        emb, m=PQ_M, codes_per_sub=PQ_CODES, dim=IVF_DIM, max_iter=3
    )
    similarity.write_ivf_pq(emb, IVFPQ_PATH, cents, books)
    return similarity.ivf_pq_topk(
        spark, IVFPQ_PATH, qv, k=10, n_probe=IVFPQ_PROBE,
        rerank_df=emb, rerank=PQ_RERANK,
    )


def q_ivf_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF-PQ ANN join (similarity.ivf_pq_knn_join): ADC top-5
    per query for the first 5 vectors, probe cells and integer lookup
    tables computed Spark-side, literal cell-IN pruning on the code
    scan. ADC-only output — every value is an exact long, so the hash
    compare certifies the whole integer pipeline. The oracle re-derives
    cells, probe sets, codes, and per-query partial tables from the
    persisted centroid/codebook bytes."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = similarity.kmeans_fit(
        emb, num_cells=IVF_TRAINED_CELLS, dim=IVF_DIM, max_iter=3
    )
    books = similarity.pq_fit(
        emb, m=PQ_M, codes_per_sub=PQ_CODES, dim=IVF_DIM, max_iter=3
    )
    similarity.write_ivf_pq(emb, IVFPQ_PATH, cents, books)
    return similarity.ivf_pq_knn_join(
        spark, IVFPQ_PATH, emb.filter("vec_id < 5"), k=5,
        n_probe=IVFPQ_PROBE,
    )


def _ivf_pq_knn_oracle_sql() -> str:
    """Per-query twin of the IVF×PQ oracle: probe sets and integer
    partial-dot tables are re-derived PER QUERY in SQL, codes per
    vector from the codebook bytes, and the ADC join + windowed top-5
    re-run relationally."""
    dsub, asub, psub, adc_joins, adc_terms = [], [], [], [], []
    for s, (st, w) in enumerate(similarity.subspace_bounds(IVF_DIM, PQ_M)):
        dsub.append(f"""
            d{s} AS (
              SELECT s0.vec_id, cb.code,
                     {_sql_sq_l2_micros(f"s0.v[{st} - 1 + i]", "cb.centroid[i]", w)} AS dist
              FROM s0 CROSS JOIN cb WHERE cb.sub = {s}),
            a{s} AS (
              SELECT vec_id, code FROM d{s}
              QUALIFY row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, code) = 1)""")
        psub.append(f"""
            p{s} AS (
              SELECT qs.query_id, cb.code,
                     list_sum(list_transform(range(1, {w} + 1),
                           i -> CAST(floor(qs.qv[{st} - 1 + i] * cb.centroid[i]
                                           * 1000000.0 + 0.5) AS BIGINT))) AS p
              FROM cb CROSS JOIN qs WHERE cb.sub = {s})""")
        adc_joins.append(
            f"JOIN a{s} ON a{s}.vec_id = c.vec_id "
            f"JOIN p{s} ON p{s}.query_id = c.query_id AND p{s}.code = a{s}.code"
        )
        adc_terms.append(f"p{s}.p")
    return f"""
        WITH s0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        qs AS (SELECT vec_id AS query_id, v AS qv FROM s0 WHERE vec_id < 5),
        cent AS (SELECT cell, centroid
                 FROM read_parquet('{IVFPQ_PATH}_centroids/*.parquet')),
        cb AS (SELECT sub, code, centroid
               FROM read_parquet('{IVFPQ_PATH}_codebook/*.parquet')),
        dcell AS (
          SELECT s0.vec_id, cent.cell,
                 {_sql_sq_l2_micros("s0.v[i]", "cent.centroid[i]", IVF_DIM)} AS dist
          FROM s0 CROSS JOIN cent),
        acell AS (
          SELECT vec_id, cell FROM dcell
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cell) = 1),
        qd AS (
          SELECT qs.query_id, cent.cell,
                 {_sql_sq_l2_micros("qs.qv[i]", "cent.centroid[i]", IVF_DIM)} AS dist
          FROM qs CROSS JOIN cent),
        qprobes AS (
          SELECT query_id, cell FROM qd
          QUALIFY row_number() OVER (PARTITION BY query_id
                                     ORDER BY dist, cell) <= {IVFPQ_PROBE}),
        {",".join(dsub)},
        {",".join(psub)},
        cand AS (
          SELECT qp.query_id, acell.vec_id
          FROM qprobes qp JOIN acell USING (cell)),
        adcj AS (
          SELECT c.query_id, c.vec_id,
                 {" + ".join(adc_terms)} AS adc_micros
          FROM cand c {" ".join(adc_joins)})
        SELECT query_id, vec_id, adc_micros FROM adcj
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_micros DESC, vec_id) <= 5
    """


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN join: top-5 per query for the first 5 vectors against
    the IVF index. Oracle re-derives every vector's cell and each
    query's probe set in SQL and takes the same windowed top-k."""
    import os

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    idx = f"/tmp/spark_graft_contract/ivf_{os.path.basename(sf_dir.rstrip('/'))}"
    similarity.write_ivf_index(emb, idx, num_cells=IVF_CELLS, dim=IVF_DIM)
    queries = emb.filter("vec_id < 5")
    return similarity.ivf_knn_join(
        spark, idx, queries, k=5, num_cells=IVF_CELLS, n_probe=IVF_PROBE, dim=IVF_DIM
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: per anchor (vec_id < 5), the top-5 most
    similar index vectors excluding the anchor itself and its labeled
    positives (planted rule: v is a positive of anchor q iff
    v % 97 = q). Retrieval over-fetches k + max-positives + 1 through
    the batch ANN join; the oracle re-derives the cells, probe sets,
    over-fetch depth (same scalar max), anti-join, and re-rank."""
    import os

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    idx = f"/tmp/spark_graft_contract/ivf_{os.path.basename(sf_dir.rstrip('/'))}"
    similarity.write_ivf_index(emb, idx, num_cells=IVF_CELLS, dim=IVF_DIM)
    queries = emb.filter("vec_id < 5")
    positives = emb.select(
        (F.col("vec_id") % 97).alias("query_id"), "vec_id"
    ).filter("query_id < 5")
    return similarity.hard_negatives(
        spark, idx, queries, positives, k=5,
        num_cells=IVF_CELLS, n_probe=IVF_PROBE, dim=IVF_DIM,
    )


def q_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per hour over the raw transcripts (count DESC,
    token ASC; min_count 2): the salted two-phase per-bucket top-k must
    equal the oracle's plain single-window ranking over the same
    unnest+count."""
    return textstats.trending_terms(
        _transcripts_raw(spark), k=5, duration="1 hour", min_count=2
    )


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals from 4 deterministic dimension
    snapshots (key = source, value = team changing at snapshot 2):
    consecutive unchanged snapshots collapse to runs with half-open
    [valid_from, valid_to). Oracle: LAG + IS DISTINCT FROM + LEAD."""
    src = _t(spark, sf_dir, "documents").select("source").distinct()
    snaps = None
    for s in range(4):
        f = src.selectExpr(
            "source",
            f"concat('team', (length(source) + {s // 2}) % 3) AS team",
            f"CAST({s} AS LONG) AS snapshot_ts",
        )
        snaps = f if snaps is None else snaps.unionByName(f)
    return temporal.scd2_intervals(
        snaps, key_cols=["source"], value_cols=["team"]
    )


def q_edge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level edge report in one pass: ROLLUP over (src, dst) —
    per-edge, per-src subtotal, grand total — with grouping_id. Three
    report levels, one exchange. Oracle: GROUP BY ROLLUP + GROUPING()
    over the same enriched bytes."""
    return agg.edge_rollup(_pipeline_enriched(spark))


def q_format_level_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format × level counters matrix: pinned format column list, one
    map-side-combined shuffle on level; exact long counts. Oracle:
    conditional aggregation over the same bytes."""
    return agg.format_level_matrix(
        _pipeline_enriched(spark),
        formats=["json", "ecs_json", "metric_json", "plain"],
    )


MEDIA_PATH = "/tmp/spark_graft_contract/media_200.parquet"
_media_written = False


def _ensure_media(spark: SparkSession) -> None:
    global _media_written
    if not _media_written:
        multimodal.gen_media(spark, 200).write.mode("overwrite").option(
            "compression", "zstd"
        ).parquet(MEDIA_PATH)
        _media_written = True


MEDIA_DECODE_N = 64


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode (multimodal.gen_real_media /
    decode_media_features — round 5): even ids carry an actual PNG of
    a deterministic 16×16 pixel pattern, odd ids an actual PCM16 WAV
    of a deterministic 256-sample pattern; the operator decodes the
    BYTES (pure-stdlib PNG/WAV codecs, full filter + CRC handling) and
    emits 16 integer band sums per row. The oracle never touches the
    payloads — it re-derives the expected sums from the id arithmetic
    (64-bit wrapping mix, the gen_media precedent), so a hash match
    certifies encode→decode→feature end-to-end."""
    media = multimodal.gen_real_media(spark, MEDIA_DECODE_N)
    return multimodal.decode_media_features(media)


def _media_decode_oracle_sql() -> str:
    k_img_id, k_img_px = multimodal._K_IMG_ID, multimodal._K_IMG_PX
    k_aud_id, k_aud_smp = multimodal._K_AUD_ID, multimodal._K_AUD_SMP
    m64 = "18446744073709551616"
    return f"""
        WITH ids AS (
          SELECT unnest(generate_series(0, {MEDIA_DECODE_N - 1}))
            AS media_id),
        bands AS (SELECT unnest(generate_series(0, 15)) AS band),
        offs AS (SELECT unnest(generate_series(0, 15)) AS o),
        img AS (
          SELECT m.media_id, 'image' AS kind, b.band,
                 CAST(SUM(
                   (CAST(((CAST(m.media_id + 1 AS HUGEINT) * {k_img_id}
                           + CAST(b.band * 16 + o.o + 1 AS HUGEINT)
                             * {k_img_px}) % {m64}) AS UBIGINT)
                    >> 24) % 256
                 ) AS BIGINT) AS band_sum
          FROM ids m CROSS JOIN bands b CROSS JOIN offs o
          WHERE m.media_id % 2 = 0
          GROUP BY m.media_id, b.band),
        aud AS (
          SELECT m.media_id, 'audio' AS kind, b.band,
                 CAST(SUM(
                   CAST((CAST(((CAST(m.media_id + 1 AS HUGEINT) * {k_aud_id}
                           + CAST(b.band * 16 + o.o + 1 AS HUGEINT)
                             * {k_aud_smp}) % {m64}) AS UBIGINT)
                    >> 24) % 65536 AS BIGINT) - 32768
                 ) AS BIGINT) AS band_sum
          FROM ids m CROSS JOIN bands b CROSS JOIN offs o
          WHERE m.media_id % 2 = 1
          GROUP BY m.media_id, b.band)
        SELECT media_id, kind, CAST(band AS INTEGER) AS band, band_sum
        FROM (SELECT * FROM img UNION ALL SELECT * FROM aud)
    """


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over binary media payloads, one
    row per (media row, feature dim). Oracle: DuckDB recomputes the
    deterministic stub features FROM THE PAYLOAD BYTES of the same
    materialized table (hex-decode the first 8 bytes, splitmix-style
    mix per dim, shift/mod) — so the Arrow batch plumbing, hash
    derivation, and per-dim arithmetic are all independently checked."""
    _ensure_media(spark)
    feats = multimodal.decode_stub_features(spark.read.parquet(MEDIA_PATH))
    return feats.select(
        "media_id",
        "kind",
        F.posexplode("features").alias("dim", "feature"),
        "n_bytes",
    )


PIPELINE_TURNS = 20_000
# Materialized enriched batch: the full pipeline (generate → parse →
# enrich → turn-rank) written once to parquet, so the pipeline-level
# queries and their DuckDB oracles consume the SAME bytes — the oracle
# independently recomputes routing/aggregation/detection from the
# normalized frame (the parse layer itself is oracled separately by the
# parse_* roundtrip queries).
ENRICHED_PATH = f"/tmp/spark_graft_contract/enriched_{PIPELINE_TURNS}.parquet"
_ENRICHED_COLS = [
    "conv_id", "turn_idx", "role", "tool", "format", "parse_ok", "level",
    "status_code", "latency_us", "src_service", "dst_service", "operation",
    "team", "cost_tier", "sink_hint", "turn_rank",
]
_enriched_written = False


def _pipeline_enriched(spark: SparkSession) -> DataFrame:
    """Build-once materialized enriched frame (timestamps stored as
    timestamp_ntz so Spark readback and DuckDB read_parquet agree)."""
    global _enriched_written
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if not _enriched_written:
        # cache() makes the generated table a leaf relation: without it
        # the generator's big literal-array expression tree is inlined
        # into every parse-layer reference and Catalyst canonicalization
        # blows up.
        tr = gen.transcripts(spark, PIPELINE_TURNS).cache()
        enr = pipeline.normalize_and_enrich(spark, tr)
        # zstd, not the session's lz4 default: DuckDB (the oracle side)
        # cannot read Spark's hadoop-framed LZ4 parquet pages
        enr.select(
            *_ENRICHED_COLS,
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            F.col("event_ts").cast("timestamp_ntz").alias("event_ts"),
        ).write.mode("overwrite").option("compression", "zstd").parquet(ENRICHED_PATH)
        tr.unpersist()
        _enriched_written = True
    return spark.read.parquet(ENRICHED_PATH)


def q_pipeline_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = route.routed_rows(_pipeline_enriched(spark), gen.routing_rules())
    return route.sink_counts(routed, ts_col="ts", window_duration="1 minute")


def q_pipeline_edge_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.edge_agg(
        _pipeline_enriched(spark), ts_col="event_ts",
        order_cols=["ts", "conv_id", "turn_idx"],
    )


def q_anomaly_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-trigger alert replay with cooldown 0 — at zero cooldown the
    state machine reduces to 'alert on the leading edge of each
    contiguous anomaly run', which a lag() window expresses exactly, so
    the sequential kernel gets a full SQL oracle. The cooldown>0 path
    is covered by unit tests (batch==streaming parity)."""
    enr = _pipeline_enriched(spark).filter(
        "src_service <> '' AND dst_service <> ''"
    ).selectExpr(
        "src_service || '|' || dst_service || '|' || operation AS edge_key",
        "ts", "conv_id", "turn_idx",
        "latency_us / 1000.0 AS value",
    )
    alerts = anomaly.detect_alerts(
        enr, key_cols=["edge_key"], value_col="value",
        order_cols=["ts", "conv_id", "turn_idx"], ts_col="ts",
        window_size=100, threshold=3.0, cooldown_s=0.0,
    )
    eps = F.lit(1e-9)
    return alerts.select(
        "edge_key", "ts", "conv_id", "turn_idx",
        F.round(F.col("value") + eps, 4).alias("value_r"),
        F.round(F.col("mean") + eps, 4).alias("mean_r"),
        F.round(F.col("stddev") + eps, 4).alias("stddev_r"),
        F.round(F.col("zscore") + eps, 4).alias("zscore_r"),
    )


def q_graph_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cycle MEMBERSHIP per node (on_cycle ⇔ node reaches itself) —
    SQL-decidable, so the oracle is a DuckDB recursive CTE over the same
    enriched parquet. The path-reporting DFS (find_cycles / cycle_key)
    stays the unit-tested reporting layer (tests/test_graphalg.py);
    membership and reporting agree by definition: a node is on a
    reported cycle iff it reaches itself."""
    edges = _pipeline_enriched(spark).filter(
        "src_service <> '' AND dst_service <> ''"
    ).select(
        F.col("src_service").alias("src"), F.col("dst_service").alias("dst")
    )
    return graphalg.cycle_membership(edges)


def q_scd2_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 CONSUMPTION pattern, composed end-to-end: version the
    (source → team) dimension from the q_scd2_intervals snapshots,
    then as-of probe it with per-document event times (doc_id % 5 —
    spanning before-open, mid-run, and past-the-last-snapshot) so each
    document picks up the dimension version live at ITS time. The
    Spark path is scd2_intervals → asof_join (running-last window, no
    join operator); the oracle re-derives the intervals with
    LAG/LEAD and probes them with an INTERVAL-PREDICATE join
    (valid_from <= t < valid_to) — a different plan family, so the
    hash match certifies the as-of ≡ interval-containment equivalence
    on contiguous runs."""
    docs = _t(spark, sf_dir, "documents")
    src = docs.select("source").distinct()
    snaps = None
    for s in range(4):
        f = src.selectExpr(
            "source",
            f"concat('team', (length(source) + {s // 2}) % 3) AS team",
            f"CAST({s} AS LONG) AS snapshot_ts",
        )
        snaps = f if snaps is None else snaps.unionByName(f)
    dim = temporal.scd2_intervals(
        snaps, key_cols=["source"], value_cols=["team"]
    )
    probe = docs.selectExpr(
        "doc_id", "source", "CAST(doc_id % 5 AS LONG) AS ts"
    )
    build = dim.selectExpr("source", "valid_from AS ts", "team")
    return temporal.asof_join(
        probe, build, ["source"], payloads=["team"]
    ).select("doc_id", "source", "ts", "asof_ts", "team")


def q_dense_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled per-event-type minute rates over events
    (aggregate.dense_time_buckets): empty buckets emitted as 0 between
    each key's first and last event. The oracle re-derives the bucket
    arithmetic, per-key spans, the generate_series spine, and the
    left-join fill independently."""
    return agg.dense_time_buckets(
        _t(spark, sf_dir, "events"), ts_col="ts",
        key_cols=["event_type"], bucket_s=60,
    )


def q_burst_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-burst detection over the densified per-event-type series
    (aggregate.burst_flags): integer cross-multiplied verdicts
    (n·trailing_buckets·100 > factor·trailing_sum) — exact, no float
    threshold. The oracle rebuilds the dense spine AND the trailing
    window and re-evaluates the inequality in SQL."""
    return agg.burst_flags(
        _t(spark, sf_dir, "events"), ts_col="ts",
        key_cols=["event_type"], bucket_s=60,
        window=10, factor_pct=300, min_periods=3,
    )


_INDUCTION_MSG_EXPR = """
    CASE CAST(event_id % 3 AS INT)
      WHEN 0 THEN concat('user ', CAST(user_id AS STRING),
                         ' did ', event_type, ' from 10.0.',
                         CAST(user_id % 256 AS STRING), '.',
                         CAST(event_id % 256 AS STRING))
      WHEN 1 THEN concat('txn 0x', lower(hex(event_id)),
                         ' ', event_type, ' took ',
                         CAST(CAST(floor(value * 10) AS BIGINT) AS STRING),
                         'ms')
      ELSE concat('req ', substr(md5(CAST(event_id AS STRING)), 1, 8), '-',
                  substr(md5(CAST(event_id AS STRING)), 9, 4), '-',
                  substr(md5(CAST(event_id AS STRING)), 13, 4), '-',
                  substr(md5(CAST(event_id AS STRING)), 17, 4), '-',
                  substr(md5(CAST(event_id AS STRING)), 21, 12),
                  ' ', event_type, ' v2 ok')
    END AS message
"""


def q_template_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-template INDUCTION (template.induce_templates — the
    discovery report that precedes authoring P11-P12 grok patterns):
    log-like messages constructed deterministically from events (ids,
    ips, hex txn ids, md5-derived uuids, unit-suffixed latencies), the
    uuid→ip→hex→num masking chain, one map-side-combined groupBy with
    exact distinct counts and the lexicographic example. The oracle
    rebuilds the messages and re-runs the identical RE2 chain
    (g-flag) + grouping + cut in DuckDB."""
    ev = _t(spark, sf_dir, "events").selectExpr(_INDUCTION_MSG_EXPR)
    return template.induce_templates(ev, text_col="message", k=20)


def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L68 collocation mining (textstats.pmi_pairs): top-50 PMI token
    pairs over window-4 co-occurrences, min pair count 3. PMI follows
    the bm25 micro discipline — the oracle mirrors the ratio's
    parenthesization exactly (ln((n_ab·T)·T / ((P·n_a)·n_b)), P = the
    PRE-cutoff total pair mass), re-derives every windowed pair,
    both count tables, and the TakeOrdered cut in SQL."""
    return textstats.pmi_pairs(
        _t(spark, sf_dir, "documents"), window=4, min_pair_count=3, k=50
    )


def q_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L67 record-linkage fuzzy dedup (dedup.fuzzy_dup_pairs) over a
    planted-typo corpus: every doc contributes a 24-char title; docs
    with doc_id%7==0 add a variant (id+100000) with one deterministic
    substitution, and %14==0 additionally drops the last char (edit
    distance 2 — the bound's edge). The oracle re-derives the planted
    variants, the multiset (gram, occ) postings with the same stop-gram
    cutoff, both candidate lanes (count-filter + short length-window),
    and the levenshtein verify entirely in SQL."""
    docs = _t(spark, sf_dir, "documents").filter("text IS NOT NULL")
    base = docs.selectExpr("doc_id", "substr(text, 1, 24) AS title")
    var = docs.filter("doc_id % 7 = 0").selectExpr(
        "doc_id + 100000 AS doc_id",
        "concat(substr(substr(text, 1, 24), 1, doc_id % 10 + 1), 'z',"
        " substr(substr(text, 1, 24), doc_id % 10 + 3)) AS title",
        "doc_id AS src",
    ).selectExpr(
        "doc_id",
        "CASE WHEN src % 14 = 0 THEN substr(title, 1, length(title) - 1)"
        " ELSE title END AS title",
    )
    keys = base.unionByName(var)
    return dedup.fuzzy_dup_pairs(keys, key_col="title", max_edit=2)


FUZZY_IDX_PATH = "/tmp/spark_graft_contract/fuzzy_idx"


def q_fuzzy_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental fuzzy dedup (dedup.write_fuzzy_index /
    fuzzy_dedup_against — the L67 member of the incremental-index
    family): titles of doc_id%3==0 persist as the index; the batch is
    every title plus 1-substitution variants of the indexed %6==0
    docs. Indexed titles (edit 0) and the typo variants (edit 1) drop;
    everything genuinely new survives. The stop-gram cutoff is inert
    at this corpus, so the two lanes exactly realize 'no indexed key
    within edit 2' — the oracle derives survivors with an INDEPENDENT
    NOT EXISTS + levenshtein formulation (different plan family)."""
    docs = _t(spark, sf_dir, "documents").filter("text IS NOT NULL")
    base = docs.selectExpr("doc_id", "substr(text, 1, 24) AS title")
    dedup.write_fuzzy_index(
        base.filter("doc_id % 3 = 0"), FUZZY_IDX_PATH,
        key_col="title", mode="overwrite",
    )
    var = base.filter("doc_id % 6 = 0").selectExpr(
        "doc_id + 100000 AS doc_id",
        "concat(substr(title, 1, doc_id % 10 + 1), 'z',"
        " substr(title, doc_id % 10 + 3)) AS title",
    )
    batch = base.unionByName(var)
    return dedup.fuzzy_dedup_against(
        batch, spark, FUZZY_IDX_PATH, key_col="title"
    ).select("doc_id")


def q_blast_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS blast-radius depths from the lexicographically smallest
    source service (graphalg.bfs_depths): fewest-hop distance to every
    downstream service. The oracle walks the same graph with a
    recursive CTE over (node, dist) states (recursive UNION dedup
    bounds the state at V·maxdepth rows even through cycles) and takes
    MIN(dist) outside the recursion — a different exploration order,
    same fixpoint."""
    edges = _pipeline_enriched(spark).filter(
        "src_service <> '' AND dst_service <> ''"
    ).select(
        F.col("src_service").alias("src"), F.col("dst_service").alias("dst")
    )
    root = edges.agg(F.min("src")).head()[0]
    return graphalg.bfs_depths(edges, root)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service-importance PageRank over the enriched call graph
    (graphalg.pagerank, L66): 10 fixed iterations of the exact
    integer-micro recurrence, event-count edge weights. The oracle
    unrolls the identical recurrence as a 10-CTE chain over the same
    enriched parquet (recursive members can't aggregate over the
    recursive reference, so fixed iterations unroll instead) — every
    share division, teleport term, and damping product re-derived in
    BIGINT arithmetic, so the hash match is bit-exact."""
    edges = _pipeline_enriched(spark).filter(
        "src_service <> '' AND dst_service <> ''"
    ).select(
        F.col("src_service").alias("src"), F.col("dst_service").alias("dst")
    )
    return graphalg.pagerank(edges, iterations=10)


def _pagerank_oracle_sql(iterations: int = 10) -> str:
    """Unrolled integer-micro PageRank recurrence (see q_pagerank)."""
    ctes = [
        f"""e AS (
              SELECT src_service AS src, dst_service AS dst,
                     CAST(COUNT(*) AS BIGINT) AS w
              FROM {_ENRICHED_REL}
              WHERE src_service <> '' AND dst_service <> ''
              GROUP BY 1, 2),
            outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow
                     FROM e GROUP BY src),
            nodes AS (SELECT DISTINCT node FROM
              (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
            p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
            it0 AS (SELECT node, CAST(1000000 // p.n AS BIGINT) AS rank
                    FROM nodes, p)"""
    ]
    for i in range(1, iterations + 1):
        ctes.append(f"""it{i} AS (
              SELECT nodes.node,
                     CAST((150000 // p.n)
                          + (850000 * COALESCE(s.s, 0)) // 1000000
                          AS BIGINT) AS rank
              FROM nodes CROSS JOIN p
              LEFT JOIN (
                SELECT e.dst AS node,
                       CAST(SUM((r.rank * e.w) // o.ow) AS BIGINT) AS s
                FROM e JOIN outw o USING (src)
                JOIN it{i - 1} r ON r.node = e.src
                GROUP BY e.dst) s USING (node))""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, rank AS rank_micro FROM it{iterations}"
    )


def q_cycle_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: canonical cycle-key rotation (cycle.go:81-105) as a pure
    relational expression — at corpus scale cycle frames canonicalize
    where they live instead of collecting to the driver. Three path
    shapes: closed walk with a trailing repeat of the head, open
    two-node path, single node."""
    ev = _t(spark, sf_dir, "events")
    path = F.expr(
        "CASE CAST(event_id % 3 AS INT) "
        "WHEN 0 THEN array('s' || CAST(user_id % 5 AS STRING),"
        " 's' || CAST(user_id % 3 AS STRING),"
        " 's' || CAST(event_id % 7 AS STRING),"
        " 's' || CAST(user_id % 5 AS STRING)) "
        "WHEN 1 THEN array('s' || CAST(user_id % 7 AS STRING),"
        " 's' || CAST(event_id % 4 AS STRING)) "
        "ELSE array('s' || CAST(user_id % 2 AS STRING)) END"
    )
    # staged form: the single-expression cycle_key_expr inlines the
    # CASE path everywhere and overflows the 64 KB codegen method limit
    # (whole projection silently falls back to interpreted eval)
    return graphalg.with_cycle_key(ev, path, "cycle_key").select(
        "event_id", "cycle_key"
    )


# ── conversation-level transcript analytics (transcript.py) ──

TRANSCRIPT_TURNS = 20_000
TRANSCRIPTS_PATH = f"/tmp/spark_graft_contract/transcripts_{TRANSCRIPT_TURNS}.parquet"
_TRANSCRIPTS_REL = f"read_parquet('{TRANSCRIPTS_PATH}/*.parquet')"
_transcripts_written = False


def _transcripts_raw(spark: SparkSession) -> DataFrame:
    """Build-once materialized raw transcript frame (input_hint shape;
    ts stored as timestamp_ntz, zstd so DuckDB reads the same bytes)."""
    global _transcripts_written
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if not _transcripts_written:
        tr = gen.transcripts(spark, TRANSCRIPT_TURNS).cache()
        tr.select(
            "conv_id", "turn_idx", "role", "text", "tool",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
        ).write.mode("overwrite").option("compression", "zstd").parquet(
            TRANSCRIPTS_PATH
        )
        tr.unpersist()
        _transcripts_written = True
    return spark.read.parquet(TRANSCRIPTS_PATH)


def q_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation rollup (turn counts by role, tool calls,
    distinct tools, time span) — one map-side-combined groupBy."""
    return transcript.conv_stats(_transcripts_raw(spark))


def q_tool_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov step-transition counts over consecutive turns (role, or
    role:tool for tool turns) with exact integer-micros row
    probabilities."""
    return transcript.step_transitions(_transcripts_raw(spark))


def q_conv_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation depth funnel: conversations reaching ≥k turns +
    integer-micros retention; the global window runs over the depth
    histogram only (bounded by max conversation length)."""
    return transcript.conv_funnel(_transcripts_raw(spark))


def q_transcript_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript→document rendering: one training document per
    conversation, lines `role[tool]: text` in turn order — the
    doc-ification step in front of the datapipe dedup/packing family."""
    return transcript.render_conversations(_transcripts_raw(spark))


def q_sft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(prompt, response) SFT pair extraction: each assistant turn with
    the nearest preceding user turn in its conversation."""
    return transcript.sft_pairs(_transcripts_raw(spark))


SFT_PAIRS_PATH = "/tmp/spark_graft_contract/sft_pairs.parquet"
_sft_pairs_written = False


def _sft_pairs_frame(spark: SparkSession) -> DataFrame:
    """Build-once materialized SFT pairs with a numeric pair key
    (xxhash64 — value-materialized so the DuckDB oracle consumes the
    same key bytes; pair DERIVATION is certified by the `sft_pairs`
    oracle)."""
    global _sft_pairs_written
    if not _sft_pairs_written:
        transcript.sft_pairs(_transcripts_raw(spark)).select(
            F.xxhash64("conv_id", "response_turn_idx").alias("pair_id"),
            "conv_id",
            "prompt",
            "response",
        ).write.mode("overwrite").option("compression", "zstd").parquet(
            SFT_PAIRS_PATH
        )
        _sft_pairs_written = True
    return spark.read.parquet(SFT_PAIRS_PATH)


def q_sft_mask_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text → training tensors, end to end: vocabulary over both pair
    lanes, loss-masked examples (BOS+prompt masked 0, response+EOS
    masked 1), packed into budget-96 chunks with the mask sliced
    identically to the ids across chunk boundaries. The oracle
    re-derives the vocabulary, both lanes' id lists, every example's
    ids+mask arrays, the running-sum layout, the per-overlap slices,
    and the positional rebuild — the full composition value-exact.
    Arrays serialized to space-joined strings (driver canonicalizer
    can't hash arrays)."""
    pairs = _sft_pairs_frame(spark)
    lanes = pairs.select(F.col("prompt").alias("text")).unionAll(
        pairs.select(F.col("response").alias("text"))
    )
    vocab = tokenize.vocab_build(lanes, max_size=200, min_count=2)
    ex = packing.sft_examples(pairs, vocab)
    packed = packing.pack_masked(ex, budget=96, block_size=64)
    return packed.select(
        "chunk_id",
        F.concat_ws(
            " ", F.transform("input_ids", lambda x: x.cast("string"))
        ).alias("ids_str"),
        F.concat_ws(
            " ", F.transform("loss_mask", lambda x: x.cast("string"))
        ).alias("mask_str"),
        "n_tokens",
        "n_loss_tokens",
    )


JSONSINK_PATH = "/tmp/spark_graft_contract/jsonsink_20000"
_jsonsink_written = False


def _ensure_json_sink(spark: SparkSession) -> None:
    """Materialize the K1 stdout-sink output once: the enriched frame
    JSON-encoded one event per line (sinks.json_lines, reference
    internal/sinks/stdout.go:14-27) written as plain text files."""
    global _jsonsink_written
    if _jsonsink_written:
        return
    ev = _pipeline_enriched(spark).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "role", "format", "parse_ok", "level",
        F.coalesce(F.col("status_code").cast("long"), F.lit(-1)).alias(
            "status_code"
        ),
        F.coalesce("latency_us", F.lit(-1)).alias("latency_us"),
        "src_service", "dst_service", "operation",
        # ntz → session-tz(UTC) timestamp → epoch seconds: a plain
        # number survives any JSON reader's type inference
        F.col("ts").cast("timestamp").cast("long").alias("ts_epoch"),
    )
    sinks.json_lines(ev).coalesce(4).write.mode("overwrite").text(JSONSINK_PATH)
    _jsonsink_written = True


def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 JSON sink round-trip: the sink's emitted bytes are read back
    by Spark's JSON source while the oracle reads the SAME files with
    DuckDB's independent spec-compliant reader (read_json_auto) — an
    exact-hash match proves the stdout sink's encoding is standard JSON
    lines any downstream consumer can ingest losslessly."""
    _ensure_json_sink(spark)
    schema = (
        "conv_id string, turn_idx long, role string, format string, "
        "parse_ok boolean, level string, status_code long, latency_us long, "
        "src_service string, dst_service string, operation string, "
        "ts_epoch long"
    )
    return spark.read.schema(schema).json(JSONSINK_PATH)


def q_conv_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-integrity report over a deterministically PERTURBED copy
    of the raw transcripts (dropped turns → holes, remapped indices →
    dups, back-shifted timestamps → inversions), so every violation
    lane carries non-zero counts. The oracle applies the identical
    perturbation in SQL and re-derives every count from the same
    parquet bytes."""
    perturbed = (
        _transcripts_raw(spark)
        .filter("NOT (turn_idx % 13 = 7)")
        .selectExpr(
            "conv_id",
            "CASE WHEN turn_idx % 11 = 5 THEN turn_idx - 1 ELSE turn_idx END"
            " AS turn_idx",
            "role",
            "text",
            "tool",
            "CASE WHEN turn_idx % 17 = 3 THEN ts - INTERVAL '90' SECOND"
            " ELSE ts END AS ts",
        )
    )
    return transcript.integrity_report(perturbed)


# ── temporal joins (as-of + range; temporal.py) ──


def _asof_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Probe = every event; build = every 7th event as a keyed
    state-change row (ver, state). Derived purely from `events` columns
    so the DuckDB oracle reconstructs both sides from the same parquet."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.selectExpr(
        "event_id AS pid",
        "'k' || CAST(user_id % 8 AS STRING) AS key",
        "ts",
    )
    build = ev.filter("event_id % 7 = 0").selectExpr(
        "'k' || CAST(user_id % 8 AS STRING) AS key",
        "ts",
        "event_id AS ver",
        "CAST(floor(value * 1000) AS LONG) AS state",
    )
    return probe, build


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF LEFT join (latest build state at or before each event),
    run through the BLOCKED two-phase form — the 100 TB plan where no
    task sorts a hot key's full history — so the oracle certifies the
    scale path, not just the single-window one (tests prove the two
    forms identical; reference parity: ordered-replay last-seen state,
    internal/graph/graph.go)."""
    probe, build = _asof_sides(spark, sf_dir)
    return temporal.asof_join_blocked(
        probe, build, ["key"], payloads=["ver", "state"],
        tiebreak="ver", block_s=6 * 3600,
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INNER interval join (which incident windows cover each event),
    bucketed large×large form: intervals explode into the time buckets
    they overlap, facts compute one bucket, equi-join + exact residual
    (reference parity: bench/incident_simulator_test.go applies an
    incident iff start <= ts < end)."""
    ev = _t(spark, sf_dir, "events")
    facts = ev.selectExpr(
        "event_id AS fid",
        "'k' || CAST(user_id % 8 AS STRING) AS key",
        "ts",
    )
    intervals = ev.filter("event_id % 101 = 0").selectExpr(
        "event_id AS iid",
        "'k' || CAST(user_id % 8 AS STRING) AS key",
        "ts AS start_ts",
        "ts + make_dt_interval(0, CAST(1 + event_id % 5 AS INT), 0, 0) AS end_ts",
    )
    return temporal.range_join(facts, intervals, ["key"], bucket_width_s=3600)


# ── driver contract ──


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: parse constructed JSON transcripts end-to-end →
    edge aggregate → per-service rollup (SURVEY.md §3.2 read path)."""
    parsed = parse.parse_normalized(
        _parse_json_input(spark, SF_SMOKE), text_col="text", source_name="flagship"
    )
    edges = agg.edge_agg(parsed, ts_col="event_ts", order_cols=["event_ts", "event_id"])
    return agg.service_rollup(edges)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Declaration order is the driver's certification order: the
    # correctness gate runs the FIRST ~50 declared queries each round
    # (r1: 42, r2: 45, r3: 50, r4: 50 — always a prefix). Round-5
    # window (r4 verdict #1/#2): an 11-query core smoke set leads,
    # then the PQ trio whose r4 driver rows were the only hash
    # failures (now integer-exact — must re-certify FIRST), then
    # graph_cycles (never driver-green in ANY round) and the 12
    # round-4 operators, then the 23 older never-certified queries.
    # That fills exactly 50; everything after has a green driver row
    # in CORRECTNESS_r1–r4.
    return {
        # ── core smoke (certified every round) ──
        "edge_agg": q_edge_agg,
        "parse_json": q_parse_json,
        "parse_formats": q_parse_formats,
        "parse_extended": q_parse_extended,
        "routing_fanout": q_routing_fanout,
        "sink_counts": q_sink_counts,
        "zscore_flags": q_zscore_flags,
        "resolver_chain": q_resolver_chain,
        "turn_rank_salted": q_turn_rank_salted,
        "service_rollup": q_service_rollup,
        "dedup_exact": q_dedup_exact,
        # ── PQ trio: r4 hash-fail → integer-exact re-certification ──
        "pq_topk": q_pq_topk,
        "ivf_pq_topk": q_ivf_pq_topk,
        "ivf_pq_knn": q_ivf_pq_knn,
        # ── never driver-green in any round: graph_cycles + r4 ops ──
        "graph_cycles": q_graph_cycles,
        "pagerank": q_pagerank,
        "fuzzy_dedup": q_fuzzy_dedup,
        "fuzzy_dedup_incremental": q_fuzzy_dedup_incremental,
        "pmi_pairs": q_pmi_pairs,
        "containment": q_containment,
        "snapshot_diff": q_snapshot_diff,
        "group_centroids": q_group_centroids,
        "template_induction": q_template_induction,
        "dense_buckets": q_dense_buckets,
        "burst_flags": q_burst_flags,
        "blast_radius": q_blast_radius,
        "scd2_probe": q_scd2_probe,
        # ── never driver-green: older rotation backlog ──
        "lm_score": q_lm_score,
        "lm_bigram": q_lm_bigram,
        "bm25_topk": q_bm25_topk,
        "tfidf_topk": q_tfidf_topk,
        "html_extract": q_html_extract,
        "pii_scrub": q_pii_scrub,
        "c4_clean": q_c4_clean,
        "line_dedup": q_line_dedup,
        "source_overlap": q_source_overlap,
        "semantic_dedup": q_semantic_dedup,
        "semantic_decontam": q_semantic_decontam,
        "prototype_prune": q_prototype_prune,
        "sample_split": q_sample_split,
        "stratified_k": q_stratified_k,
        "quantile_bins": q_quantile_bins,
        "decontaminate": q_decontaminate,
        "mixture": q_mixture_sample,
        "sentence_chunks": q_sentence_chunks,
        "trending_terms": q_trending_terms,
        "edge_rollup": q_edge_rollup,
        "format_level_matrix": q_format_level_matrix,
        "conv_integrity": q_conv_integrity,
        "sink_roundtrip": q_sink_roundtrip,
        # ── driver-certified in r1–r4 (outside the r5 window) ──
        "conv_stats": q_conv_stats,
        "cosine_topk": q_cosine_topk,
        "quantized_topk": q_quantized_topk,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "fingerprint": q_fingerprint,
        "embedding_near_dup": q_embedding_near_dup,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_trained": q_ann_ivf_trained,
        "knn_join": q_knn_join,
        "hard_negatives": q_hard_negatives,
        "substr_spans": q_substr_spans,
        "substr_pairs": q_substr_pairs,
        "substr_merge": q_substr_merge,
        "substr_remove": q_substr_remove,
        "substr_contamination": q_substr_contamination,
        "substr_stop_grams": q_substr_stop_grams,
        "curate_substr": q_curate_substr,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "scd2_intervals": q_scd2_intervals,
        "pack_chunks": q_pack_chunks,
        "pack_assemble": q_pack_assemble,
        "sft_mask_pack": q_sft_mask_pack,
        "vocab_topk": q_vocab_topk,
        "tokenize_ids": q_tokenize_ids,
        "token_budget": q_token_budget,
        "shard_plan": q_shard_plan,
        "epoch_shuffle": q_epoch_shuffle,
        "dedup_incremental": q_dedup_incremental,
        "near_dedup_incremental": q_near_dedup_incremental,
        "semantic_dedup_incremental": q_semantic_dedup_incremental,
        "index_compaction": q_index_compaction,
        "bpe_segment": q_bpe_segment,
        "dsir": q_dsir,
        "anomaly_alerts": q_anomaly_alerts,
        "pipeline_sink_counts": q_pipeline_sink_counts,
        "pipeline_edge_agg": q_pipeline_edge_agg,
        "media_features": q_media_features,
        "media_decode": q_media_decode,
        "edge_metrics": q_edge_metrics,
        "first_seen": q_first_seen,
        "p99_exact": q_p99_exact,
        "topk_edges": q_topk_edges,
        "edge_sessions": q_edge_sessions,
        "upstream_downstream": q_upstream_downstream,
        "last_n_events": q_last_n_events,
        "service_sort_filter": q_service_sort_filter,
        "latency_percentiles": q_latency_percentiles,
        "event_predicates": q_event_predicates,
        "truncate": q_truncate,
        "zscore_blocked": q_zscore_blocked,
        "error_rate_feed": q_error_rate_feed,
        "time_buckets": q_time_buckets,
        "json_extract": q_json_extract,
        "parse_ecs": q_parse_ecs,
        "template_nginx": q_template_nginx,
        "parse_nested": q_parse_nested,
        "case_transforms": q_case_transforms,
        "transform_remap": q_transform_remap,
        "graph_nodes": q_graph_nodes,
        "fanin_union": q_fanin_union,
        "cycle_keys": q_cycle_keys,
        "tool_transitions": q_tool_transitions,
        "conv_funnel": q_conv_funnel,
        "transcript_render": q_transcript_render,
        "sft_pairs": q_sft_pairs,
        "enrich_lookup": q_enrich_lookup,
        "curate": q_curate,
        "curate_full": q_curate_full,
        "curate_html": q_curate_html,
        "dup_components": q_dup_components,
        "cluster_reps": q_cluster_reps,
        "jaccard_pairs": q_jaccard_pairs,
        "text_stats": q_text_stats,
        "corpus_stats": q_corpus_stats,
        "url_filter": q_url_filter,
        "repetition_filter": q_repetition_filter,
    }


_TEXTSTATS_SQL = r"""
            WITH base AS (
              SELECT doc_id, text,
                     list_filter(regexp_split_to_array(text, '\s+'), tk -> tk <> '') AS toks,
                     list_filter(regexp_split_to_array(lower(text), '\s+'), tk -> tk <> '') AS ltoks,
                     length(text) AS n_chars
              FROM documents),
            hits AS (
              SELECT *,
                CASE WHEN trim(text) = '' THEN 0 ELSE len(toks) END AS n_tok,
                len(list_filter(ltoks, t -> list_contains(
                  ['der','die','das','und','ist','ein','zu','mit','von','nicht'], t))) AS h_de,
                len(list_filter(ltoks, t -> list_contains(
                  ['the','a','of','and','to','in','is','it','that','for'], t))) AS h_en,
                len(list_filter(ltoks, t -> list_contains(
                  ['el','la','los','y','es','un','una','de','que','por'], t))) AS h_es,
                len(list_filter(ltoks, t -> list_contains(
                  ['le','la','les','et','est','un','une','de','que','pour'], t))) AS h_fr,
                len(regexp_extract_all(text, '[.!?,;:]')) AS punct,
                len(regexp_extract_all(text, '[A-Za-z]+|\d|[^A-Za-z\d\s]')) AS n_bpe
              FROM base),
            st AS (
              SELECT doc_id, text, n_chars, n_tok AS n_tokens, n_bpe AS n_bpe_tokens,
                   round(((CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END)
                        + (CASE WHEN (CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END) <= 0.2
                                THEN 1.0 ELSE 0.0 END)
                        + (CASE WHEN (CASE WHEN n_tok > 0 THEN h_en / n_tok ELSE 0.0 END) >= 0.01
                                THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality,
                   CASE WHEN greatest(h_de, h_en, h_es, h_fr) IS NULL
                          THEN 'unknown'  -- NULL text: match Spark lang_id
                        WHEN greatest(h_de, h_en, h_es, h_fr) <= 0 THEN 'unknown'
                        WHEN h_fr = greatest(h_de, h_en, h_es, h_fr) THEN 'fr'
                        WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                        WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                        ELSE 'de' END AS lang_guess
              FROM hits)
"""


_ROLLUP_SQL = f"""
            WITH fed AS ({_FED_SQL}), base AS ({_BASE_SQL}),
            out_side AS (
              SELECT src AS service, COUNT(*) AS out_deg,
                     CAST(SUM((latency_sum_us // call_count) * call_count) AS BIGINT) AS lat_weighted,
                     CAST(SUM(call_count) AS BIGINT) AS calls,
                     CAST(SUM(error_count) AS BIGINT) AS errors
              FROM base GROUP BY src),
            in_side AS (SELECT dst AS service, COUNT(*) AS in_deg FROM base GROUP BY dst),
            svc AS (
              SELECT COALESCE(o.service, i.service) AS service,
                     COALESCE(in_deg, 0) AS in_deg, COALESCE(out_deg, 0) AS out_deg,
                     COALESCE(lat_weighted, 0) AS lat_weighted,
                     COALESCE(calls, 0) AS calls, COALESCE(errors, 0) AS errors
              FROM out_side o FULL OUTER JOIN in_side i ON o.service = i.service),
            d AS (
              SELECT service, in_deg, out_deg,
                     CASE WHEN calls > 0 THEN CAST(lat_weighted // calls AS BIGINT)
                          ELSE 0 END AS avg_latency_us,
                     CASE WHEN calls > 0 THEN errors / calls ELSE 0.0 END AS error_rate
              FROM svc)
            SELECT service, in_deg, out_deg, avg_latency_us, error_rate,
                   CAST(0 AS BIGINT) AS anomalies,
                   CAST(0 AS BIGINT) * 2.0 + error_rate * 10.0
                     + CAST(avg_latency_us // 1000 AS BIGINT) / 100.0 AS risk
            FROM d
"""


def _sql_floor_round(x: str, dp: int = 6) -> str:
    """DuckDB twin of ``similarity.floor_round``: round-half-up via
    ``floor(x·10^dp + 0.5) / 10^dp`` — the same IEEE double ops the
    Spark expression computes, so rounded values agree bit-for-bit
    cross-engine (DuckDB's ``round`` is scaled-double, Spark's is
    BigDecimal HALF_UP — they can disagree at a .5 boundary, the
    round-4 PQ-gate class)."""
    s = 10**dp
    return f"(floor(({x}) * {s}.0 + 0.5) / {s}.0)"


def _sql_sq_l2_micros(a_elem: str, b_elem: str, n: int) -> str:
    """DuckDB twin of ``similarity._micro_sq_l2``: INTEGER-EXACT
    squared L2 — per-term ``floor(COALESCE((a-b)²,0)·1e6 + 0.5)`` cast
    BIGINT, list_sum'd. The ops are the same IEEE doubles + exact
    floor the Spark-side Arrow kernels compute, so every cross-engine
    distance comparison agrees by construction (the round-4 PQ-gate
    fix: F.round-vs-DuckDB-round could flip a .5-boundary tie).
    ``a_elem``/``b_elem`` are element expressions containing ``[i]``
    (or any indexed form using the lambda variable ``i``)."""
    return (
        f"list_sum(list_transform(range(1, {n} + 1), "
        f"i -> CAST(floor(COALESCE(({a_elem} - {b_elem}) "
        f"* ({a_elem} - {b_elem}), 0.0) * 1000000.0 + 0.5) AS BIGINT)))"
    )


def _pq_adc_ctes(base: str) -> tuple[str, str]:
    """Shared PQ-oracle CTE block: per-subspace nearest-code assignment
    (integer-micro squared L2, code tie-break — the
    similarity._pq_codes_arrow / _micro_sq_l2 convention) over rows of ``base``
    (``vec_id, v``), plus per-element integer-micros partial dots with
    the query (``floor(q_i·c_i·1e6 + 0.5)`` summed as BIGINT — exactly
    the driver's lookup-table arithmetic in similarity._adc_scored).
    Requires CTEs ``q`` (``qv``) and ``cb`` (codebook) in scope.
    Returns ``(ctes_sql, adc_cte_sql)`` where the latter defines
    ``adc(vec_id, adc_micros)``."""
    ctes, adc_terms, joins = [], [], []
    for s, (st, w) in enumerate(similarity.subspace_bounds(IVF_DIM, PQ_M)):
        ctes.append(f"""
            d{s} AS (
              SELECT {base}.vec_id, cb.code,
                     {_sql_sq_l2_micros(f"{base}.v[{st} - 1 + i]", "cb.centroid[i]", w)} AS dist
              FROM {base} CROSS JOIN cb WHERE cb.sub = {s}),
            a{s} AS (
              SELECT vec_id, code FROM d{s}
              QUALIFY row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, code) = 1),
            p{s} AS (
              SELECT a{s}.vec_id,
                     list_sum(list_transform(range(1, {w} + 1),
                           i -> CAST(floor(q.qv[{st} - 1 + i] * cb.centroid[i]
                                           * 1000000.0 + 0.5) AS BIGINT))) AS p
              FROM a{s} JOIN cb ON cb.sub = {s} AND cb.code = a{s}.code
              CROSS JOIN q)""")
        adc_terms.append(f"p{s}.p")
        if s:
            joins.append(f"JOIN p{s} USING (vec_id)")
    adc = f"""
        adc AS (
          SELECT p0.vec_id, {" + ".join(adc_terms)} AS adc_micros
          FROM p0 {" ".join(joins)})"""
    return ",".join(ctes), adc


_PQ_TAIL = f"""
        cand AS (SELECT * FROM adc
                 ORDER BY adc_micros DESC, vec_id LIMIT {10 * PQ_RERANK}),
        fin AS (
          SELECT cand.vec_id, cand.adc_micros,
                 list_sum(list_transform(range(1, {IVF_DIM} + 1),
                                         i -> s.v[i] * q.qv[i])) AS dot,
                 sqrt(list_sum(list_transform(s.v, x -> x * x))) AS nv,
                 sqrt(list_sum(list_transform(q.qv, x -> x * x))) AS nq
          FROM cand JOIN s USING (vec_id) CROSS JOIN q)
        SELECT vec_id, adc_micros,
               (floor((CASE WHEN nv * nq > 0 THEN dot / (nv * nq) ELSE 0.0 END)
                        * 10000.0 + 0.5) / 10000.0)
                 AS cosine_r
        FROM fin ORDER BY cosine_r DESC, vec_id LIMIT 10
    """


def _pq_oracle_sql() -> str:
    """DuckDB re-derivation of the whole PQ path from the persisted
    codebook bytes: code assignment, integer ADC, candidate cut, exact
    rerank (see _pq_adc_ctes)."""
    ctes, adc = _pq_adc_ctes("s")
    return f"""
        WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT v AS qv FROM s WHERE vec_id = 0),
        cb AS (SELECT sub, code, centroid
               FROM read_parquet('{PQ_PATH}_codebook/*.parquet')),
        {ctes},
        {adc},
        {_PQ_TAIL}
    """


def _ivf_pq_oracle_sql() -> str:
    """IVF×PQ oracle: re-derives the coarse cell of EVERY vector and
    the query's probe set from the persisted centroid bytes (the
    ann_ivf_trained pattern), restricts to probed cells, then re-runs
    the full PQ chain (code assignment from codebook bytes, integer
    ADC, cut, exact rerank) over just those rows — the same pruning ×
    compression composition the Spark path executes."""
    ctes, adc = _pq_adc_ctes("pr")
    return f"""
        WITH s0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        s AS (SELECT * FROM s0),
        q AS (SELECT v AS qv FROM s0 WHERE vec_id = 0),
        cent AS (SELECT cell, centroid
                 FROM read_parquet('{IVFPQ_PATH}_centroids/*.parquet')),
        cb AS (SELECT sub, code, centroid
               FROM read_parquet('{IVFPQ_PATH}_codebook/*.parquet')),
        dcell AS (
          SELECT s0.vec_id, cent.cell,
                 {_sql_sq_l2_micros("s0.v[i]", "cent.centroid[i]", IVF_DIM)} AS dist
          FROM s0 CROSS JOIN cent),
        acell AS (
          SELECT vec_id, cell FROM dcell
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cell) = 1),
        qd AS (
          SELECT cent.cell,
                 {_sql_sq_l2_micros("q.qv[i]", "cent.centroid[i]", IVF_DIM)} AS dist
          FROM cent CROSS JOIN q),
        probes AS (SELECT cell FROM qd ORDER BY dist, cell
                   LIMIT {IVFPQ_PROBE}),
        pr AS (SELECT s0.vec_id, s0.v
               FROM s0 JOIN acell USING (vec_id) JOIN probes USING (cell)),
        {ctes},
        {adc},
        {_PQ_TAIL}
    """


def _ivf_cell_sql(vec: str) -> str:
    """DuckDB expression recomputing similarity.assign_cells for a
    DOUBLE[] column: the deterministic ±1 hyperplanes are embedded as
    literals, so the oracle derives the cell independently."""
    import math

    from logshipper_spark.datapipe.similarity import _plane

    bits = max(1, int(math.ceil(math.log2(IVF_CELLS))))
    terms = []
    for p in range(bits):
        plane = "[" + ",".join(str(x) for x in _plane(IVF_DIM, 1000 + p)) + "]"
        proj = (
            f"list_sum(list_transform(range(1, {IVF_DIM} + 1), "
            f"i -> {vec}[i] * ({plane}::DOUBLE[])[i]))"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def _routed_union_sql(source: str) -> str:
    """Fan-out routing as a UNION ALL of per-sink filters — the oracle
    twin of route.routed_rows over the same rules."""
    parts = [
        f"SELECT '{sink}' AS sink, * FROM {source} WHERE {pred}"
        for sink, pred, _ in sorted(gen.routing_rules(), key=lambda r: r[2])
    ]
    return " UNION ALL ".join(parts)


_ENRICHED_REL = f"read_parquet('{ENRICHED_PATH}/*.parquet')"

_PIPE_FED_SQL = f"""
    SELECT src_service AS src, dst_service AS dst, operation AS op,
           status_code, latency_us, event_ts, ts, conv_id, turn_idx
    FROM {_ENRICHED_REL}
    WHERE src_service <> '' AND dst_service <> ''
"""


def oracle_sql() -> dict[str, str]:
    # The pipeline and media oracles read parquet artifacts that their
    # query callables materialize. Normally the harness runs a query
    # before its oracle, but hedge against any other evaluation order:
    # if a session is already active, make sure the artifacts exist
    # (no-op when the queries already wrote them).
    spark = SparkSession.getActiveSession()
    if spark is not None:
        try:
            _pipeline_enriched(spark)
            _ensure_media(spark)
            _ensure_json_sink(spark)
            _transcripts_raw(spark)
        except Exception:
            pass  # the per-query path will write them

    ingest = DEFAULT_INGEST_TS
    return {
        "pipeline_sink_counts": f"""
            WITH f AS (SELECT * FROM {_ENRICHED_REL}),
            r AS ({_routed_union_sql('f')})
            SELECT sink, conv_id, time_bucket(INTERVAL '1 minute', ts) AS window_start,
                   COUNT(*) AS turn_count,
                   CAST(SUM(CASE WHEN tool <> '' THEN 1 ELSE 0 END) AS BIGINT) AS tool_call_count,
                   CAST(SUM(CASE WHEN level = 'error' OR status_code >= 500 THEN 1 ELSE 0 END) AS BIGINT)
                     AS error_pattern_count
            FROM r GROUP BY sink, conv_id, 3
        """,
        "trending_terms": f"""
            WITH t AS (
              SELECT ts, text
              FROM read_parquet('{TRANSCRIPTS_PATH}/*.parquet')),
            tok AS (
              SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
                     ts IS NULL AS tsnull,
                     unnest(CASE WHEN trim(text) = ''
                            THEN CAST([] AS VARCHAR[])
                            ELSE list_filter(
                              regexp_split_to_array(lower(text), '\\s+'),
                              tk -> tk <> '')
                            END) AS token
              FROM t),
            c AS (
              SELECT wstart, tsnull, token,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM tok GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2),
            r AS (
              SELECT wstart, tsnull, token, n,
                     CAST(row_number() OVER (
                       PARTITION BY wstart, tsnull
                       ORDER BY n DESC, token) AS INTEGER) AS rank
              FROM c)
            SELECT CASE WHEN tsnull THEN NULL ELSE wstart END
                     AS window_start,
                   token, n, rank
            FROM r WHERE rank <= 5
        """,
        "scd2_intervals": r"""
            WITH src AS (SELECT DISTINCT source FROM documents),
            snaps AS (
              SELECT source, 'team' || ((length(source) + 0) % 3) AS team,
                     CAST(0 AS BIGINT) AS ts FROM src
              UNION ALL
              SELECT source, 'team' || ((length(source) + 0) % 3),
                     CAST(1 AS BIGINT) FROM src
              UNION ALL
              SELECT source, 'team' || ((length(source) + 1) % 3),
                     CAST(2 AS BIGINT) FROM src
              UNION ALL
              SELECT source, 'team' || ((length(source) + 1) % 3),
                     CAST(3 AS BIGINT) FROM src),
            m AS (
              SELECT source, team, ts,
                     team IS DISTINCT FROM
                       LAG(team) OVER (PARTITION BY source ORDER BY ts)
                       AS chg
              FROM snaps),
            r AS (
              SELECT source, team, ts AS valid_from,
                     LEAD(ts) OVER (PARTITION BY source ORDER BY ts)
                       AS valid_to
              FROM m WHERE chg)
            SELECT source, team, valid_from, valid_to FROM r
        """,
        "scd2_probe": r"""
            WITH src AS (SELECT DISTINCT source FROM documents),
            snaps AS (
              SELECT source, 'team' || ((length(source) + 0) % 3) AS team,
                     CAST(0 AS BIGINT) AS ts FROM src
              UNION ALL
              SELECT source, 'team' || ((length(source) + 0) % 3),
                     CAST(1 AS BIGINT) FROM src
              UNION ALL
              SELECT source, 'team' || ((length(source) + 1) % 3),
                     CAST(2 AS BIGINT) FROM src
              UNION ALL
              SELECT source, 'team' || ((length(source) + 1) % 3),
                     CAST(3 AS BIGINT) FROM src),
            m AS (
              SELECT source, team, ts,
                     team IS DISTINCT FROM
                       LAG(team) OVER (PARTITION BY source ORDER BY ts)
                       AS chg
              FROM snaps),
            r AS (
              SELECT source, team, ts AS valid_from,
                     LEAD(ts) OVER (PARTITION BY source ORDER BY ts)
                       AS valid_to
              FROM m WHERE chg),
            probe AS (
              SELECT doc_id, source, CAST(doc_id % 5 AS BIGINT) AS ts
              FROM documents)
            SELECT p.doc_id, p.source, p.ts,
                   r.valid_from AS asof_ts, r.team
            FROM probe p LEFT JOIN r
              ON r.source = p.source AND r.valid_from <= p.ts
             AND (r.valid_to IS NULL OR p.ts < r.valid_to)
        """,
        "edge_rollup": f"""
            SELECT src_service, dst_service,
                   CAST(2 * GROUPING(src_service) + GROUPING(dst_service)
                        AS BIGINT) AS gid,
                   COUNT(*) AS n_events,
                   CAST(SUM(CASE WHEN status_code >= 500 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_errors,
                   CAST(SUM(COALESCE(latency_us, 0)) AS BIGINT)
                     AS latency_sum_us
            FROM {_ENRICHED_REL}
            WHERE src_service <> '' AND dst_service <> ''
            GROUP BY ROLLUP (src_service, dst_service)
        """,
        "format_level_matrix": f"""
            SELECT level,
                   CAST(SUM(CASE WHEN format = 'json' THEN 1 ELSE 0 END)
                        AS BIGINT) AS json,
                   CAST(SUM(CASE WHEN format = 'ecs_json' THEN 1 ELSE 0 END)
                        AS BIGINT) AS ecs_json,
                   CAST(SUM(CASE WHEN format = 'metric_json' THEN 1 ELSE 0 END)
                        AS BIGINT) AS metric_json,
                   CAST(SUM(CASE WHEN format = 'plain' THEN 1 ELSE 0 END)
                        AS BIGINT) AS plain
            FROM {_ENRICHED_REL}
            GROUP BY level
        """,
        "pipeline_edge_agg": f"""
            WITH fed AS ({_PIPE_FED_SQL}),
            base AS (
              SELECT src, dst, op, COUNT(*) AS call_count,
                     CAST(SUM(CASE WHEN status_code >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS error_count,
                     CAST(SUM(latency_us) AS BIGINT) AS latency_sum_us,
                     MIN(event_ts) AS first_seen, MAX(event_ts) AS last_seen
              FROM fed GROUP BY src, dst, op),
            lastn AS (
              SELECT * FROM (
                SELECT src, dst, op, latency_us,
                       row_number() OVER (PARTITION BY src, dst, op
                                          ORDER BY ts DESC, conv_id DESC, turn_idx DESC) AS rn
                FROM fed) t
              WHERE rn <= 100),
            p99 AS (
              SELECT src, dst, op,
                     list_sort(list(latency_us))[CAST(floor((COUNT(*) - 1) * 0.99) AS INT) + 1]
                       AS latency_p99_us
              FROM lastn GROUP BY src, dst, op)
            SELECT base.src, base.dst, base.op, call_count, error_count,
                   latency_sum_us, latency_p99_us, first_seen, last_seen
            FROM base JOIN p99 USING (src, dst, op)
        """,
        "anomaly_alerts": f"""
            WITH f AS (
              SELECT src_service || '|' || dst_service || '|' || operation AS edge_key,
                     ts, conv_id, turn_idx, latency_us / 1000.0 AS value
              FROM {_ENRICHED_REL}
              WHERE src_service <> '' AND dst_service <> ''),
            s AS (
              SELECT edge_key, ts, conv_id, turn_idx, value,
                     AVG(value) OVER w AS mean,
                     COALESCE(stddev_pop(value) OVER w, 0.0) AS stddev,
                     COUNT(value) OVER w AS n
              FROM f
              WINDOW w AS (PARTITION BY edge_key ORDER BY ts, conv_id, turn_idx
                           ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)),
            z AS (
              SELECT *, CASE WHEN stddev = 0 THEN 0.0 ELSE (value - mean) / stddev END AS zscore,
                     (n >= 50 AND abs(CASE WHEN stddev = 0 THEN 0.0 ELSE (value - mean) / stddev END) > 3.0)
                       AS is_anom
              FROM s),
            t AS (
              SELECT *, COALESCE(lag(is_anom) OVER (PARTITION BY edge_key
                                                    ORDER BY ts, conv_id, turn_idx), false) AS prev
              FROM z)
            SELECT edge_key, ts, conv_id, turn_idx,
                   round(value + 1e-9, 4) AS value_r, round(mean + 1e-9, 4) AS mean_r,
                   round(stddev + 1e-9, 4) AS stddev_r, round(zscore + 1e-9, 4) AS zscore_r
            FROM t WHERE is_anom AND NOT prev
        """,
        "sink_roundtrip": f"""
            SELECT conv_id, turn_idx, role, "format", parse_ok, level,
                   status_code, latency_us, src_service, dst_service,
                   operation, ts_epoch
            FROM read_json_auto('{JSONSINK_PATH}/*.txt')
        """,
        "conv_stats": f"""
            SELECT conv_id, COUNT(*) AS n_turns, MAX(turn_idx) AS max_turn_idx,
                   CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS user_turns,
                   CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS assistant_turns,
                   CAST(SUM(CASE WHEN role = 'system' THEN 1 ELSE 0 END) AS BIGINT) AS system_turns,
                   CAST(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS tool_turns,
                   CAST(SUM(CASE WHEN tool <> '' THEN 1 ELSE 0 END) AS BIGINT) AS tool_calls,
                   COUNT(DISTINCT CASE WHEN tool <> '' THEN tool END) AS distinct_tools,
                   MIN(ts) AS first_ts, MAX(ts) AS last_ts,
                   CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s
            FROM {_TRANSCRIPTS_REL} GROUP BY conv_id
        """,
        "tool_transitions": f"""
            WITH s AS (
              SELECT conv_id, turn_idx,
                     CASE WHEN tool <> '' THEN role || ':' || tool ELSE role END AS step
              FROM {_TRANSCRIPTS_REL}),
            l AS (
              -- START gates on the first ROW (row_number), mirroring
              -- step_transitions: coalescing lag's NULL would also
              -- rewrite a genuinely NULL previous label as a start
              SELECT CASE WHEN row_number() OVER
                            (PARTITION BY conv_id ORDER BY turn_idx) = 1
                          THEN 'START'
                          ELSE lag(step) OVER
                            (PARTITION BY conv_id ORDER BY turn_idx)
                     END AS prev_step, step
              FROM s),
            c AS (SELECT prev_step, step, COUNT(*) AS n_transitions
                  FROM l GROUP BY prev_step, step)
            SELECT prev_step, step, n_transitions,
                   CAST(n_transitions * 1000000 //
                        SUM(n_transitions) OVER (PARTITION BY prev_step) AS BIGINT)
                     AS prob_micros
            FROM c
        """,
        "conv_funnel": f"""
            WITH sizes AS (SELECT conv_id, COUNT(*) AS n
                           FROM {_TRANSCRIPTS_REL} GROUP BY conv_id),
            hist AS (SELECT n AS depth, COUNT(*) AS n_convs_exact
                     FROM sizes GROUP BY n)
            SELECT depth, n_convs_exact,
                   CAST(SUM(n_convs_exact) OVER (ORDER BY depth DESC) AS BIGINT)
                     AS n_convs_at_least,
                   CAST(SUM(n_convs_exact) OVER (ORDER BY depth DESC) * 1000000 //
                        SUM(n_convs_exact) OVER () AS BIGINT) AS retention_micros
            FROM hist
        """,
        "transcript_render": f"""
            WITH r AS (
              SELECT conv_id, COUNT(*) AS n_turns,
                     -- role/text COALESCE mirrors render_conversations:
                     -- a NULL lane must not drop the whole turn line
                     string_agg(COALESCE(role, '') ||
                                CASE WHEN tool <> '' THEN '[' || tool || ']' ELSE '' END
                                || ': ' || COALESCE(text, ''),
                                chr(10) ORDER BY turn_idx) AS doc
              FROM {_TRANSCRIPTS_REL} GROUP BY conv_id)
            SELECT conv_id, CAST(n_turns AS INT) AS n_turns, doc,
                   CAST(LENGTH(doc) AS INT) AS n_chars
            FROM r
        """,
        "sft_pairs": f"""
            WITH p AS (
              SELECT conv_id, turn_idx, role, text,
                     last_value(CASE WHEN role = 'user' THEN turn_idx END IGNORE NULLS)
                       OVER w AS prompt_turn_idx,
                     last_value(CASE WHEN role = 'user' THEN text END IGNORE NULLS)
                       OVER w AS prompt
              FROM {_TRANSCRIPTS_REL}
              WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
            SELECT conv_id, prompt_turn_idx, turn_idx AS response_turn_idx,
                   prompt, text AS response
            FROM p WHERE role = 'assistant' AND prompt_turn_idx IS NOT NULL
        """,
        "pagerank": _pagerank_oracle_sql(),
        "blast_radius": f"""
            WITH RECURSIVE e AS (
              SELECT DISTINCT src_service AS src, dst_service AS dst
              FROM {_ENRICHED_REL}
              WHERE src_service <> '' AND dst_service <> ''),
            r AS (SELECT MIN(src) AS root FROM e),
            walk(node, dist) AS (
              SELECT root, 0 FROM r
              UNION
              SELECT ee.dst, w.dist + 1
              FROM walk w JOIN e ee ON ee.src = w.node
              WHERE w.dist < 64)
            SELECT node, CAST(MIN(dist) AS INT) AS depth
            FROM walk GROUP BY node
        """,
        "fuzzy_dedup_incremental": r"""
            WITH base AS (
              SELECT doc_id, substr(text, 1, 24) AS title
              FROM documents WHERE text IS NOT NULL),
            idx AS (SELECT title FROM base WHERE doc_id % 3 = 0),
            var AS (
              SELECT doc_id + 100000 AS doc_id,
                     concat(substr(title, 1, doc_id % 10 + 1), 'z',
                            substr(title, doc_id % 10 + 3)) AS title
              FROM base WHERE doc_id % 6 = 0),
            batch AS (SELECT * FROM base UNION ALL SELECT * FROM var)
            SELECT b.doc_id FROM batch b
            WHERE NOT EXISTS (
              SELECT 1 FROM idx i
              WHERE abs(length(i.title) - length(b.title)) <= 2
                AND levenshtein(i.title, b.title) <= 2)
        """,
        "burst_flags": r"""
            WITH c AS (
              SELECT event_type,
                     CAST(floor(epoch(ts) / 60) * 60 AS BIGINT)
                       AS bucket_start,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events WHERE ts IS NOT NULL
              GROUP BY 1, 2),
            spans AS (
              SELECT event_type, MIN(bucket_start) AS lo,
                     MAX(bucket_start) AS hi
              FROM c GROUP BY event_type),
            spine AS (
              SELECT event_type,
                     unnest(generate_series(lo, hi, 60)) AS bucket_start
              FROM spans),
            dense AS (
              SELECT s.event_type, s.bucket_start, COALESCE(c.n, 0) AS n
              FROM spine s LEFT JOIN c USING (event_type, bucket_start)),
            w AS (
              SELECT event_type, bucket_start, n,
                     CAST(COALESCE(SUM(n) OVER tw, 0) AS BIGINT)
                       AS trailing_sum,
                     CAST(COUNT(n) OVER tw AS BIGINT) AS nt
              FROM dense
              WINDOW tw AS (PARTITION BY event_type ORDER BY bucket_start
                            ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
            SELECT event_type, bucket_start, n, trailing_sum,
                   (nt >= 3 AND n * nt * 100 > 300 * trailing_sum)
                     AS burst
            FROM w
        """,
        "dense_buckets": r"""
            WITH c AS (
              SELECT event_type,
                     CAST(floor(epoch(ts) / 60) * 60 AS BIGINT)
                       AS bucket_start,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events WHERE ts IS NOT NULL
              GROUP BY 1, 2),
            spans AS (
              SELECT event_type, MIN(bucket_start) AS lo,
                     MAX(bucket_start) AS hi
              FROM c GROUP BY event_type),
            spine AS (
              SELECT event_type,
                     unnest(generate_series(lo, hi, 60)) AS bucket_start
              FROM spans)
            SELECT s.event_type, s.bucket_start,
                   COALESCE(c.n, 0) AS n
            FROM spine s LEFT JOIN c USING (event_type, bucket_start)
        """,
        "template_induction": r"""
            WITH msgs AS (
              SELECT CASE CAST(event_id % 3 AS INT)
                WHEN 0 THEN 'user ' || CAST(user_id AS VARCHAR)
                         || ' did ' || event_type || ' from 10.0.'
                         || CAST(user_id % 256 AS VARCHAR) || '.'
                         || CAST(event_id % 256 AS VARCHAR)
                WHEN 1 THEN 'txn 0x' || to_hex(event_id)
                         || ' ' || event_type || ' took '
                         || CAST(CAST(floor(value * 10) AS BIGINT)
                                 AS VARCHAR) || 'ms'
                ELSE 'req '
                     || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) || '-'
                     || substr(md5(CAST(event_id AS VARCHAR)), 9, 4) || '-'
                     || substr(md5(CAST(event_id AS VARCHAR)), 13, 4) || '-'
                     || substr(md5(CAST(event_id AS VARCHAR)), 17, 4) || '-'
                     || substr(md5(CAST(event_id AS VARCHAR)), 21, 12)
                     || ' ' || event_type || ' v2 ok'
                END AS message
              FROM events),
            masked AS (
              SELECT message,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(message,
                             '\b[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\b',
                             '<uuid>', 'g'),
                           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                           '<ip>', 'g'),
                         '\b0x[0-9a-fA-F]+\b', '<hex>', 'g'),
                       '\b\d+(\.\d+)?', '<num>', 'g') AS template
              FROM msgs WHERE message IS NOT NULL)
            SELECT template, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT message) AS BIGINT) AS n_distinct,
                   MIN(message) AS example
            FROM masked GROUP BY template
            ORDER BY n DESC, template LIMIT 20
        """,
        "pmi_pairs": r"""
            WITH t AS (
              SELECT doc_id, list_filter(
                regexp_split_to_array(lower(text), '\s+'), x -> x <> '')
                AS toks
              FROM documents),
            pos AS (
              SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks) - 1)) AS i
              FROM t WHERE len(toks) >= 2),
            dd AS (
              SELECT doc_id, toks, i, unnest(generate_series(1, 4)) AS d
              FROM pos),
            pr AS (
              SELECT least(toks[i], toks[i + d]) AS token_a,
                     greatest(toks[i], toks[i + d]) AS token_b
              FROM dd
              WHERE i + d <= len(toks) AND toks[i] <> toks[i + d]),
            pc_all AS (
              SELECT token_a, token_b, CAST(COUNT(*) AS BIGINT)
                       AS pair_count
              FROM pr GROUP BY 1, 2),
            pc AS (SELECT * FROM pc_all WHERE pair_count >= 3),
            uc AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS n
              FROM (SELECT unnest(toks) AS token FROM t) GROUP BY token),
            tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t_tok FROM uc),
            ptot AS (SELECT CAST(SUM(pair_count) AS DOUBLE) AS p_tot
                     FROM pc_all),
            sc AS (
              SELECT token_a, token_b, pair_count,
                     CAST(floor(ln(
                       ((CAST(pair_count AS DOUBLE) * t_tok) * t_tok)
                       / ((p_tot * CAST(na.n AS DOUBLE))
                          * CAST(nb.n AS DOUBLE))) * 1000000.0 + 0.5)
                       AS BIGINT) AS pmi_micro
              FROM pc
              JOIN uc na ON na.token = pc.token_a
              JOIN uc nb ON nb.token = pc.token_b
              CROSS JOIN tot CROSS JOIN ptot)
            SELECT token_a, token_b, pair_count, pmi_micro
            FROM sc ORDER BY pmi_micro DESC, token_a, token_b LIMIT 50
        """,
        "fuzzy_dedup": r"""
            WITH base AS (
              SELECT doc_id, substr(text, 1, 24) AS title
              FROM documents WHERE text IS NOT NULL),
            var1 AS (
              SELECT doc_id + 100000 AS vid,
                     concat(substr(title, 1, doc_id % 10 + 1), 'z',
                            substr(title, doc_id % 10 + 3)) AS title,
                     doc_id AS src
              FROM base WHERE doc_id % 7 = 0),
            var AS (
              SELECT vid AS doc_id,
                     CASE WHEN src % 14 = 0
                          THEN substr(title, 1, length(title) - 1)
                          ELSE title END AS title
              FROM var1),
            keys AS (
              SELECT doc_id AS fid, title AS fkey,
                     CAST(length(title) AS INT) AS flen
              FROM (SELECT * FROM base UNION ALL SELECT * FROM var)
              WHERE title IS NOT NULL),
            gpos AS (
              SELECT fid, flen, fkey,
                     unnest(generate_series(1, flen - 2)) AS pos
              FROM keys WHERE flen >= 3),
            posting1 AS (
              SELECT fid, flen, pos, substr(fkey, pos, 3) AS gram,
                     ROW_NUMBER() OVER (
                       PARTITION BY fid, substr(fkey, pos, 3)
                       ORDER BY pos) AS occ
              FROM gpos),
            dfc AS (SELECT gram, occ, COUNT(*) AS c
                    FROM posting1 GROUP BY gram, occ),
            posting AS (
              SELECT p.fid, p.flen, p.gram, p.occ, p.pos
              FROM posting1 p JOIN dfc USING (gram, occ)
              WHERE dfc.c <= 1000),
            -- abs(pos diff) <= k is the Gravano positional filter; the
            -- Spark side's bucket join key is implied by it (width k+1)
            longc AS (
              SELECT a.fid AS id_a, b.fid AS id_b
              FROM posting a JOIN posting b USING (gram, occ)
              WHERE a.fid < b.fid AND abs(a.flen - b.flen) <= 2
                AND abs(a.pos - b.pos) <= 2
                AND greatest(a.flen, b.flen) > 8
              GROUP BY a.fid, b.fid, a.flen, b.flen
              HAVING COUNT(*) >= greatest(a.flen, b.flen) - 8),
            shortc AS (
              SELECT a.fid AS id_a, b.fid AS id_b
              FROM (SELECT fid, flen FROM keys WHERE flen <= 8) a
              JOIN (SELECT fid,
                           unnest(generate_series(flen - 2, flen + 2)) AS lb
                    FROM keys WHERE flen <= 8) b
                ON a.flen = b.lb AND a.fid < b.fid),
            cand AS (SELECT DISTINCT id_a, id_b FROM
              (SELECT * FROM longc UNION ALL SELECT * FROM shortc)),
            ver AS (
              SELECT id_a, id_b,
                     CAST(levenshtein(ka.fkey, kb.fkey) AS INT)
                       AS edit_distance
              FROM cand
              JOIN keys ka ON ka.fid = id_a
              JOIN keys kb ON kb.fid = id_b)
            SELECT id_a, id_b, edit_distance
            FROM ver WHERE edit_distance <= 2
        """,
        "graph_cycles": f"""
            WITH RECURSIVE e AS (
              SELECT DISTINCT src_service AS src, dst_service AS dst
              FROM {_ENRICHED_REL}
              WHERE src_service <> '' AND dst_service <> ''),
            reach(src, dst) AS (
              SELECT src, dst FROM e
              UNION
              SELECT r.src, n.dst FROM reach r JOIN e n ON r.dst = n.src),
            nodes AS (SELECT DISTINCT node FROM (
              SELECT src AS node FROM e UNION ALL SELECT dst FROM e))
            SELECT node,
                   EXISTS (SELECT 1 FROM reach WHERE src = node AND dst = node)
                     AS on_cycle
            FROM nodes
        """,
        "minhash_lsh": """
            SELECT doc_id AS id_a, doc_id + 100000 AS id_b, 1.0 AS est_jaccard
            FROM documents WHERE doc_id % 5 = 0
        """,
        "simhash": """
            SELECT doc_id AS id_a, doc_id + 100000 AS id_b, 0 AS hamming
            FROM documents WHERE doc_id % 5 = 1
        """,
        "simhash_pairs": f"""
            WITH u AS (
              SELECT doc_id,
                     ((CAST(simhash AS HUGEINT) % 18446744073709551616)
                      + 18446744073709551616) % 18446744073709551616 AS us
              FROM read_parquet('{SIMHASH_PATH}/*.parquet')),
            c AS (
              SELECT doc_id,
                     CAST(us % 65536 AS BIGINT) AS c0,
                     CAST((us // 65536) % 65536 AS BIGINT) AS c1,
                     CAST((us // 4294967296) % 65536 AS BIGINT) AS c2,
                     CAST((us // 281474976710656) % 65536 AS BIGINT) AS c3
              FROM u),
            banded AS (
              SELECT doc_id, band,
                     CASE band WHEN 0 THEN c0 WHEN 1 THEN c1
                          WHEN 2 THEN c2 ELSE c3 END AS chunk,
                     c0, c1, c2, c3
              FROM c CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bs),
            cands AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.c0 AS a0, a.c1 AS a1, a.c2 AS a2, a.c3 AS a3,
                     b.c0 AS b0, b.c1 AS b1, b.c2 AS b2, b.c3 AS b3
              FROM banded a JOIN banded b USING (band, chunk)
              WHERE a.doc_id < b.doc_id)
            SELECT id_a, id_b,
                   CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
                        + bit_count(xor(a2, b2)) + bit_count(xor(a3, b3))
                     AS INT) AS hamming
            FROM cands
            WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
                  + bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) <= 3
        """,
        "fingerprint": """
            SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM documents
        """,
        # winnowing re-derived relationally (see _substr_sel_cte): a
        # position is selected iff its hash equals the min of at least
        # one covering FULL window of 4 consecutive gram hashes (docs
        # with fewer than 4 grams select every position); then the
        # document-frequency cutoff, span join, island merge, and
        # token-removal reconstruction run over the selected set.
        "substr_spans": f"""
            WITH {_substr_sel_cte(SUBSTR_GRAMS_PATH)}
            SELECT s.doc_id, s.pos, s.h AS gram_hash, n_docs
            FROM sel s JOIN dfreq USING (h)
        """,
        "substr_pairs": f"""
            WITH {_substr_sel_cte(SUBSTR_GRAMS_PATH_P)},
            posting AS (
              SELECT DISTINCT h, doc_id FROM sel JOIN dfreq USING (h))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   COUNT(*) AS shared_fingerprints
            FROM posting a JOIN posting b USING (h)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING COUNT(*) >= 2
        """,
        "substr_merge": f"""
            WITH {_substr_sel_cte(SUBSTR_GRAMS_PATH_M)},
            {_SUBSTR_ISLANDS_CTE}
            SELECT doc_id, MIN(pos) AS span_start,
                   CAST(MAX(pos) + 7 AS INT) AS span_end,
                   COUNT(*) AS n_fingerprints
            FROM isl GROUP BY doc_id, island
        """,
        "substr_remove": f"""
            WITH {_substr_sel_cte(SUBSTR_GRAMS_PATH_R)},
            {_SUBSTR_ISLANDS_CTE},
            sp AS (
              SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end
              FROM isl GROUP BY doc_id, island),
            toks AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                          ELSE list_filter(regexp_split_to_array(text, '\\s+'), tk -> tk <> '')
                     END AS tk
              FROM documents),
            tokpos AS (
              SELECT doc_id, unnest(tk) AS tok,
                     unnest(range(1, len(tk) + 1)) AS p
              FROM toks),
            keep AS (
              SELECT t.doc_id, t.tok, t.p
              FROM tokpos t
              WHERE NOT EXISTS (
                SELECT 1 FROM sp s
                WHERE s.doc_id = t.doc_id
                  AND t.p BETWEEN s.span_start AND s.span_end)),
            kagg AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS kept_text,
                     COUNT(*) AS kept_n
              FROM keep GROUP BY doc_id)
            SELECT t.doc_id,
                   COALESCE(k.kept_text, '') AS text_deduped,
                   CAST(len(t.tk) - COALESCE(k.kept_n, 0) AS INT)
                     AS n_tokens_removed
            FROM toks t LEFT JOIN kagg k USING (doc_id)
        """,
        "substr_contamination": f"""
            WITH {_substr_sel_cte(SUBSTR_GRAMS_PATH_C)},
            idx AS (
              SELECT DISTINCT h FROM sel WHERE doc_id % 5 = 0),
            perdoc AS (
              SELECT s.doc_id, COUNT(*) AS n_fp,
                     CAST(SUM(CASE WHEN i.h IS NOT NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_seen
              FROM sel s LEFT JOIN idx i USING (h)
              GROUP BY s.doc_id)
            SELECT d.doc_id,
                   COALESCE(p.n_fp, 0) AS n_fingerprints,
                   COALESCE(p.n_seen, 0) AS n_seen,
                   CASE WHEN COALESCE(p.n_fp, 0) > 0
                        THEN ROUND(p.n_seen / p.n_fp + 1e-9, 4)
                        ELSE 0.0 END AS contamination
            FROM documents d LEFT JOIN perdoc p USING (doc_id)
        """,
        "substr_stop_grams": f"""
            WITH {_substr_sel_cte(SUBSTR_GRAMS_PATH_S)}
            SELECT h AS gram_hash, COUNT(DISTINCT doc_id) AS n_docs
            FROM sel GROUP BY h
            HAVING COUNT(DISTINCT doc_id) > 2
        """,
        "curate_substr": f"""
            WITH {_substr_sel_cte(SUBSTR_GRAMS_PATH_X)},
            {_SUBSTR_ISLANDS_CTE},
            sp AS (
              SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end
              FROM isl GROUP BY doc_id, island),
            rtoks AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                          ELSE list_filter(regexp_split_to_array(text, '\\s+'), tk -> tk <> '')
                     END AS tk
              FROM documents),
            tokpos AS (
              SELECT doc_id, unnest(tk) AS tok,
                     unnest(range(1, len(tk) + 1)) AS p
              FROM rtoks),
            keep AS (
              SELECT t.doc_id, t.tok, t.p
              FROM tokpos t
              WHERE NOT EXISTS (
                SELECT 1 FROM sp s
                WHERE s.doc_id = t.doc_id
                  AND t.p BETWEEN s.span_start AND s.span_end)),
            kagg AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS kept_text
              FROM keep GROUP BY doc_id),
            cut AS (
              SELECT t.doc_id, COALESCE(k.kept_text, '') AS text
              FROM rtoks t LEFT JOIN kagg k USING (doc_id)),
            feat AS (
              SELECT doc_id, text, length(text) AS n_chars,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(list_filter(regexp_split_to_array(text, '\\s+'), tk -> tk <> ''))
                     END AS n_tok,
                     len(list_filter(
                         list_filter(regexp_split_to_array(lower(text), '\\s+'), tk -> tk <> ''),
                         t -> list_contains(
                           ['the','a','of','and','to','in','is','it','that',
                            'for'], t))) AS h_en,
                     len(regexp_extract_all(text, '[.!?,;:]')) AS punct
              FROM cut),
            q AS (
              SELECT doc_id, text,
                     round(((CASE WHEN n_chars BETWEEN 50 AND 20000
                                  THEN 1.0 ELSE 0.0 END)
                          + (CASE WHEN (CASE WHEN n_chars > 0
                                        THEN punct / n_chars ELSE 0.0 END)
                                       <= 0.2 THEN 1.0 ELSE 0.0 END)
                          + (CASE WHEN (CASE WHEN n_tok > 0
                                        THEN h_en / n_tok ELSE 0.0 END)
                                       >= 0.01 THEN 1.0 ELSE 0.0 END))
                           / 3.0, 4) AS quality
              FROM feat)
            SELECT MIN(doc_id) AS doc_id, MIN(quality) AS quality,
                   COUNT(*) AS exact_dup_count
            FROM q WHERE quality >= 0.4 GROUP BY text
        """,
        "bm25_topk": r"""
            WITH toks AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE list_filter(regexp_split_to_array(lower(text), '\s+'), tk -> tk <> '')
                END AS tk
              FROM documents),
            dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toks),
            tp AS (SELECT doc_id, unnest(tk) AS token FROM toks),
            tf AS (SELECT doc_id, token, COUNT(*) AS tf
                   FROM tp GROUP BY doc_id, token),
            dfq AS (SELECT token, COUNT(*) AS dfc FROM tf GROUP BY token),
            st AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
                          CAST(SUM(len(tk)) AS DOUBLE) / COUNT(*) AS avgdl
                   FROM toks),
            q AS (SELECT doc_id AS query_id,
                         array_to_string(tk[1:5], ' ') AS qtext
                  FROM toks WHERE doc_id % 37 = 3),
            qt AS (SELECT DISTINCT query_id, unnest(
                     CASE WHEN trim(qtext) = '' THEN CAST([] AS VARCHAR[])
                          ELSE list_filter(regexp_split_to_array(qtext, '\s+'), tk -> tk <> '')
                     END) AS token
                   FROM q),
            cand AS (
              SELECT qt.query_id, tf.doc_id, tf.tf, dfq.dfc, dl.dl,
                     st.nd, st.avgdl
              FROM qt JOIN dfq USING (token)
                      JOIN tf USING (token)
                      JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN st
              WHERE dfq.dfc <= 0.9 * st.nd),
            contrib AS (
              SELECT query_id, doc_id,
                CAST(floor(ln(1.0 + (nd - dfc + 0.5) / (dfc + 0.5))
                     -- 2.2 must be DOUBLE: DuckDB would otherwise compute
                     -- bigint*DECIMAL exactly (6.6) where Spark multiplies
                     -- doubles (6.6000000000000005) — a 1-ulp numerator
                     -- divergence feeding the micro floor
                     * ((tf * 2.2::DOUBLE)
                        / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
                     * 1000000.0 + 0.5) AS BIGINT) AS m
              FROM cand),
            scored AS (
              SELECT query_id, doc_id,
                     CAST(SUM(m) AS BIGINT) AS sm,
                     COUNT(*) AS matched_terms
              FROM contrib GROUP BY query_id, doc_id),
            ranked AS (
              SELECT *, CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY sm DESC, doc_id ASC) AS BIGINT) AS rank
              FROM scored)
            SELECT query_id, doc_id, rank,
                   sm / 1000000.0 AS score, matched_terms
            FROM ranked WHERE rank <= 5
        """,
        "tfidf_topk": r"""
            WITH toks AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE list_filter(regexp_split_to_array(lower(text), '\s+'), tk -> tk <> '')
                END AS tk
              FROM documents),
            tp AS (SELECT doc_id, unnest(tk) AS token FROM toks),
            tf AS (
              SELECT doc_id, token, COUNT(*) AS tf
              FROM tp GROUP BY doc_id, token),
            dfq AS (SELECT token, COUNT(*) AS dfc FROM tf GROUP BY token),
            nn AS (SELECT COUNT(*) AS nd FROM documents),
            scored AS (
              SELECT doc_id, token, tf,
                     ROUND(tf * (ln((nd + 1.0) / (dfc + 1.0)) + 1) + 1e-9, 4)
                       AS score
              FROM tf JOIN dfq USING (token) CROSS JOIN nn),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                          ORDER BY score DESC, token ASC) AS rk
              FROM scored)
            SELECT doc_id, token, tf, score FROM ranked WHERE rk <= 3
        """,
        "dup_components": """
            SELECT doc_id, doc_id AS component FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS doc_id, doc_id AS component FROM documents
        """,
        "cluster_reps": r"""
            -- planted components are ground truth (min member id = i);
            -- the argmax/keep logic is re-derived with a plain window
            WITH u AS (
              SELECT doc_id, text, doc_id AS component FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     CASE WHEN doc_id % 2 = 0
                          THEN text || ' extra extra extra' ELSE text END,
                     doc_id
              FROM documents
              UNION ALL
              SELECT doc_id + 200000,
                     text || ' six more tokens appended right here', doc_id
              FROM documents WHERE doc_id % 5 = 0),
            s AS (
              SELECT doc_id, component,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(list_filter(regexp_split_to_array(text, '\s+'), tk -> tk <> ''))
                          END AS BIGINT) AS score
              FROM u),
            r AS (
              SELECT *, row_number() OVER (PARTITION BY component
                                           ORDER BY score DESC, doc_id ASC)
                        AS rn
              FROM s)
            SELECT doc_id, component, score,
                   CASE WHEN rn = 1 THEN 1 ELSE 0 END AS keep
            FROM r
        """,
        "curate": r"""
            WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id + 100000, text FROM documents),
            feat AS (
              SELECT doc_id, text, length(text) AS n_chars,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(list_filter(regexp_split_to_array(text, '\s+'), tk -> tk <> '')) END AS n_tok,
                     len(list_filter(list_filter(regexp_split_to_array(lower(text), '\s+'), tk -> tk <> ''),
                         t -> list_contains(
                           ['the','a','of','and','to','in','is','it','that','for'], t)))
                       AS h_en,
                     len(regexp_extract_all(text, '[.!?,;:]')) AS punct
              FROM all_docs),
            q AS (
              SELECT doc_id, text,
                     round(((CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END)
                          + (CASE WHEN (CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END) <= 0.2
                                  THEN 1.0 ELSE 0.0 END)
                          + (CASE WHEN (CASE WHEN n_tok > 0 THEN h_en / n_tok ELSE 0.0 END) >= 0.01
                                  THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality
              FROM feat)
            SELECT MIN(doc_id) AS doc_id, MIN(quality) AS quality,
                   COUNT(*) AS exact_dup_count
            FROM q WHERE quality >= 0.4 GROUP BY text
        """,
        "embedding_near_dup": """
            WITH s AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings),
            n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM s),
            p AS (
              -- zero-norm guard mirrors dedup.embedding_near_dup_pairs
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     (floor((CASE WHEN a.nrm * b.nrm > 0
                                THEN list_sum(list_transform(range(1, len(a.v) + 1),
                                              i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm)
                                ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0)
                       AS cosine
              FROM n a JOIN n b ON a.vec_id < b.vec_id)
            SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.95
        """,
        "media_features": f"""
            WITH m AS (
              SELECT media_id, kind, payload
              FROM read_parquet('{MEDIA_PATH}/*.parquet')),
            h AS (
              SELECT media_id, kind, CAST(octet_length(payload) AS BIGINT) AS n_bytes,
                     CAST('0x' || substr(hex(payload), 1, 16) AS UBIGINT) AS ph
              FROM m),
            d AS (SELECT h.*, CAST(dims.i AS INT) AS dim
                  FROM h CROSS JOIN (SELECT unnest(range(0, 16)) AS i) dims)
            -- (ph * C) mod 2^64 without int128 overflow: split ph into
            -- 32-bit halves; a*b = ((hi*b mod 2^32) << 32 + lo*b) mod 2^64
            SELECT media_id, kind, dim,
                   CAST((xor(
                       CAST((((CAST(ph AS HUGEINT) // 4294967296 * 11400714819323198485)
                               % 4294967296) * 4294967296
                              + (CAST(ph AS HUGEINT) % 4294967296) * 11400714819323198485)
                            % 18446744073709551616 AS UBIGINT),
                       CAST((CAST(dim + 1 AS HUGEINT) * 13787848793156543929)
                            % 18446744073709551616 AS UBIGINT)
                     ) >> 11) % 1000 AS DOUBLE) / 1000.0 AS feature,
                   n_bytes
            FROM d
        """,
        "media_decode": _media_decode_oracle_sql(),
        "pq_topk": _pq_oracle_sql(),
        "ivf_pq_topk": _ivf_pq_oracle_sql(),
        "ivf_pq_knn": _ivf_pq_knn_oracle_sql(),
        "knn_join": f"""
            WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            cells AS (SELECT vec_id, v, {_ivf_cell_sql('v')} AS cell FROM s),
            q AS (SELECT vec_id AS query_id, v AS qv, cell AS qc FROM cells WHERE vec_id < 5),
            probes AS (
              SELECT query_id, qv,
                     unnest([qc, xor(qc, 1), xor(qc, 2), xor(qc, 4)]) AS cell
              FROM q),
            sc AS (
              SELECT p.query_id, c.vec_id,
                     (floor((list_sum(list_transform(range(1, {IVF_DIM} + 1),
                                                   i -> c.v[i] * p.qv[i]))
                           / (sqrt(list_sum(list_transform(c.v, x -> x * x)))
                              * sqrt(list_sum(list_transform(p.qv, x -> x * x)))))
                            * 1000000.0 + 0.5) / 1000000.0)
                       AS cosine
              FROM probes p JOIN cells c USING (cell))
            SELECT query_id, vec_id, cosine FROM sc
            QUALIFY row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) <= 5
        """,
        "hard_negatives": f"""
            WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            cells AS (SELECT vec_id, v, {_ivf_cell_sql('v')} AS cell FROM s),
            q AS (SELECT vec_id AS query_id, v AS qv, cell AS qc FROM cells WHERE vec_id < 5),
            pos AS (
              SELECT vec_id % 97 AS query_id, vec_id
              FROM embeddings WHERE vec_id % 97 < 5),
            pmax AS (
              SELECT max(c) AS m
              FROM (SELECT COUNT(*) AS c FROM pos GROUP BY query_id)),
            probes AS (
              SELECT query_id, qv,
                     unnest([qc, xor(qc, 1), xor(qc, 2), xor(qc, 4)]) AS cell
              FROM q),
            sc AS (
              SELECT p.query_id, c.vec_id,
                     (floor((list_sum(list_transform(range(1, {IVF_DIM} + 1),
                                                   i -> c.v[i] * p.qv[i]))
                           / (sqrt(list_sum(list_transform(c.v, x -> x * x)))
                              * sqrt(list_sum(list_transform(p.qv, x -> x * x)))))
                            * 1000000.0 + 0.5) / 1000000.0)
                       AS cosine
              FROM probes p JOIN cells c USING (cell)),
            cand AS (
              SELECT query_id, vec_id, cosine FROM sc
              QUALIFY row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id)
                      <= 5 + (SELECT m FROM pmax) + 1),
            neg AS (
              SELECT c.query_id, c.vec_id, c.cosine
              FROM cand c
              WHERE c.vec_id <> c.query_id
                AND NOT EXISTS (SELECT 1 FROM pos p
                                WHERE p.query_id = c.query_id
                                  AND p.vec_id = c.vec_id)),
            final AS (
              SELECT query_id, vec_id, cosine,
                     CAST(row_number() OVER (PARTITION BY query_id
                                             ORDER BY cosine DESC, vec_id)
                          AS INTEGER) AS neg_rank
              FROM neg)
            SELECT * FROM final WHERE neg_rank <= 5
        """,
        "ann_ivf_trained": f"""
            WITH cent AS (
              SELECT cell, centroid
              FROM read_parquet('{IVF_TRAINED_PATH}_centroids/*.parquet')),
            s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            d AS (
              SELECT s.vec_id, s.v, cent.cell,
                     {_sql_sq_l2_micros("s.v[i]", "cent.centroid[i]", IVF_DIM)}
                       AS dist
              FROM s CROSS JOIN cent),
            a AS (
              SELECT vec_id, v, cell FROM d
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1),
            q AS (SELECT v AS qv FROM s WHERE vec_id = 0),
            qd AS (
              SELECT cent.cell,
                     {_sql_sq_l2_micros("q.qv[i]", "cent.centroid[i]", IVF_DIM)}
                       AS dist
              FROM cent CROSS JOIN q),
            probes AS (SELECT cell FROM qd ORDER BY dist, cell LIMIT {IVF_TRAINED_PROBE}),
            cand AS (SELECT a.vec_id, a.v FROM a JOIN probes USING (cell)),
            sc AS (
              SELECT vec_id,
                     list_sum(list_transform(range(1, {IVF_DIM} + 1),
                                             i -> cand.v[i] * q.qv[i])) AS dot,
                     sqrt(list_sum(list_transform(cand.v, x -> x * x))) AS nv,
                     sqrt(list_sum(list_transform(q.qv, x -> x * x))) AS nq
              FROM cand CROSS JOIN q)
            SELECT vec_id,
                   (floor((CASE WHEN nv * nq > 0 THEN dot / (nv * nq) ELSE 0.0 END)
                            * 1000000.0 + 0.5) / 1000000.0)
                     AS cosine
            FROM sc ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "quantized_topk": """
            WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q0 AS (SELECT v AS qv FROM s WHERE vec_id = 0),
            qp AS (SELECT qv,
                          greatest(list_max(list_transform(qv, x -> abs(x))), 1e-30) / 127.0 AS qs
                   FROM q0),
            qqv AS (SELECT qv, qs,
                           list_transform(qv, x -> CAST(floor(x / qs + 0.5) AS BIGINT)) AS qq
                    FROM qp),
            d AS (SELECT vec_id, v,
                         greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0 AS qscale
                  FROM s),
            dq AS (SELECT vec_id, v, qscale,
                          list_transform(v, x -> CAST(floor(x / qscale + 0.5) AS BIGINT)) AS qd
                   FROM d),
            sc AS (SELECT vec_id, v, qv,
                          qscale * qs * CAST(list_sum(list_transform(
                              range(1, len(v) + 1), i -> qd[i] * qq[i])) AS DOUBLE) AS qscore
                   FROM dq CROSS JOIN qqv),
            cand AS (SELECT * FROM sc ORDER BY qscore DESC, vec_id LIMIT 40),
            fin AS (SELECT vec_id, qscore,
                           list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])) AS dot,
                           sqrt(list_sum(list_transform(v, x -> x * x))) AS nv,
                           sqrt(list_sum(list_transform(qv, x -> x * x))) AS nq
                    FROM cand)
            SELECT vec_id, (floor((qscore + 1e-9) * 1000000.0 + 0.5) / 1000000.0) AS qscore_r,
                   (floor((CASE WHEN nv * nq > 0 THEN dot / (nv * nq) ELSE 0.0 END)
                            * 10000.0 + 0.5) / 10000.0)
                     AS cosine_r
            FROM fin ORDER BY cosine_r DESC, vec_id LIMIT 10
        """,
        "ann_ivf": f"""
            WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            cells AS (SELECT vec_id, v, {_ivf_cell_sql('v')} AS cell FROM s),
            qc AS (SELECT cell AS qcell, v AS qv FROM cells WHERE vec_id = 0),
            pruned AS (
              SELECT c.vec_id, c.v, qc.qv FROM cells c, qc
              WHERE c.cell IN (qc.qcell, xor(qc.qcell, 1), xor(qc.qcell, 2), xor(qc.qcell, 4))),
            sc AS (
              SELECT vec_id,
                     list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])) AS dot,
                     sqrt(list_sum(list_transform(v, x -> x * x))) AS nv,
                     sqrt(list_sum(list_transform(qv, x -> x * x))) AS nq
              FROM pruned)
            SELECT vec_id,
                   (floor((CASE WHEN nv * nq > 0 THEN dot / (nv * nq) ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0) AS cosine
            FROM sc ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "edge_agg": f"""
            WITH fed AS ({_FED_SQL}), base AS ({_BASE_SQL}),
            lastn AS (
              SELECT * FROM (
                SELECT src, dst, op, latency_us,
                       row_number() OVER (PARTITION BY src, dst, op
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM fed) t
              WHERE rn <= 100),
            p99 AS (
              SELECT src, dst, op,
                     list_sort(list(latency_us))[CAST(floor((COUNT(*) - 1) * 0.99) AS INT) + 1]
                       AS latency_p99_us
              FROM lastn GROUP BY src, dst, op)
            SELECT base.src, base.dst, base.op, call_count, error_count,
                   latency_sum_us, latency_p99_us, first_seen, last_seen
            FROM base JOIN p99 USING (src, dst, op)
        """,
        "edge_metrics": f"""
            WITH fed AS ({_FED_SQL}), base AS ({_BASE_SQL})
            SELECT src, dst, op, call_count,
                   error_count / call_count AS error_rate,
                   CAST(latency_sum_us // call_count AS BIGINT) AS avg_latency_us
            FROM base
        """,
        "service_rollup": _ROLLUP_SQL,
        "upstream_downstream": f"""
            WITH fed AS ({_FED_SQL}), base AS ({_BASE_SQL})
            SELECT src, dst, op, call_count, 'upstream' AS direction
            FROM base WHERE dst = 'svc-3'
            UNION ALL
            SELECT src, dst, op, call_count, 'downstream' FROM base WHERE src = 'svc-3'
        """,
        "last_n_events": f"""
            WITH fed AS ({_FED_SQL})
            SELECT src AS src_service, event_id FROM fed
            QUALIFY row_number() OVER (PARTITION BY src ORDER BY ts DESC, event_id DESC) <= 5
        """,
        "service_sort_filter": f"""
            SELECT * FROM ({_ROLLUP_SQL}) WHERE lower(service) LIKE '%1%'
        """,
        "first_seen": f"""
            WITH fed AS ({_FED_SQL})
            SELECT src, dst, op, MIN(ts) AS first_seen FROM fed GROUP BY src, dst, op
        """,
        "p99_exact": f"""
            WITH fed AS ({_FED_SQL})
            SELECT src,
                   list_sort(list(latency_us))[CAST(floor((COUNT(*) - 1) * 0.99) AS INT) + 1]
                     AS p99_us
            FROM fed GROUP BY src
        """,
        "topk_edges": f"""
            WITH fed AS ({_FED_SQL}), base AS ({_BASE_SQL})
            SELECT src, dst, op, call_count FROM base
            ORDER BY call_count DESC, src, dst, op LIMIT 10
        """,
        "edge_sessions": f"""
            WITH fed AS ({_FED_SQL}),
            s AS (
              SELECT src, dst, op, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR ts - lag(ts) OVER w >= INTERVAL '1 day'
                          THEN 1 ELSE 0 END AS is_start
              FROM fed
              WINDOW w AS (PARTITION BY src, dst, op ORDER BY ts)),
            g AS (
              SELECT *, SUM(is_start) OVER (PARTITION BY src, dst, op ORDER BY ts
                                            ROWS UNBOUNDED PRECEDING) AS sess
              FROM s)
            SELECT src, dst, op, COUNT(*) AS call_count,
                   MIN(ts) AS first_seen, MAX(ts) AS last_seen
            FROM g GROUP BY src, dst, op, sess
        """,
        "latency_percentiles": f"""
            WITH fed AS ({_FED_SQL})
            SELECT src,
                   round(quantile_cont(latency_us, 0.5) + 1e-9, 3) AS p50,
                   round(quantile_cont(latency_us, 0.95) + 1e-9, 3) AS p95,
                   round(quantile_cont(latency_us, 0.99) + 1e-9, 3) AS p99
            FROM fed GROUP BY src
        """,
        "event_predicates": f"""
            WITH fed AS ({_FED_SQL})
            SELECT event_id,
                   CASE WHEN event_id % 2 = 0 THEN 'tr-' || CAST(event_id AS VARCHAR)
                        ELSE src || '->' || dst || ':' || op END AS corr_key,
                   (latency_us > 0 OR status_code >= 100) AS is_metric,
                   (event_id % 2 = 0 OR (src <> '' AND dst <> '')) AS has_corr
            FROM fed
        """,
        "truncate": """
            SELECT doc_id,
                   CASE WHEN length(text) > 120
                        THEN substring(text, 1, 120) || '…' ELSE text END AS short
            FROM documents
        """,
        "zscore_blocked": """
            WITH v AS (
              SELECT event_id, user_id,
                     CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100
              FROM events)
            SELECT event_id, user_id,
                   COUNT(v100) OVER w AS n_samples,
                   CAST(SUM(v100) OVER w AS BIGINT)
                     / COUNT(v100) OVER w AS mean
            FROM v
            WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
        """,
        "zscore_flags": """
            SELECT event_id, user_id,
                   round(mean + 1e-9, 4) AS mean_r, round(stddev + 1e-9, 4) AS stddev_r,
                   round(CASE WHEN stddev = 0 THEN 0.0 ELSE (value - mean) / stddev END + 1e-9, 4) AS zscore_r,
                   n_samples,
                   (n_samples >= 50 AND
                    abs(CASE WHEN stddev = 0 THEN 0.0 ELSE (value - mean) / stddev END) > 3.0)
                     AS is_anomaly
            FROM (
              SELECT event_id, user_id, value,
                     AVG(value) OVER w AS mean,
                     COALESCE(stddev_pop(value) OVER w, 0.0) AS stddev,
                     COUNT(value) OVER w AS n_samples
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 99 PRECEDING AND CURRENT ROW))
        """,
        "error_rate_feed": f"""
            WITH fed AS ({_FED_SQL})
            SELECT src AS src_service, dst AS dst_service, op AS operation,
                   event_id, ts, 'latency' AS metric, latency_us / 1000.0 AS value
            FROM fed
            UNION ALL
            SELECT src, dst, op, event_id, ts, 'error_rate',
                   CAST(SUM(CASE WHEN status_code >= 500 THEN 1 ELSE 0 END) OVER w AS BIGINT)
                     / COUNT(*) OVER w
            FROM fed
            WINDOW w AS (PARTITION BY src, dst, op ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING)
        """,
        "time_buckets": """
            SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start,
                   event_type, COUNT(*) AS calls
            FROM events GROUP BY 1, 2
        """,
        "json_extract": """
            SELECT event_id,
                   json_extract_string(props, '$.k') AS k_str,
                   CAST(json_extract_string(props, '$.k') AS INT) AS k_int
            FROM events
        """,
        "parse_json": """
            SELECT event_id, 'json' AS format,
                   date_trunc('milliseconds', ts) AS event_ts,
                   'svc-' || CAST(user_id % 8 AS VARCHAR) AS src_service,
                   'dst-' || CAST(user_id % 5 AS VARCHAR) AS dst_service,
                   CASE WHEN event_id % 2 = 0 THEN 'do_' || event_type
                        ELSE 'GET /' || event_type END AS operation,
                   CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS status_code,
                   CASE WHEN event_id % 3 = 2 THEN CAST(floor(value * 100) AS BIGINT)
                        ELSE CAST(floor(value * 100) AS BIGINT) * 1000 END AS latency_us,
                   CASE WHEN event_type = 'error' THEN 'error' ELSE 'info' END AS level,
                   'tr-' || CAST(event_id AS VARCHAR) AS trace_id
            FROM events
        """,
        "parse_ecs": """
            SELECT event_id, 'ecs_json' AS format,
                   date_trunc('milliseconds', ts) AS event_ts,
                   'svc-' || CAST(user_id % 8 AS VARCHAR) AS src_service,
                   'dst-' || CAST(user_id % 5 AS VARCHAR) AS dst_service,
                   CASE WHEN event_id % 2 = 0 THEN 'GET /p/' || CAST(event_id AS VARCHAR)
                        ELSE 'GET' END AS operation,
                   CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS status_code,
                   CAST(floor(value * 100) AS BIGINT) * 1000 AS latency_us,
                   CASE WHEN event_type = 'error' THEN 'error' ELSE 'info' END AS level,
                   'tr-' || CAST(event_id AS VARCHAR) AS trace_id,
                   '' AS span_id
            FROM events
        """,
        "parse_formats": f"""
            SELECT event_id,
                   CASE event_id % 4 WHEN 0 THEN 'json' WHEN 1 THEN 'metric_json'
                        WHEN 2 THEN 'plain' ELSE 'empty' END AS format,
                   CASE WHEN event_id % 4 = 1 THEN 'req_ms' ELSE '' END AS operation,
                   CASE WHEN event_id % 4 IN (0, 1)
                        THEN 'svc-' || CAST(user_id % 8 AS VARCHAR) ELSE '' END AS src_service,
                   CASE WHEN event_id % 4 = 1 THEN date_trunc('second', ts)
                        ELSE TIMESTAMP '{ingest}' END AS event_ts,
                   (event_id % 4 IN (0, 1)) AS parse_ok
            FROM events
        """,
        "template_nginx": """
            SELECT event_id, true AS template_matched,
                   'GET /p/' || CAST(event_id AS VARCHAR) || ' HTTP/1.1' AS operation,
                   CASE WHEN event_type = 'error' THEN 500
                        WHEN event_type = 'click' THEN 404 ELSE 200 END AS status_code,
                   CAST(floor(value) AS BIGINT) * 1000000 AS latency_us,
                   CASE WHEN event_type = 'error' THEN 'error'
                        WHEN event_type = 'click' THEN 'warn' ELSE 'info' END AS level,
                   date_trunc('second', ts) AS event_ts
            FROM events
        """,
        "parse_extended": """
            SELECT event_id,
                   CASE event_id % 6 WHEN 0 THEN 'syslog_5424' WHEN 1 THEN 'syslog_3164'
                        WHEN 2 THEN 'python_logging' WHEN 3 THEN 'logfmt'
                        WHEN 4 THEN 'plain_json' ELSE 'docker_json' END AS format,
                   CASE event_id % 6 WHEN 0 THEN 'info' WHEN 1 THEN 'error'
                        WHEN 2 THEN 'error' WHEN 3 THEN 'warn'
                        WHEN 4 THEN 'warn' ELSE '' END AS level,
                   CASE event_id % 6
                        WHEN 2 THEN 'worker.svc-' || CAST(user_id % 8 AS VARCHAR)
                        WHEN 5 THEN ''
                        ELSE 'svc-' || CAST(user_id % 8 AS VARCHAR) END AS src_service,
                   CASE WHEN event_id % 6 = 3 THEN 404 ELSE 0 END AS status_code,
                   CASE WHEN event_id % 6 IN (3, 4)
                        THEN CAST(floor(value * 100) AS BIGINT) * 1000
                        ELSE 0 END AS latency_us,
                   CASE event_id % 6
                        WHEN 0 THEN date_trunc('milliseconds', ts)
                        WHEN 1 THEN date_trunc('second', ts)
                        WHEN 2 THEN date_trunc('milliseconds', ts)
                        WHEN 3 THEN date_trunc('second', ts)
                        ELSE date_trunc('milliseconds', ts) END AS event_ts
            FROM events
        """,
        "parse_nested": f"""
            SELECT event_id,
                   CASE WHEN event_id % 6 IN (0, 1) THEN date_trunc('milliseconds', ts)
                        ELSE TIMESTAMP '{ingest}' END AS event_ts,
                   CASE event_id % 6 WHEN 0 THEN 'info' WHEN 1 THEN 'warn'
                        WHEN 4 THEN 'error' ELSE '' END AS level,
                   CASE WHEN event_id % 6 IN (0, 3)
                        THEN 'svc-' || CAST(user_id % 8 AS VARCHAR)
                        ELSE '' END AS service,
                   CASE event_id % 6 WHEN 0 THEN 'hello'
                        WHEN 2 THEN 'evt ' || CAST(event_id AS VARCHAR)
                        WHEN 5 THEN 'plain ' || CAST(event_id AS VARCHAR)
                        ELSE '' END AS message,
                   CAST(CASE event_id % 6 WHEN 0 THEN 3 WHEN 1 THEN 2
                        WHEN 5 THEN 0 ELSE 1 END AS INT) AS n_attrs,
                   CASE WHEN event_id % 6 = 0 THEN CAST(user_id AS VARCHAR)
                        ELSE '' END AS a_user,
                   CASE WHEN event_id % 6 = 0 THEN 'gold' ELSE '' END AS a_tier,
                   CASE WHEN event_id % 6 = 3
                        THEN '{{"f":"' || CAST(event_id AS VARCHAR) || '"}}'
                        ELSE '' END AS a_deep,
                   CASE WHEN event_id % 6 = 1 THEN 'tr-' || CAST(event_id AS VARCHAR)
                        ELSE '' END AS m_trace,
                   CASE WHEN event_id % 6 = 1 THEN 'v' ELSE '' END AS m_k,
                   CASE WHEN event_id % 6 = 4 THEN 'top' ELSE '' END AS a_dup,
                   CASE WHEN event_id % 6 = 2
                        THEN 'timestamp parse failed: ''notatime''; '
                             || 'int coercion failed: http.response.status_code = ''OK'''
                        ELSE '' END AS warn
            FROM events
        """,
        "turn_rank_salted": """
            SELECT user_id, event_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT)
                     AS turn_rank
            FROM events
        """,
        "case_transforms": r"""
            SELECT doc_id,
                   lower(regexp_replace(trim(text), '\s+', '_', 'g')) AS snake,
                   CASE WHEN len(toks) = 0 THEN lower(text)
                        ELSE toks[1] || array_to_string(
                               list_transform(toks[2:], w -> upper(w[1:1]) || w[2:]), '')
                   END AS camel
            FROM (SELECT doc_id, text,
                         list_filter(regexp_split_to_array(lower(text), '\s+'), tk -> tk <> '') AS toks
                  FROM documents)
        """,
        "transform_remap": """
            SELECT event_id, event_type AS kind,
                   'prod' AS env, 'eu-1' AS region,
                   upper('Handled ' || event_type || ' #'
                         || CAST(event_id AS VARCHAR)) AS text_upper,
                   lower('Handled ' || event_type || ' #'
                         || CAST(event_id AS VARCHAR)) AS text_lower
            FROM events
        """,
        "graph_nodes": f"""
            WITH fed AS ({_FED_SQL})
            SELECT DISTINCT service FROM (
              SELECT src AS service FROM fed
              UNION ALL SELECT dst AS service FROM fed)
        """,
        "fanin_union": """
            WITH merged AS (
              SELECT event_id, 'file' AS source_name, event_type AS kind FROM events
              UNION ALL
              SELECT event_id, 'docker', event_type FROM events WHERE event_id % 3 = 0)
            SELECT source_name, kind, COUNT(*) AS cnt
            FROM merged GROUP BY source_name, kind
        """,
        "cycle_keys": """
            WITH p AS (
              SELECT event_id,
                     CASE CAST(event_id % 3 AS INT)
                       WHEN 0 THEN ['s' || CAST(user_id % 5 AS VARCHAR),
                                    's' || CAST(user_id % 3 AS VARCHAR),
                                    's' || CAST(event_id % 7 AS VARCHAR),
                                    's' || CAST(user_id % 5 AS VARCHAR)]
                       WHEN 1 THEN ['s' || CAST(user_id % 7 AS VARCHAR),
                                    's' || CAST(event_id % 4 AS VARCHAR)]
                       ELSE ['s' || CAST(user_id % 2 AS VARCHAR)] END AS path
              FROM events),
            t AS (
              SELECT event_id,
                     CASE WHEN len(path) > 1 AND path[1] = path[-1]
                          THEN list_slice(path, 1, len(path) - 1)
                          ELSE path END AS tp
              FROM p),
            r AS (
              SELECT event_id, tp,
                     list_position(tp, list_aggregate(tp, 'min')) AS i
              FROM t)
            SELECT event_id,
                   array_to_string(
                     list_slice(tp, i, len(tp)) || list_slice(tp, 1, i - 1),
                     '|') AS cycle_key
            FROM r
        """,
        "enrich_lookup": """
            WITH lk(role, tool, team, cost_tier, sink_hint) AS (VALUES
              ('user', '', 'end-user', 'free', 'sink_default'),
              ('assistant', '', 'model', 'free', 'sink_default'),
              ('system', '', 'platform', 'free', 'sink_default'),
              ('tool', 'search', 'tooling', 'low', 'sink_tools'),
              ('tool', 'code_exec', 'tooling', 'high', 'sink_tools'),
              ('tool', 'db_query', 'tooling', 'medium', 'sink_tools'),
              ('tool', 'http_get', 'tooling', 'low', 'sink_tools'),
              ('tool', 'none', 'tooling', 'free', 'sink_tools')),
            facts AS (
              SELECT event_id,
                     CASE user_id % 4 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
                          WHEN 2 THEN 'system' ELSE 'tool' END AS role,
                     CASE WHEN user_id % 4 = 3
                          THEN (CASE event_id % 2 WHEN 0 THEN 'search' ELSE 'db_query' END)
                          ELSE '' END AS tool
              FROM events)
            SELECT event_id, facts.role, facts.tool,
                   COALESCE(team, '') AS team,
                   COALESCE(cost_tier, '') AS cost_tier,
                   COALESCE(sink_hint, '') AS sink_hint
            FROM facts LEFT JOIN lk ON facts.role = lk.role AND facts.tool = lk.tool
        """,
        "resolver_chain": """
            SELECT event_id,
                   CASE user_id % 5 WHEN 0 THEN 'db-service'
                        WHEN 1 THEN 'redis-cache'
                        WHEN 2 THEN 'redis-cache'
                        WHEN 3 THEN 'unknown'
                        ELSE 'mail-service' END AS dst_service,
                   'stdin' AS src_service
            FROM events
        """,
        "routing_fanout": """
            SELECT 'sink_errors' AS sink, COUNT(*) AS cnt FROM events WHERE event_type = 'error'
            UNION ALL
            SELECT 'sink_big', COUNT(*) FROM events WHERE value > 50.0
            UNION ALL
            SELECT 'sink_default', COUNT(*) FROM events
        """,
        "sink_counts": """
            WITH f AS (
              SELECT *, 'u' || CAST(user_id % 50 AS VARCHAR) AS conv_id,
                     CASE WHEN event_type = 'click' THEN 'search' ELSE '' END AS tool,
                     CASE WHEN event_type = 'error' THEN 'error' ELSE 'info' END AS level,
                     CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS status_code
              FROM events),
            r AS (
              SELECT 'sink_errors' AS sink, * FROM f WHERE event_type = 'error'
              UNION ALL SELECT 'sink_big', * FROM f WHERE value > 50.0
              UNION ALL SELECT 'sink_default', * FROM f)
            SELECT sink, conv_id, time_bucket(INTERVAL '1 minute', ts) AS window_start,
                   COUNT(*) AS turn_count,
                   CAST(SUM(CASE WHEN tool <> '' THEN 1 ELSE 0 END) AS BIGINT) AS tool_call_count,
                   CAST(SUM(CASE WHEN level = 'error' OR status_code >= 500 THEN 1 ELSE 0 END) AS BIGINT)
                     AS error_pattern_count
            FROM r GROUP BY sink, conv_id, 3
        """,
        "dedup_exact": """
            SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
            FROM documents GROUP BY text
        """,
        "curate_full": r"""
            WITH all_docs AS (
              SELECT doc_id,
                     text || ' mail a' || CAST(doc_id AS VARCHAR) || '@b.co'
                       AS text
              FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     text || ' mail u' || CAST(doc_id AS VARCHAR) || '@x.io'
              FROM documents),
            scrubbed AS (
              SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                        '<EMAIL>', 'g'),
                      '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
                    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
                  AS text
              FROM all_docs),
            feat AS (
              SELECT doc_id, text, length(text) AS n_chars,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(list_filter(regexp_split_to_array(text, '\s+'), tk -> tk <> '')) END AS n_tok,
                     len(list_filter(list_filter(regexp_split_to_array(lower(text), '\s+'), tk -> tk <> ''),
                         t -> list_contains(
                           ['the','a','of','and','to','in','is','it','that','for'], t)))
                       AS h_en,
                     len(regexp_extract_all(text, '[.!?,;:]')) AS punct
              FROM scrubbed),
            q AS (
              SELECT doc_id, text,
                     round(((CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END)
                          + (CASE WHEN (CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END) <= 0.2
                                  THEN 1.0 ELSE 0.0 END)
                          + (CASE WHEN (CASE WHEN n_tok > 0 THEN h_en / n_tok ELSE 0.0 END) >= 0.01
                                  THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality
              FROM feat),
            qk AS (
              SELECT doc_id, text, quality,
                     CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                          ELSE list_filter(regexp_split_to_array(lower(text), '\s+'), tk -> tk <> '')
                     END AS a
              FROM q WHERE quality >= 0.4),
            ng2 AS (
              SELECT doc_id, a[i] || ' ' || a[i + 1] AS g
              FROM (SELECT doc_id, a, unnest(range(1, len(a))) AS i FROM qk)),
            s2 AS (
              SELECT doc_id, MAX(c) AS top2, CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup2
              FROM (SELECT doc_id, g, COUNT(*) AS c FROM ng2 GROUP BY 1, 2) GROUP BY 1),
            ng3 AS (
              SELECT doc_id, a[i] || ' ' || a[i + 1] || ' ' || a[i + 2] AS g
              FROM (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS i FROM qk)),
            s3 AS (
              SELECT doc_id, MAX(c) AS top3, CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup3
              FROM (SELECT doc_id, g, COUNT(*) AS c FROM ng3 GROUP BY 1, 2) GROUP BY 1),
            rep AS (
              SELECT qk.doc_id, qk.text, qk.quality
              FROM qk LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)
              WHERE len(a) BETWEEN 5 AND 100000
                AND COALESCE(list_sum(list_transform(a, t -> length(t))), 0) >= 3 * len(a)
                AND COALESCE(list_sum(list_transform(a, t -> length(t))), 0) <= 10 * len(a)
                AND len(list_filter(a, t -> regexp_matches(t, '[A-Za-z]'))) * 100 >= 80 * len(a)
                AND COALESCE(s2.top2, 0) * 100 <= 20 * greatest(len(a) - 1, 0)
                AND COALESCE(s3.top3, 0) * 100 <= 18 * greatest(len(a) - 2, 0)
                AND COALESCE(s3.dup3, 0) * 100 <= 30 * greatest(len(a) - 2, 0))
            SELECT MIN(doc_id) AS doc_id, MIN(quality) AS quality,
                   COUNT(*) AS exact_dup_count
            FROM rep GROUP BY text
        """,
        "curate_html": r"""
            WITH all_docs AS (
              SELECT doc_id,
                     '<p>' || text || ' x &amp; y</p><a href="/n">next</a>'
                       AS text
              FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     '<div><b>' || text
                     || '</b> x & y</div><!-- v2 --><a href="/n">next</a>'
              FROM documents
              UNION ALL
              SELECT doc_id + 200000,
                     '<a href="/f">' || text
                     || ' and plenty more anchor text here</a> ok'
              FROM documents WHERE doc_id % 9 = 0),
            nb AS (
              SELECT doc_id,
                     regexp_replace(regexp_replace(regexp_replace(text,
                       '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
                       '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
                       '(?s)<!--.*?-->', ' ', 'g') AS noblk
              FROM all_docs),
            tx AS (
              SELECT doc_id,
                     regexp_extract_all(noblk, '(?is)<a\b[^>]*>(.*?)</a>', 1)
                       AS anch,
                     trim(regexp_replace(
                       replace(replace(replace(replace(replace(replace(
                         regexp_replace(noblk, '(?s)<[^>]*>', ' ', 'g'),
                         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                         '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
                       '\s+', ' ', 'g')) AS text
              FROM nb),
            hk AS (
              SELECT doc_id, text
              FROM tx
              WHERE length(text) > 0
                AND coalesce(list_aggregate(list_transform(anch, a ->
                      length(trim(regexp_replace(regexp_replace(a,
                        '(?s)<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')))),
                      'sum'), 0) * 100 <= 40 * length(text)),
            feat AS (
              SELECT doc_id, text, length(text) AS n_chars,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(list_filter(regexp_split_to_array(text, '\s+'), tk -> tk <> '')) END AS n_tok,
                     len(list_filter(list_filter(regexp_split_to_array(lower(text), '\s+'), tk -> tk <> ''),
                         t -> list_contains(
                           ['the','a','of','and','to','in','is','it','that','for'], t)))
                       AS h_en,
                     len(regexp_extract_all(text, '[.!?,;:]')) AS punct
              FROM hk),
            q AS (
              SELECT doc_id, text,
                     round(((CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END)
                          + (CASE WHEN (CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END) <= 0.2
                                  THEN 1.0 ELSE 0.0 END)
                          + (CASE WHEN (CASE WHEN n_tok > 0 THEN h_en / n_tok ELSE 0.0 END) >= 0.01
                                  THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality
              FROM feat)
            SELECT MIN(doc_id) AS doc_id, MIN(quality) AS quality,
                   COUNT(*) AS exact_dup_count
            FROM q WHERE quality >= 0.4 GROUP BY text
        """,
        "jaccard_pairs": r"""
            WITH d AS (
              SELECT doc_id,
                     list_distinct(list_filter(regexp_split_to_array(lower(text), '\s+'), tk -> tk <> '')) AS toks
              FROM documents WHERE doc_id % 5 = 0),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.toks, b.toks)) AS common,
                     len(a.toks) AS sa, len(b.toks) AS sb
              FROM d a JOIN d b ON a.doc_id < b.doc_id)
            SELECT id_a, id_b,
                   (floor((common / (sa + sb - common)) * 1000000.0 + 0.5) / 1000000.0) AS jaccard
            FROM pairs
            WHERE (floor((common / (sa + sb - common)) * 1000000.0 + 0.5) / 1000000.0) >= 0.5 AND common > 0
        """,
        "group_centroids": f"""
            WITH e AS (
              SELECT CAST(vec_id % 7 AS BIGINT) AS domain,
                     CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE embedding IS NOT NULL),
            d AS (
              SELECT domain, unnest(generate_series(1, {IVF_DIM})) AS i, v
              FROM e),
            s AS (
              SELECT domain, i,
                     SUM(CAST(floor(COALESCE(v[i], 0.0) * 1000000.0 + 0.5)
                              AS HUGEINT)) AS sm
              FROM d GROUP BY domain, i),
            n AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_vectors
                  FROM e GROUP BY domain),
            m AS (
              SELECT s.domain, s.i,
                     -- exact floor division: subtract the positive
                     -- modulus first (DuckDB // truncates toward 0,
                     -- Spark floor(decimal/) floors)
                     CAST((sm - (((sm % n_vectors) + n_vectors)
                                 % n_vectors)) // n_vectors AS BIGINT)
                       AS mean_micro
              FROM s JOIN n USING (domain))
            SELECT domain,
                   string_agg(CAST(mean_micro AS VARCHAR), ' '
                              ORDER BY i) AS centroid_micros,
                   MIN(n.n_vectors) AS n_vectors
            FROM m JOIN n USING (domain)
            GROUP BY domain
        """,
        "snapshot_diff": r"""
            WITH prev AS (SELECT doc_id, text FROM documents),
            cur AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0
                          THEN text || ' updated edition'
                          ELSE text END AS text
              FROM prev WHERE doc_id % 11 != 0
              UNION ALL
              SELECT doc_id + 200000, text FROM prev
              WHERE doc_id % 13 = 0),
            pn AS (SELECT doc_id, text AS pt,
                          CAST(CASE WHEN text IS NULL THEN NULL
                               ELSE len(list_filter(
                                 regexp_split_to_array(text, '\s+'),
                                 t -> t <> '')) END AS BIGINT) AS n
                   FROM prev),
            cn AS (SELECT doc_id, text AS ct,
                          CAST(CASE WHEN text IS NULL THEN NULL
                               ELSE len(list_filter(
                                 regexp_split_to_array(text, '\s+'),
                                 t -> t <> '')) END AS BIGINT) AS n
                   FROM cur)
            SELECT COALESCE(pn.doc_id, cn.doc_id) AS doc_id,
                   CASE WHEN pn.doc_id IS NULL THEN 'added'
                        WHEN cn.doc_id IS NULL THEN 'removed'
                        WHEN pt IS NOT DISTINCT FROM ct THEN 'unchanged'
                        ELSE 'changed' END AS status,
                   COALESCE(cn.n, 0) - COALESCE(pn.n, 0) AS tok_delta
            FROM pn FULL OUTER JOIN cn ON pn.doc_id = cn.doc_id
        """,
        "containment": r"""
            WITH b0 AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id % 5 = 0 AND text IS NOT NULL
                AND trim(text) <> ''),
            ex AS (
              SELECT doc_id + 100000 AS doc_id,
                     array_to_string(list_filter(
                       regexp_split_to_array(lower(text), '\s+'),
                       t -> t <> '')[1:8], ' ') AS text
              FROM b0 WHERE doc_id % 10 = 0),
            d0 AS (SELECT * FROM b0 UNION ALL SELECT * FROM ex),
            d AS (
              SELECT doc_id, list_distinct(list_filter(
                regexp_split_to_array(lower(text), '\s+'), t -> t <> ''))
                AS toks
              FROM d0),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.toks, b.toks)) AS common,
                     len(a.toks) AS sa, len(b.toks) AS sb
              FROM d a JOIN d b ON a.doc_id < b.doc_id)
            SELECT id_a, id_b,
                   (floor((common / least(sa, sb)) * 1000000.0 + 0.5) / 1000000.0) AS containment
            FROM pairs
            WHERE common > 0
              AND (floor((common / least(sa, sb)) * 1000000.0 + 0.5) / 1000000.0) >= 0.8
        """,
        "text_stats": f"""
            {_TEXTSTATS_SQL}
            SELECT doc_id, n_tokens, n_bpe_tokens, quality, lang_guess
            FROM st
        """,
        "corpus_stats": f"""
            {_TEXTSTATS_SQL}
            SELECT lang_guess, COUNT(*) AS docs,
                   COUNT(DISTINCT text) AS distinct_texts,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(SUM(n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                   CAST(SUM(CAST(floor(quality * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                     AS quality_sum_4dp
            FROM st GROUP BY lang_guess
        """,
        "url_filter": r"""
            WITH u AS (
              SELECT doc_id,
                CASE WHEN doc_id % 8 = 5
                     THEN 'not-a-url-' || CAST(doc_id AS VARCHAR)
                     ELSE 'https://' ||
                       (['docs.example.com','spam.badsite.com',
                         'news.site.co.uk','ads.tracker.net',
                         'blog.example.co.uk','','plain',
                         'weird.example.org'])[CAST(doc_id % 8 AS INT) + 1]
                       || '/' ||
                       (['article','buy-now','research','casino'])
                         [CAST(doc_id % 4 AS INT) + 1]
                       || '/' || CAST(doc_id AS VARCHAR)
                END AS url
              FROM documents),
            h AS (
              SELECT doc_id, url,
                lower(regexp_replace(regexp_replace(
                  regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)', 1),
                  '^[^@]*@', ''), ':\d+$', '')) AS host,
                lower(regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1))
                  AS url_path
              FROM u),
            d AS (
              SELECT *, string_split(host, '.') AS labels,
                     len(string_split(host, '.')) AS n
              FROM h),
            rd AS (
              SELECT doc_id, url, host, url_path,
                CASE WHEN n <= 1 THEN host
                     WHEN n >= 3 AND list_contains(
                         ['co.uk','org.uk','ac.uk','gov.uk',
                          'com.au','net.au','org.au',
                          'co.jp','co.in','co.nz','co.za',
                          'com.br','com.cn','com.mx','com.tr'],
                         array_to_string(labels[n-1:n], '.'))
                       THEN array_to_string(labels[n-2:n], '.')
                     ELSE array_to_string(labels[n-1:n], '.')
                END AS url_domain
              FROM d),
            fin AS (
              SELECT doc_id, url, host, url_domain, url_path,
                list_contains(['badsite.com','tracker.net','example.co.uk'],
                              url_domain) AS blocked_domain,
                regexp_matches(url_path,
                  '(?:casino|gambling|porn|xxx|viagra|buy\-now)')
                  AS blocked_path
              FROM rd)
            SELECT doc_id, url, host, url_domain, url_path,
                   blocked_domain, blocked_path,
                   (host != '' AND NOT blocked_domain AND NOT blocked_path)
                     AS url_keep
            FROM fin
        """,
        "repetition_filter": r"""
            WITH tok AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                          ELSE list_filter(regexp_split_to_array(lower(text), '\s+'), tk -> tk <> '')
                     END AS a
              FROM documents),
            ng2 AS (
              SELECT doc_id, a[i] || ' ' || a[i + 1] AS g
              FROM (SELECT doc_id, a, unnest(range(1, len(a))) AS i FROM tok)),
            c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM ng2 GROUP BY 1, 2),
            s2 AS (
              SELECT doc_id, MAX(c) AS top2,
                     CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup2
              FROM c2 GROUP BY 1),
            ng3 AS (
              SELECT doc_id, a[i] || ' ' || a[i + 1] || ' ' || a[i + 2] AS g
              FROM (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS i
                    FROM tok)),
            c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM ng3 GROUP BY 1, 2),
            s3 AS (
              SELECT doc_id, MAX(c) AS top3,
                     CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup3
              FROM c3 GROUP BY 1),
            w AS (
              SELECT doc_id,
                     CAST(len(a) AS BIGINT) AS n_tokens,
                     CAST(COALESCE(list_sum(list_transform(a, t -> length(t))), 0)
                          AS BIGINT) AS word_chars,
                     CAST(len(list_filter(a, t -> regexp_matches(t, '[A-Za-z]')))
                          AS BIGINT) AS alpha_words,
                     CAST(greatest(len(a) - 1, 0) AS BIGINT) AS n_bigrams,
                     CAST(greatest(len(a) - 2, 0) AS BIGINT) AS n_trigrams
              FROM tok)
            SELECT w.doc_id, w.n_tokens, w.word_chars, w.alpha_words,
                   w.n_bigrams,
                   COALESCE(s2.top2, 0) AS top_bigram,
                   COALESCE(s2.dup2, 0) AS dup_bigram,
                   w.n_trigrams,
                   COALESCE(s3.top3, 0) AS top_trigram,
                   COALESCE(s3.dup3, 0) AS dup_trigram,
                   CASE WHEN w.n_tokens BETWEEN 5 AND 100000
                         AND w.word_chars >= 3 * w.n_tokens
                         AND w.word_chars <= 10 * w.n_tokens
                         AND w.alpha_words * 100 >= 80 * w.n_tokens
                         AND COALESCE(s2.top2, 0) * 100 <= 20 * w.n_bigrams
                         AND COALESCE(s3.top3, 0) * 100 <= 18 * w.n_trigrams
                         AND COALESCE(s3.dup3, 0) * 100 <= 30 * w.n_trigrams
                        THEN 1 ELSE 0 END AS rep_keep
            FROM w
            LEFT JOIN s2 USING (doc_id)
            LEFT JOIN s3 USING (doc_id)
        """,
        "pii_scrub": r"""
            WITH aug AS (
              SELECT doc_id,
                     text || ' contact u' || CAST(doc_id AS VARCHAR)
                          || '@example.com ip 10.0.'
                          || CAST(doc_id % 256 AS VARCHAR)
                          || '.7 ssn 123-45-6789 tel 555-123-4567' AS text
              FROM documents),
            s0 AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       AS BIGINT) AS n_email,
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1
              FROM aug),
            s1 AS (
              SELECT doc_id, n_email,
                     CAST(len(regexp_extract_all(t1,
                       '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
                     regexp_replace(t1, '\b\d{3}-\d{2}-\d{4}\b',
                       '<SSN>', 'g') AS t2
              FROM s0),
            s2 AS (
              SELECT doc_id, n_email, n_ssn,
                     CAST(len(regexp_extract_all(t2,
                       '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_phone,
                     regexp_replace(t2, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b',
                       '<PHONE>', 'g') AS t3
              FROM s1),
            s3 AS (
              SELECT doc_id, n_email, n_ssn, n_phone,
                     CAST(len(regexp_extract_all(t3,
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
                       AS n_ipv4,
                     regexp_replace(t3,
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                       '<IP>', 'g') AS scrubbed
              FROM s2)
            SELECT doc_id, n_email, n_ssn, n_phone, n_ipv4, scrubbed FROM s3
        """,
        "token_budget": r"""
            WITH t AS (
              SELECT doc_id, source,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(list_filter(regexp_split_to_array(text, '\s+'), tk -> tk <> ''))
                     END AS n_tok
              FROM documents),
            r AS (
              SELECT doc_id, source,
                     CAST(SUM(n_tok) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_tokens
              FROM t)
            SELECT doc_id, source, cum_tokens FROM r WHERE cum_tokens <= 700
        """,
        "c4_clean": r"""
            WITH m AS (
              SELECT doc_id,
                     text || '.' || chr(10) || 'tiny.' || chr(10)
                       || 'this page uses cookies so beware.' || chr(10)
                       || 'A good second sentence stands here!' AS text
              FROM documents),
            l AS (
              -- \r?\n mirrors filters.c4_line_clean's CRLF-aware split
              SELECT doc_id, text,
                     regexp_split_to_array(text, '\r?\n') AS lines
              FROM m),
            k AS (
              SELECT doc_id, text, lines,
                     list_filter(lines, s ->
                       right(trim(s), 1) IN ('.', '!', '?', '"', '''')
                       AND (CASE WHEN trim(s) = '' THEN 0
                            ELSE len(list_filter(regexp_split_to_array(s, '\s+'), tk -> tk <> ''))
                            END) >= 3
                       AND NOT (
                         contains(lower(trim(s)), 'javascript')
                         OR contains(lower(trim(s)), 'cookie policy')
                         OR contains(lower(trim(s)), 'terms of use')
                         OR contains(lower(trim(s)), 'privacy policy')
                         OR contains(lower(trim(s)), 'uses cookies')))
                       AS kept
              FROM l)
            SELECT doc_id,
                   array_to_string(kept, chr(10)) AS clean_text,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   CAST(len(kept) AS BIGINT) AS n_kept_lines,
                   len(kept) > 0
                     AND NOT contains(lower(text), '{')
                     AND NOT contains(lower(text), '}')
                     AND NOT contains(lower(text), 'lorem ipsum')
                     AS c4_keep
            FROM k
        """,
        "html_extract": r"""
            WITH p AS (
              SELECT doc_id,
                     '<html><head><script type="text/javascript">var x=1; alert("'
                     || doc_id || '");</script><style>body { color: red; }</style>'
                     || '</head><body><!-- comment ' || doc_id
                     || ' --><h1>Title &amp;amp; ' || doc_id || '</h1><p>' || text
                     || ' &lt;tag&gt;&nbsp;&#39;q&quot;</p><a href="/x">click here '
                     || doc_id || '</a>'
                     || (CASE WHEN doc_id % 3 = 0
                         THEN '<div class="nav"><a href="/a">a b c d e f g h i j k l m n'
                              || '</a><a href="/b">longer anchor text that pushes link '
                              || 'density higher for this page</a></div>'
                         ELSE '' END)
                     || '</body></html>' AS html
              FROM documents),
            nb AS (
              SELECT doc_id,
                     regexp_replace(regexp_replace(regexp_replace(html,
                       '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
                       '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
                       '(?s)<!--.*?-->', ' ', 'g') AS noblk
              FROM p),
            tx AS (
              SELECT doc_id, noblk,
                     regexp_extract_all(noblk, '(?is)<a\b[^>]*>(.*?)</a>', 1)
                       AS anch,
                     trim(regexp_replace(
                       replace(replace(replace(replace(replace(replace(
                         regexp_replace(noblk, '(?s)<[^>]*>', ' ', 'g'),
                         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                         '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
                       '\s+', ' ', 'g')) AS extracted_text
              FROM nb),
            st AS (
              SELECT doc_id, extracted_text,
                     CAST(length(extracted_text) AS BIGINT) AS text_chars,
                     CAST(len(regexp_extract_all(noblk, '(?s)<[^>]*>'))
                       AS BIGINT) AS n_tags,
                     CAST(len(anch) AS BIGINT) AS n_anchors,
                     CAST(coalesce(list_aggregate(list_transform(anch, a ->
                       length(trim(regexp_replace(regexp_replace(a,
                         '(?s)<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')))),
                       'sum'), 0) AS BIGINT) AS anchor_chars
              FROM tx)
            SELECT doc_id, extracted_text, text_chars, n_tags, n_anchors,
                   anchor_chars,
                   text_chars > 0 AND anchor_chars * 100 <= 40 * text_chars
                     AS html_keep
            FROM st
        """,
        "line_dedup": r"""
            WITH m AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 5 = 0
                           THEN 'This shared body line repeats across documents.'
                           ELSE text || '.' END) || chr(10)
                     || '(c) ' || upper(source) || ' all rights reserved.'
                     || chr(10)
                     || 'unique tail for doc ' || doc_id || '.' || chr(10)
                     || 'ok' AS text
              FROM documents),
            l AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM m),
            e AS (SELECT doc_id,
                         unnest(generate_series(1, len(lines))) AS pos,
                         lines
                  FROM l),
            x AS (SELECT doc_id, pos, line, lower(trim(bare)) AS norm,
                         length(trim(bare)) >= 6 AS eligible
                  FROM (SELECT doc_id, pos, lines[pos] AS line,
                               CASE WHEN right(lines[pos], 1) = chr(13)
                                    THEN left(lines[pos],
                                              length(lines[pos]) - 1)
                                    ELSE lines[pos] END AS bare
                        FROM e)),
            dup AS (
              SELECT norm
              FROM (SELECT DISTINCT norm, doc_id FROM x WHERE eligible)
              GROUP BY norm HAVING COUNT(*) >= 2),
            marked AS (
              SELECT x.doc_id, x.pos, x.line,
                     (x.eligible AND dup.norm IS NOT NULL) AS dropped
              FROM x LEFT JOIN dup ON x.norm = dup.norm)
            SELECT doc_id,
                   COALESCE(string_agg(line, chr(10) ORDER BY pos)
                            FILTER (WHERE NOT dropped), '') AS clean_text,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(COALESCE(SUM(CASE WHEN dropped THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS n_removed_lines
            FROM marked GROUP BY doc_id
        """,
        "source_overlap": r"""
            WITH u AS (
              SELECT text, source FROM documents
              UNION ALL
              SELECT text, 'mirror_' || source FROM documents
              WHERE doc_id % 7 = 0
              UNION ALL
              SELECT text, 'aggregator' FROM documents WHERE doc_id % 13 = 0),
            k AS (SELECT DISTINCT text, source FROM u)
            SELECT a.source AS src_a, b.source AS src_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared_texts
            FROM k a JOIN k b ON a.text = b.text AND a.source < b.source
            GROUP BY 1, 2
        """,
        "decontaminate": r"""
            WITH g AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                          ELSE list_filter(regexp_split_to_array(lower(text), '\s+'), tk -> tk <> '')
                     END AS a
              FROM documents),
            dg AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(a) >= 5 THEN
                       list_transform(range(1, len(a) - 3),
                         i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2]
                              || ' ' || a[i+3] || ' ' || a[i+4])
                       ELSE CAST([] AS VARCHAR[]) END) AS grams
              FROM g),
            bench AS (
              SELECT DISTINCT unnest(grams) AS gram
              FROM dg WHERE doc_id % 97 = 0),
            hits AS (
              SELECT dg.doc_id, COUNT(*) AS n_overlap
              FROM (SELECT doc_id, unnest(grams) AS gram FROM dg) dg
              JOIN bench USING (gram)
              GROUP BY dg.doc_id)
            SELECT d.doc_id,
                   COALESCE(h.n_overlap, 0) AS n_overlap,
                   COALESCE(h.n_overlap, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "pack_chunks": r"""
            WITH t AS (
              SELECT doc_id, source,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(list_filter(regexp_split_to_array(text, '\s+'), tk -> tk <> ''))
                     END AS n_tok
              FROM documents),
            r AS (
              SELECT doc_id, source, n_tok,
                     CAST(SUM(n_tok) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS e
              FROM t),
            s AS (
              SELECT doc_id, source, n_tok, e, e - n_tok AS st
              FROM r WHERE n_tok > 0),
            x AS (
              SELECT source, doc_id, n_tok, st,
                     unnest(generate_series(st // 64, (e - 1) // 64))
                       AS chunk_id
              FROM s)
            SELECT source, chunk_id, doc_id,
                   greatest(0, chunk_id * 64 - st) AS doc_begin,
                   least(n_tok, chunk_id * 64 + 64 - st) AS doc_end,
                   st + greatest(0, chunk_id * 64 - st) - chunk_id * 64
                     AS chunk_pos
            FROM x
        """,
        "vocab_topk": r"""
            WITH tok AS (
              SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), tk -> tk <> ''))
                       AS token
              FROM documents WHERE trim(text) <> ''),
            c AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS count
              FROM tok GROUP BY token HAVING COUNT(*) >= 2),
            top AS (
              SELECT * FROM c ORDER BY count DESC, token LIMIT 300)
            SELECT token,
                   CAST(ROW_NUMBER() OVER (ORDER BY count DESC, token) + 2
                        AS BIGINT) AS token_id,
                   count
            FROM top
        """,
        "tokenize_ids": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE list_filter(regexp_split_to_array(lower(text), '\s+'), tk -> tk <> '')
                     END AS toks
              FROM documents),
            c AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS count
              FROM (SELECT unnest(toks) AS token FROM t)
              GROUP BY token HAVING COUNT(*) >= 2),
            v AS (
              SELECT token,
                     CAST(ROW_NUMBER() OVER (ORDER BY count DESC, token) + 2
                          AS BIGINT) AS token_id
              FROM (SELECT * FROM c ORDER BY count DESC, token LIMIT 300)),
            e AS (
              SELECT doc_id,
                     unnest(generate_series(1, len(toks))) AS pos,
                     toks
              FROM t),
            x AS (
              SELECT e.doc_id, e.pos, COALESCE(v.token_id, 0) AS tid
              FROM e LEFT JOIN v ON v.token = e.toks[e.pos]),
            a AS (
              SELECT doc_id,
                     string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos)
                       AS body,
                     CAST(COUNT(*) AS BIGINT) AS n_tokens,
                     CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_oov
              FROM x GROUP BY doc_id)
            SELECT t.doc_id,
                   CASE WHEN a.body IS NULL THEN '1 2'
                        ELSE '1 ' || a.body || ' 2' END AS ids_str,
                   COALESCE(a.n_tokens, 0) AS n_tokens,
                   COALESCE(a.n_oov, 0) AS n_oov
            FROM t LEFT JOIN a USING (doc_id)
        """,
        "bpe_segment": rf"""
            WITH RECURSIVE
            m AS (SELECT rank, "left", "right"
                  FROM read_parquet('{BPE_MERGES_PATH}/*.parquet')),
            params AS (SELECT COALESCE(MAX(rank), -1) AS maxr FROM m),
            docs AS (SELECT doc_id, COALESCE(text, '') AS text
                     FROM documents),
            tw AS (  -- training vocabulary: the doc_id%2=0 half
              SELECT DISTINCT unnest(list_filter(
                regexp_split_to_array(lower(text), '\s+'), t -> t <> ''))
                AS word
              FROM docs WHERE doc_id % 2 = 0),
            init AS (
              SELECT word,
                     list_append(list_transform(
                       range(1, length(word) + 1), i -> word[i]),
                       '</w>') AS syms
              FROM tw),
            -- replay the merge list per word: state machine with ONE
            -- greedy-fold symbol step per recursion row. Within rank r
            -- the input stays in syms while acc builds left-to-right
            -- (merge when the acc tail is "left" and the next symbol
            -- is "right" — a just-merged tail is longer than "left" so
            -- it can never re-match, exactly bpe._merge_pair); when
            -- pos runs past the input, acc becomes the next rank's
            -- input. Final state r = maxr+1 carries the segmentation.
            seg AS (
              SELECT word, 0 AS r, syms,
                     CAST([] AS VARCHAR[]) AS acc, 1 AS pos
              FROM init, params WHERE params.maxr >= 0
              UNION ALL
              SELECT word,
                     CASE WHEN pos <= len(syms) THEN r ELSE r + 1 END,
                     CASE WHEN pos <= len(syms) THEN syms ELSE acc END,
                     CASE WHEN pos <= len(syms)
                          THEN CASE WHEN len(acc) > 0
                                     AND acc[-1] = m."left"
                                     AND syms[pos] = m."right"
                                    THEN list_append(
                                      acc[1:len(acc) - 1],
                                      m."left" || m."right")
                                    ELSE list_append(acc, syms[pos]) END
                          ELSE CAST([] AS VARCHAR[]) END,
                     CASE WHEN pos <= len(syms) THEN pos + 1 ELSE 1 END
              FROM seg JOIN m ON m.rank = seg.r),
            final AS (
              SELECT word, syms FROM seg, params WHERE r = params.maxr + 1
              UNION ALL
              SELECT word, syms FROM init, params WHERE params.maxr < 0),
            tokd AS (
              SELECT doc_id, list_filter(
                regexp_split_to_array(lower(text), '\s+'), t -> t <> '')
                AS toks
              FROM docs),
            e AS (SELECT doc_id,
                         unnest(generate_series(1, len(toks))) AS pos,
                         toks
                  FROM tokd),
            x0 AS (SELECT doc_id, pos, toks[pos] AS word FROM e),
            x AS (
              SELECT x0.doc_id, x0.pos,
                     COALESCE(f.syms, list_append(list_transform(
                       range(1, length(x0.word) + 1), i -> x0.word[i]),
                       '</w>')) AS pieces
              FROM x0 LEFT JOIN final f USING (word)),
            a AS (
              SELECT doc_id,
                     string_agg(array_to_string(pieces, ' '),
                                ' ' ORDER BY pos) AS body,
                     CAST(SUM(len(pieces)) AS BIGINT) AS n_pieces
              FROM x GROUP BY doc_id)
            SELECT d.doc_id,
                   COALESCE(a.body, '') AS pieces_str,
                   COALESCE(a.n_pieces, 0) AS n_pieces
            FROM docs d LEFT JOIN a USING (doc_id)
        """,
        "sentence_chunks": r"""
            WITH prep AS (
              SELECT doc_id,
                regexp_replace(text,
                  '([a-z]+ [a-z]+ [a-z]+) ', '\1. ', 'g') AS t
              FROM documents),
            s AS (
              SELECT doc_id,
                list_filter(list_transform(
                  regexp_extract_all(t, '([^.!?]*[.!?]+|[^.!?]+$)', 1),
                  x -> trim(x)), x -> x != '') AS sents
              FROM prep),
            w AS (
              SELECT doc_id, sents, len(sents) AS n,
                CASE WHEN len(sents) = 0 THEN 0
                     -- ceil(n/st) cap: identity for stride <= max
                     -- (these params) but the spec for gapped strides
                     ELSE least(
                       1 + (greatest(len(sents) - 4, 0) + 2 - 1) // 2,
                       (len(sents) + 2 - 1) // 2)
                END AS num
              FROM s),
            e AS (
              SELECT doc_id, sents, n,
                     unnest(range(num)) AS chunk_idx
              FROM w)
            SELECT doc_id, chunk_idx,
                   array_to_string(
                     sents[(chunk_idx*2 + 1):least(chunk_idx*2 + 4, n)],
                     ' ') AS chunk_text,
                   least(chunk_idx*2 + 4, n) - chunk_idx*2 AS n_sentences
            FROM e
        """,
        "pack_assemble": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE list_filter(regexp_split_to_array(lower(text), '\s+'), tk -> tk <> '')
                     END AS toks
              FROM documents),
            c AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM (SELECT unnest(toks) AS token FROM t)
              GROUP BY token HAVING COUNT(*) >= 2),
            v AS (
              SELECT token,
                     CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) + 2
                          AS BIGINT) AS token_id
              FROM (SELECT * FROM c ORDER BY cnt DESC, token LIMIT 300)),
            e AS (
              SELECT doc_id,
                     unnest(generate_series(1, len(toks))) AS pos, toks
              FROM t),
            x AS (
              SELECT e.doc_id, e.pos, COALESCE(v.token_id, 0) AS tid
              FROM e LEFT JOIN v ON v.token = e.toks[e.pos]),
            il AS (
              SELECT t.doc_id,
                     [CAST(1 AS BIGINT)]
                       || COALESCE(l.body, CAST([] AS BIGINT[]))
                       || [CAST(2 AS BIGINT)] AS ids
              FROM t LEFT JOIN (
                SELECT doc_id, list(tid ORDER BY pos) AS body
                FROM x GROUP BY doc_id) l USING (doc_id)),
            d AS (
              SELECT il.doc_id, d2.source, il.ids,
                     CAST(len(il.ids) AS BIGINT) AS n
              FROM il JOIN documents d2 USING (doc_id)),
            r AS (
              SELECT doc_id, source, ids, n,
                     CAST(SUM(n) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS en
              FROM d),
            s AS (SELECT *, en - n AS st FROM r),
            xx AS (
              SELECT source, doc_id, ids, n, st,
                     unnest(generate_series(st // 256, (en - 1) // 256))
                       AS chunk_id
              FROM s),
            p AS (
              SELECT source, chunk_id,
                     st + greatest(0, chunk_id * 256 - st) - chunk_id * 256
                       AS chunk_pos,
                     ids[greatest(0, chunk_id * 256 - st) + 1
                         : least(n, chunk_id * 256 + 256 - st)] AS piece
              FROM xx)
            SELECT source, chunk_id,
                   string_agg(array_to_string(piece, ' '), ' '
                              ORDER BY chunk_pos) AS ids_str,
                   CAST(SUM(len(piece)) AS BIGINT) AS n_tokens
            FROM p GROUP BY source, chunk_id
        """,
        "sft_mask_pack": f"""
            WITH pr AS (
              SELECT pair_id, prompt, response
              FROM read_parquet('{SFT_PAIRS_PATH}/*.parquet')),
            lt AS (SELECT prompt AS text FROM pr
                   UNION ALL SELECT response FROM pr),
            t0 AS (
              SELECT CASE WHEN trim(text) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE list_filter(regexp_split_to_array(lower(text), '\\s+'), tk -> tk <> '')
                     END AS toks
              FROM lt),
            c AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM (SELECT unnest(toks) AS token FROM t0)
              GROUP BY token HAVING COUNT(*) >= 2),
            v AS (
              SELECT token,
                     CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) + 2
                          AS BIGINT) AS token_id
              FROM (SELECT * FROM c ORDER BY cnt DESC, token LIMIT 200)),
            pt AS (
              SELECT pair_id,
                     CASE WHEN trim(prompt) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE list_filter(regexp_split_to_array(lower(prompt), '\\s+'), tk -> tk <> '')
                     END AS toks
              FROM pr),
            rt AS (
              SELECT pair_id,
                     CASE WHEN trim(response) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE list_filter(regexp_split_to_array(lower(response), '\\s+'), tk -> tk <> '')
                     END AS toks
              FROM pr),
            pe AS (SELECT pair_id,
                          unnest(generate_series(1, len(toks))) AS pos, toks
                   FROM pt),
            px AS (SELECT pe.pair_id, pe.pos, COALESCE(v.token_id, 0) AS tid
                   FROM pe LEFT JOIN v ON v.token = pe.toks[pe.pos]),
            pl AS (
              SELECT pr.pair_id,
                     COALESCE(l.body, CAST([] AS BIGINT[])) AS pids
              FROM pr LEFT JOIN (
                SELECT pair_id, list(tid ORDER BY pos) AS body
                FROM px GROUP BY pair_id) l USING (pair_id)),
            re AS (SELECT pair_id,
                          unnest(generate_series(1, len(toks))) AS pos, toks
                   FROM rt),
            rx AS (SELECT re.pair_id, re.pos, COALESCE(v.token_id, 0) AS tid
                   FROM re LEFT JOIN v ON v.token = re.toks[re.pos]),
            rl AS (
              SELECT pr.pair_id,
                     COALESCE(l.body, CAST([] AS BIGINT[])) AS rids
              FROM pr LEFT JOIN (
                SELECT pair_id, list(tid ORDER BY pos) AS body
                FROM rx GROUP BY pair_id) l USING (pair_id)),
            ex AS (
              SELECT pl.pair_id,
                     [CAST(1 AS BIGINT)] || pids || rids
                       || [CAST(2 AS BIGINT)] AS ids,
                     [CAST(0 AS BIGINT)]
                       || list_transform(pids, x -> CAST(0 AS BIGINT))
                       || list_transform(rids, x -> CAST(1 AS BIGINT))
                       || [CAST(1 AS BIGINT)] AS mask,
                     CAST(len(pids) + len(rids) + 2 AS BIGINT) AS n
              FROM pl JOIN rl USING (pair_id)),
            r AS (
              SELECT pair_id, ids, mask, n,
                     CAST(SUM(n) OVER (
                       ORDER BY pair_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS en
              FROM ex),
            s AS (SELECT *, en - n AS st FROM r),
            xx AS (
              SELECT pair_id, ids, mask, n, st,
                     unnest(generate_series(st // 96, (en - 1) // 96))
                       AS chunk_id
              FROM s),
            p AS (
              SELECT chunk_id,
                     st + greatest(0, chunk_id * 96 - st) - chunk_id * 96
                       AS chunk_pos,
                     ids[greatest(0, chunk_id * 96 - st) + 1
                         : least(n, chunk_id * 96 + 96 - st)] AS ipiece,
                     mask[greatest(0, chunk_id * 96 - st) + 1
                          : least(n, chunk_id * 96 + 96 - st)] AS mpiece
              FROM xx)
            SELECT chunk_id,
                   string_agg(array_to_string(ipiece, ' '), ' '
                              ORDER BY chunk_pos) AS ids_str,
                   string_agg(array_to_string(mpiece, ' '), ' '
                              ORDER BY chunk_pos) AS mask_str,
                   CAST(SUM(len(ipiece)) AS BIGINT) AS n_tokens,
                   CAST(SUM(COALESCE(list_aggregate(mpiece, 'sum'), 0))
                        AS BIGINT) AS n_loss_tokens
            FROM p GROUP BY chunk_id
        """,
        "quantile_bins": r"""
            WITH d AS (
              SELECT source, doc_id,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(list_filter(regexp_split_to_array(text, '\s+'), tk -> tk <> ''))
                     END AS n_tok
              FROM documents),
            r AS (
              SELECT source, doc_id, CAST(n_tok AS BIGINT) AS n_tok,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY n_tok, doc_id)
                       AS BIGINT) AS rank,
                     COUNT(*) OVER (PARTITION BY source) AS n
              FROM d)
            SELECT source, doc_id, n_tok, rank,
                   CAST(((rank - 1) * 4) // n AS INTEGER) AS bin
            FROM r
        """,
        "near_dedup_incremental": f"""
            WITH isig AS (
              SELECT doc_id, sig
              FROM read_parquet('{MH_INDEX_PATH}/sigs/*.parquet')),
            bsig AS (
              SELECT doc_id, sig
              FROM read_parquet('{MH_BATCH_SIGS_PATH}/*.parquet')),
            -- banding re-derived as SLICE EQUALITY (band-hash equality
            -- minus xxhash collisions, which the est filter absorbs):
            -- 32 hashes / 8 bands = 4-wide slices, 1-based inclusive
            bb AS (
              SELECT doc_id, band, sig[band * 4 + 1 : band * 4 + 4] AS chunk, sig
              FROM bsig CROSS JOIN (SELECT unnest(range(0, 8)) AS band) bands),
            ib AS (
              SELECT doc_id, band, sig[band * 4 + 1 : band * 4 + 4] AS chunk, sig
              FROM isig CROSS JOIN (SELECT unnest(range(0, 8)) AS band) bands),
            cand AS (
              SELECT DISTINCT b.doc_id AS nid, i.doc_id AS iid,
                     b.sig AS ns, i.sig AS isg
              FROM bb b JOIN ib i USING (band, chunk)),
            est AS (
              SELECT nid,
                     list_sum(list_transform(range(1, 33),
                       j -> CASE WHEN ns[j] = isg[j] THEN 1 ELSE 0 END)) / 32.0
                       AS e
              FROM cand),
            drops AS (SELECT DISTINCT nid FROM est WHERE e >= 0.5)
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT nid FROM drops)
        """,
        "index_compaction": f"""
            -- index side read from the ORIGINAL pre-compaction batch
            -- partitions: a hash match proves the compacted epoch the
            -- Spark side probed is identical to the uncompacted state
            WITH isig AS (
              SELECT doc_id, sig
              FROM read_parquet('{MH_CIDX_PATH}/sigs/batch_id=*/*.parquet')),
            bsig AS (
              SELECT doc_id, sig
              FROM read_parquet('{MH_CBATCH_SIGS_PATH}/*.parquet')),
            bb AS (
              SELECT doc_id, band, sig[band * 4 + 1 : band * 4 + 4] AS chunk, sig
              FROM bsig CROSS JOIN (SELECT unnest(range(0, 8)) AS band) bands),
            ib AS (
              SELECT doc_id, band, sig[band * 4 + 1 : band * 4 + 4] AS chunk, sig
              FROM isig CROSS JOIN (SELECT unnest(range(0, 8)) AS band) bands),
            cand AS (
              SELECT DISTINCT b.doc_id AS nid, i.doc_id AS iid,
                     b.sig AS ns, i.sig AS isg
              FROM bb b JOIN ib i USING (band, chunk)),
            est AS (
              SELECT nid,
                     list_sum(list_transform(range(1, 33),
                       j -> CASE WHEN ns[j] = isg[j] THEN 1 ELSE 0 END)) / 32.0
                       AS e
              FROM cand),
            drops AS (SELECT DISTINCT nid FROM est WHERE e >= 0.5)
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT nid FROM drops)
        """,
        "lm_score": f"""
            WITH tok AS (
              SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), tk -> tk <> ''))
                       AS token
              FROM documents WHERE trim(text) <> ''),
            cnts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
            model AS (
              SELECT m.token, m.cnt, m.nlp_micro
              FROM read_parquet('{UNIGRAM_LM_PATH}/*.parquet') m
              JOIN cnts c ON m.token = c.token AND m.cnt = c.cnt),
            scored AS (
              SELECT t.doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_tokens,
                     CAST(SUM(m.nlp_micro) AS BIGINT) AS nlp_sum_micro
              FROM tok t JOIN model m USING (token)
              GROUP BY t.doc_id)
            SELECT d.doc_id,
                   COALESCE(s.n_tokens, 0) AS n_tokens,
                   COALESCE(s.nlp_sum_micro, 0) AS nlp_sum_micro,
                   CASE WHEN COALESCE(s.n_tokens, 0) > 0
                        THEN round(s.nlp_sum_micro / 1000000.0 / s.n_tokens
                                   + 1e-9, 4)
                   END AS bits_per_token
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "lm_bigram": f"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE list_filter(regexp_split_to_array(lower(text), '\\s+'), tk -> tk <> '')
                     END AS toks
              FROM documents),
            tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
            cnts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
            pr AS (
              SELECT doc_id,
                     unnest(generate_series(1, len(toks) - 1)) AS pos, toks
              FROM t WHERE len(toks) >= 2),
            pairs AS (
              SELECT doc_id, toks[pos] || ' ' || toks[pos + 1] AS gram
              FROM pr),
            pcnts AS (SELECT gram, COUNT(*) AS cnt FROM pairs GROUP BY gram),
            pctx AS (
              SELECT gram, cnt,
                     CAST(SUM(cnt) OVER (
                       PARTITION BY split_part(gram, ' ', 1)) AS BIGINT)
                       AS c_prev
              FROM pcnts),
            bm AS (
              SELECT m.gram, m.nlp_micro
              FROM read_parquet('{BIGRAM_LM_PATH}/bigram/*.parquet') m
              JOIN pctx c ON m.gram = c.gram AND m.cnt = c.cnt
                         AND m.c_prev = c.c_prev),
            tm AS (
              SELECT m.token, m.uni_nlp_micro
              FROM read_parquet('{BIGRAM_LM_PATH}/tokens/*.parquet') m
              JOIN cnts c ON m.token = c.token AND m.cnt = c.cnt),
            fscore AS (
              SELECT t.doc_id, tm.uni_nlp_micro AS nlp
              FROM t JOIN tm ON tm.token = t.toks[1]
              WHERE len(t.toks) >= 1),
            pscore AS (
              SELECT p.doc_id, bm.nlp_micro AS nlp
              FROM pairs p JOIN bm USING (gram)),
            s AS (
              SELECT doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_tokens,
                     CAST(SUM(nlp) AS BIGINT) AS nlp_sum_micro
              FROM (SELECT * FROM fscore UNION ALL SELECT * FROM pscore)
              GROUP BY doc_id)
            SELECT d.doc_id,
                   COALESCE(s.n_tokens, 0) AS n_tokens,
                   COALESCE(s.nlp_sum_micro, 0) AS nlp_sum_micro,
                   CASE WHEN COALESCE(s.n_tokens, 0) > 0
                        THEN round(s.nlp_sum_micro / 1000000.0 / s.n_tokens
                                   + 1e-9, 4)
                   END AS bits_per_token
            FROM documents d LEFT JOIN s USING (doc_id)
        """,
        "dsir": f"""
            -- feature buckets + Gumbel noise materialized (xxhash64
            -- has no DuckDB twin); BOTH corpus histograms recounted
            -- from the feature bytes, the model joined on every count
            -- (poison value on mismatch), weights/keys/top-k re-derived
            WITH feats AS (
              SELECT doc_id, bucket
              FROM read_parquet('{DSIR_FEATS_PATH}/*.parquet')),
            model AS (
              SELECT bucket, cnt_target, cnt_raw, lr_micro
              FROM read_parquet('{DSIR_MODEL_PATH}/*.parquet')),
            tcnt AS (
              SELECT f.bucket, count(*) AS c
              FROM feats f JOIN documents d USING (doc_id)
              WHERE d.source IN ('src0', 'src1')
              GROUP BY f.bucket),
            rcnt AS (
              SELECT bucket, count(*) AS c FROM feats GROUP BY bucket),
            chk AS (
              SELECT m.bucket, m.lr_micro
              FROM model m
              JOIN rcnt r ON m.bucket = r.bucket AND m.cnt_raw = r.c
              LEFT JOIN tcnt t ON m.bucket = t.bucket
              WHERE m.cnt_target = COALESCE(t.c, 0)),
            w AS (
              SELECT d.doc_id,
                     CAST(count(f.bucket) AS BIGINT) AS n_feats,
                     CAST(COALESCE(SUM(
                       CASE WHEN f.bucket IS NULL THEN NULL
                            ELSE COALESCE(c.lr_micro, 999999999999) END), 0)
                       AS BIGINT) AS logw_micro
              FROM documents d
              LEFT JOIN feats f USING (doc_id)
              LEFT JOIN chk c ON f.bucket = c.bucket
              GROUP BY d.doc_id),
            keyed AS (
              SELECT w.doc_id, w.n_feats, w.logw_micro,
                     CAST(w.logw_micro + g.g_micro AS BIGINT) AS key_micro
              FROM w
              JOIN read_parquet('{DSIR_GUMBEL_PATH}/*.parquet') g
                USING (doc_id)),
            ranked AS (
              SELECT *, row_number()
                        OVER (ORDER BY key_micro DESC, doc_id ASC) AS rn
              FROM keyed)
            SELECT doc_id, n_feats, logw_micro, key_micro,
                   CASE WHEN rn <= {DSIR_K} THEN 1 ELSE 0 END AS selected
            FROM ranked
        """,
        "semantic_dedup": f"""
            WITH RECURSIVE cent AS (
              SELECT cell, centroid
              FROM read_parquet('{SEMDEDUP_CENT_PATH}/*.parquet')),
            s AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings),
            d AS (
              SELECT s.vec_id, s.v, cent.cell,
                     {_sql_sq_l2_micros("s.v[i]", "cent.centroid[i]", IVF_DIM)} AS dist
              FROM s CROSS JOIN cent),
            a AS (
              SELECT vec_id, v, cell FROM d
              QUALIFY row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cell) = 1),
            pairs AS (
              SELECT x.vec_id AS id_a, y.vec_id AS id_b
              FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
              WHERE (floor((
                      list_sum(list_transform(range(1, {IVF_DIM} + 1),
                                              i -> x.v[i] * y.v[i]))
                      / (sqrt(list_sum(list_transform(x.v, e -> e * e)))
                         * sqrt(list_sum(list_transform(y.v, e -> e * e)))))
                      * 1000000.0 + 0.5) / 1000000.0)
                    >= {SEMDEDUP_TAU}),
            sym AS (
              SELECT DISTINCT * FROM (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION ALL SELECT id_b, id_a FROM pairs)),
            reach(a, b) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a)
            SELECT v.vec_id,
                   least(v.vec_id,
                         COALESCE((SELECT min(b) FROM reach WHERE a = v.vec_id),
                                  v.vec_id)) AS component,
                   CAST(least(v.vec_id,
                              COALESCE((SELECT min(b) FROM reach
                                        WHERE a = v.vec_id), v.vec_id))
                        = v.vec_id AS INT) AS keep
            FROM a v
        """,
        "semantic_decontam": f"""
            -- both sides' cells re-derived from the materialized
            -- centroid bytes; within-cell cosines, candidate counts,
            -- argmax (ties -> highest bench id) and verdict re-derived
            WITH cent AS (
              SELECT cell, centroid
              FROM read_parquet('{SEMDECON_CENT_PATH}/*.parquet')),
            c AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            b AS (
              SELECT vec_id + 900000 AS bid, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id % 7 = 3),
            cd AS (
              SELECT c.vec_id, c.v, cent.cell,
                     {_sql_sq_l2_micros("c.v[i]", "cent.centroid[i]", IVF_DIM)} AS dist
              FROM c CROSS JOIN cent),
            ca AS (
              SELECT vec_id, v, cell FROM cd
              QUALIFY row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cell) = 1),
            bd AS (
              SELECT b.bid, b.v, cent.cell,
                     {_sql_sq_l2_micros("b.v[i]", "cent.centroid[i]", IVF_DIM)} AS dist
              FROM b CROSS JOIN cent),
            ba AS (
              SELECT bid, v, cell FROM bd
              QUALIFY row_number() OVER (PARTITION BY bid
                                         ORDER BY dist, cell) = 1),
            j AS (
              SELECT ca.vec_id, ba.bid,
                     (floor((list_sum(list_transform(range(1, {IVF_DIM} + 1),
                                                   i -> ca.v[i] * ba.v[i]))
                           / (sqrt(list_sum(list_transform(ca.v, e -> e * e)))
                              * sqrt(list_sum(list_transform(ba.v, e -> e * e)))))
                           * 1000000.0 + 0.5) / 1000000.0) AS cos
              FROM ca LEFT JOIN ba ON ca.cell = ba.cell),
            g AS (
              SELECT vec_id, CAST(count(bid) AS BIGINT) AS n_candidates,
                     max(cos) AS max_cos
              FROM j GROUP BY vec_id),
            r AS (
              SELECT vec_id, bid,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY cos DESC, bid DESC) AS rn
              FROM j)
            SELECT g.vec_id, g.n_candidates, g.max_cos,
                   CASE WHEN g.n_candidates > 0 THEN r.bid END AS near_bench_id,
                   CASE WHEN COALESCE(g.max_cos, -2) < {SEMDECON_TAU}
                        THEN 1 ELSE 0 END AS keep
            FROM g JOIN r ON g.vec_id = r.vec_id AND r.rn = 1
        """,
        "prototype_prune": f"""
            WITH cent AS (
              SELECT cell, centroid
              FROM read_parquet('{PRUNE_CENT_PATH}/*.parquet')),
            s AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            d AS (
              SELECT s.vec_id, cent.cell,
                     {_sql_sq_l2_micros("s.v[i]", "cent.centroid[i]", IVF_DIM)} AS dist
              FROM s CROSS JOIN cent),
            a AS (
              SELECT vec_id, cell,
                     CAST((dist * {pruning.GRID} + 500000) // 1000000 AS BIGINT)
                       AS dist_micro
              FROM d
              QUALIFY row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cell) = 1),
            r AS (
              SELECT vec_id, cell, dist_micro,
                     row_number() OVER (PARTITION BY cell
                                        ORDER BY dist_micro, vec_id) AS rank,
                     count(*) OVER (PARTITION BY cell) AS n_cell
              FROM a)
            SELECT vec_id, cell, dist_micro, rank, n_cell,
                   CASE WHEN rank > n_cell
                                 - (n_cell * {PRUNE_PERMILLE}) // 1000
                        THEN 1 ELSE 0 END AS keep
            FROM r
        """,
        "semantic_dedup_incremental": f"""
            WITH cent AS (
              SELECT cell, centroid
              FROM read_parquet('{SEMDEDUP_IDX_PATH}/centroids/*.parquet')),
            s AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            d AS (
              SELECT s.vec_id, s.v, cent.cell,
                     {_sql_sq_l2_micros("s.v[i]", "cent.centroid[i]", IVF_DIM)} AS dist
              FROM s CROSS JOIN cent),
            a AS (
              SELECT vec_id, v, cell FROM d
              QUALIFY row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cell) = 1),
            hits AS (
              SELECT DISTINCT b.vec_id
              FROM a b JOIN a i ON i.cell = b.cell AND i.vec_id % 3 = 0
              WHERE (floor((
                      list_sum(list_transform(range(1, {IVF_DIM} + 1),
                                              j -> b.v[j] * i.v[j]))
                      / (sqrt(list_sum(list_transform(b.v, e -> e * e)))
                         * sqrt(list_sum(list_transform(i.v, e -> e * e)))))
                      * 1000000.0 + 0.5) / 1000000.0)
                    >= {SEMDEDUP_TAU})
            SELECT vec_id FROM s
            WHERE vec_id NOT IN (SELECT vec_id FROM hits)
        """,
        "shard_plan": r"""
            WITH b AS (
              SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes
              FROM documents),
            r AS (
              SELECT doc_id, n_bytes,
                     CAST(SUM(n_bytes) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_bytes
              FROM b)
            SELECT doc_id, n_bytes, cum_bytes,
                   (cum_bytes - n_bytes) // 25000 AS shard
            FROM r
        """,
        "epoch_shuffle": f"""
            WITH k AS (
              SELECT doc_id, epoch, ekey, n_bytes, h
              FROM read_parquet('{EPOCH_KEYS_PATH}/*.parquet')),
            r AS (
              SELECT doc_id, epoch, n_bytes,
                     CAST(SUM(n_bytes) OVER (
                       PARTITION BY epoch ORDER BY h, ekey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_bytes
              FROM k)
            SELECT doc_id, epoch, n_bytes, cum_bytes,
                   (cum_bytes - n_bytes) // 25000 AS shard
            FROM r
        """,
        "dedup_incremental": r"""
            SELECT d.doc_id FROM documents d
            WHERE NOT EXISTS (
              SELECT 1 FROM documents i
              WHERE i.doc_id % 5 = 0 AND i.text = d.text)
        """,
        "mixture": f"""
            SELECT doc_id, source, bucket
            FROM read_parquet('{MIXTURE_BUCKETS_PATH}/*.parquet')
            WHERE (source = 'src0' AND bucket < 1000000)
               OR (source = 'src1' AND bucket <  500000)
               OR (source = 'src2' AND bucket <  250000)
               OR (source = 'src3' AND bucket <  100000)
        """,
        "sample_split": f"""
            SELECT doc_id, bucket,
                   CASE WHEN bucket < 800000 THEN 'train'
                        WHEN bucket < 900000 THEN 'val'
                        ELSE 'test' END AS split,
                   CASE WHEN bucket < 100000 THEN 1 ELSE 0 END AS kept_10pct
            FROM read_parquet('{SAMPLE_BUCKETS_PATH}/*.parquet')
        """,
        "stratified_k": f"""
            WITH r AS (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source ORDER BY h, doc_id) AS rn
              FROM read_parquet('{STRAT_RANK_PATH}/*.parquet'))
            SELECT doc_id, source FROM r WHERE rn <= 5
        """,
        "cosine_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
            s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            sc AS (
              SELECT vec_id,
                     list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])) AS dot,
                     sqrt(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]))) AS nv,
                     sqrt(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i]))) AS nq
              FROM s, q)
            SELECT vec_id,
                   (floor((CASE WHEN nv * nq > 0 THEN dot / (nv * nq) ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0) AS cosine_r
            FROM sc ORDER BY cosine_r DESC, vec_id LIMIT 10
        """,
        # Temporal joins: the oracle re-derives both sides from `events`
        # and answers the as-of lookup with a LATERAL top-1 per probe —
        # a completely different plan (per-row scan) than Spark's
        # union-tag running-last window, so a hash match is strong.
        "asof_join": """
            WITH probes AS (
              SELECT event_id AS pid, 'k' || CAST(user_id % 8 AS VARCHAR) AS key, ts
              FROM events),
            builds AS (
              SELECT 'k' || CAST(user_id % 8 AS VARCHAR) AS key, ts,
                     event_id AS ver, CAST(floor(value * 1000) AS BIGINT) AS state
              FROM events WHERE event_id % 7 = 0)
            SELECT p.pid, p.key, p.ts, b.ts AS asof_ts, b.ver, b.state
            FROM probes p LEFT JOIN LATERAL (
              SELECT * FROM builds b
              WHERE b.key = p.key AND b.ts <= p.ts
              ORDER BY b.ts DESC, b.ver DESC LIMIT 1) b ON TRUE
        """,
        "conv_integrity": f"""
            WITH p AS (
              SELECT conv_id,
                     CASE WHEN turn_idx % 11 = 5 THEN turn_idx - 1
                          ELSE turn_idx END AS turn_idx,
                     role, text,
                     CASE WHEN turn_idx % 17 = 3 THEN ts - INTERVAL 90 SECOND
                          ELSE ts END AS ts
              FROM {_TRANSCRIPTS_REL}
              WHERE NOT (turn_idx % 13 = 7)),
            m AS (
              SELECT *, MAX(ts) OVER (
                       PARTITION BY conv_id
                       ORDER BY turn_idx ASC NULLS FIRST, ts ASC NULLS FIRST
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS prev_max
              FROM p),
            r AS (
              SELECT conv_id, COUNT(*) AS n_turns,
                CAST(SUM(CASE WHEN ts < prev_max THEN 1 ELSE 0 END) AS BIGINT)
                  AS ts_inversions,
                CAST(COUNT(turn_idx) - COUNT(DISTINCT turn_idx) AS BIGINT)
                  AS dup_turn_idx,
                CAST(COALESCE(MAX(turn_idx) - MIN(turn_idx) + 1
                              - COUNT(DISTINCT turn_idx), 0) AS BIGINT)
                  AS missing_turn_idx,
                COALESCE(MIN(turn_idx) = 0, false) AS starts_at_zero,
                CAST(SUM(CASE WHEN turn_idx IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS null_turn_idx,
                CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS null_ts,
                CAST(SUM(CASE WHEN role IS NULL OR role = '' THEN 1 ELSE 0 END)
                     AS BIGINT) AS blank_role,
                CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS null_text
              FROM m GROUP BY conv_id)
            SELECT *, (ts_inversions = 0 AND dup_turn_idx = 0
                       AND missing_turn_idx = 0 AND starts_at_zero
                       AND null_turn_idx = 0 AND null_ts = 0
                       AND blank_role = 0 AND null_text = 0) AS conv_ok
            FROM r
        """,
        "range_join": """
            WITH facts AS (
              SELECT event_id AS fid, 'k' || CAST(user_id % 8 AS VARCHAR) AS key, ts
              FROM events),
            iv AS (
              SELECT event_id AS iid, 'k' || CAST(user_id % 8 AS VARCHAR) AS key,
                     ts AS start_ts,
                     ts + INTERVAL 1 HOUR * (1 + event_id % 5) AS end_ts
              FROM events WHERE event_id % 101 = 0)
            SELECT f.fid, f.key, f.ts, i.iid, i.start_ts, i.end_ts
            FROM facts f JOIN iv i
              ON f.key = i.key AND f.ts >= i.start_ts AND f.ts < i.end_ts
        """,
    }
