"""Deterministic synthetic transcript generator.

Distributed, expression-only generation: ``spark.range(n)`` plus
xxhash64-derived columns — no ``rand()`` (re-runs are bit-stable), no
driver-side loops, scales to any row count. The payload distribution
mirrors the reference's generators:

  * service topology + per-edge latency/error profiles from the demo
    topology (reference: cmd/demo/main.go:24-55)
  * log-format mix (generic JSON / ECS / plain / metric) and record
    shapes from the bench generator (reference: bench/generator.go:54-129,
    cmd/demo/main.go:251-303)
  * a deterministic incident window (latency ×10, 30% errors on one
    edge) mirroring the incident simulator (reference:
    bench/incident_simulator_test.go:88-99)

Skew is built in: a configurable share of "hot" conversations carry
50× more turns than cold ones, exercising the salted-repartition/AQE
path at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import local_frame

# (src, dst, operation, base_ms, std_ms, err_rate, weight)
# reference: cmd/demo/main.go:24-55
TOPOLOGY: list[tuple[str, str, str, float, float, float, int]] = [
    ("api-gw", "auth", "POST /auth/verify", 5, 2, 0.01, 10),
    ("api-gw", "user-service", "GET /users", 15, 5, 0.02, 8),
    ("api-gw", "payment", "POST /pay", 50, 15, 0.02, 6),
    ("api-gw", "inventory", "GET /products", 20, 8, 0.01, 9),
    ("api-gw", "search", "GET /search", 30, 10, 0.01, 7),
    ("api-gw", "billing", "GET /billing/history", 40, 12, 0.02, 5),
    ("payment", "db", "INSERT transactions", 30, 10, 0.01, 10),
    ("payment", "redis", "GET cache", 2, 1, 0.005, 10),
    ("payment", "notification", "POST /notify", 10, 3, 0.02, 8),
    ("payment", "fraud-check", "POST /verify", 25, 8, 0.03, 7),
    ("user-service", "db", "SELECT users", 25, 8, 0.01, 10),
    ("user-service", "cache", "GET session", 3, 1, 0.005, 10),
    ("user-service", "notification", "POST /welcome", 12, 4, 0.02, 4),
    ("inventory", "db", "SELECT products", 20, 6, 0.01, 10),
    ("inventory", "cache", "GET products", 4, 1, 0.005, 10),
    ("inventory", "search", "POST /index", 15, 5, 0.01, 6),
    ("notification", "user-service", "GET /user/email", 12, 4, 0.02, 8),
    ("notification", "mailer", "POST /send", 80, 30, 0.05, 6),
    ("billing", "payment", "POST /billing", 45, 12, 0.015, 5),
    ("billing", "db", "INSERT invoices", 28, 8, 0.01, 5),
    ("billing", "notification", "POST /invoice", 10, 3, 0.02, 4),
    ("search", "db", "SELECT search_idx", 35, 12, 0.01, 8),
    ("search", "cache", "GET results", 5, 2, 0.005, 9),
    ("fraud-check", "db", "SELECT risk_rules", 20, 6, 0.01, 7),
    ("fraud-check", "redis", "GET blacklist", 3, 1, 0.005, 8),
    ("auth", "db", "SELECT credentials", 15, 5, 0.01, 10),
    ("auth", "redis", "GET token", 2, 1, 0.003, 10),
    ("mailer", "notification", "POST /delivery", 50, 20, 0.08, 4),
    ("billing", "fraud-check", "POST /risk-check", 22, 7, 0.02, 4),
    ("api-gw", "fraud-check", "POST /pre-check", 18, 6, 0.01, 3),
]

TOOLS = ["search", "code_exec", "db_query", "http_get", "none"]
BASE_TS = "2024-03-01 00:00:00"
COLD_TURNS = 20
HOT_TURNS = 1000
HOT_SHARE = 0.3  # share of total turns carried by hot conversations
# deterministic incident (reference: bench/incident_simulator_test.go:88-99):
# this edge gets latency ×10 and 30% errors inside the window
INCIDENT_EDGE = ("payment", "db")
# mid-day, one hour long: enough normal samples precede the incident
# for the detector's min-samples gate (the reference's scenario also
# runs normal traffic first, incident_simulator_test.go), and the
# window is wide enough to catch a solid sample count at test scales
INCIDENT_START_S = 43_200
INCIDENT_END_S = 46_800
TURN_STEP_S = 2

_WEIGHTED = [e for e in TOPOLOGY for _ in range(e[6])]


def _u(salt: int, *cols: Column) -> Column:
    """Deterministic uniform in [0,1) keyed on (cols, salt)."""
    return F.pmod(F.xxhash64(*cols, F.lit(salt)), F.lit(1_000_000)) / 1_000_000.0


def _pick(idx: Column, values: list, cast: str | None = None) -> Column:
    arr = F.array(*[F.lit(v) for v in values])
    col = F.element_at(arr, (idx + 1).cast("int"))
    return col.cast(cast) if cast else col


def transcripts(
    spark: SparkSession,
    n_turns: int,
    parallelism: int | None = None,
) -> DataFrame:
    """Generate ``n_turns`` transcript rows with the input_hint schema
    ``(conv_id, turn_idx, role, text, tool, ts)``.

    Deterministic for a given ``n_turns`` regardless of parallelism or
    partitioning — every column derives from (conv_id, turn_idx) hashes.
    """
    if parallelism is None:
        # work-targeted, not a fixed tasks/core multiple: ~100k turns
        # per task clamped to [1x, 3x] cores (session.py
        # work_targeted_partitions — measured A/Bs both ways: fine
        # tasks win at 9.6M turns, 1/core wins at 600k where 3x tiny
        # tasks are scheduling-floor-bound).
        from .session import work_targeted_partitions

        parallelism = work_targeted_partitions(
            n_turns, cores=spark.sparkContext.defaultParallelism
        )
    if n_turns <= 0:
        raise ValueError(f"n_turns must be positive, got {n_turns}")
    n_hot = max(1, int(round(HOT_SHARE * n_turns / HOT_TURNS)))
    hot_turns = min(n_hot * HOT_TURNS, n_turns)
    cold_turns = n_turns - hot_turns
    n_cold = (cold_turns + COLD_TURNS - 1) // COLD_TURNS if cold_turns else 0

    # split the TARGETED task count proportionally across the two
    # ranges: giving each range the full count would make the union
    # carry 2x the target at half the per-task work — exactly the
    # tiny-task scheduling-floor regime work_targeted_partitions
    # exists to avoid
    hot_par = max(1, round(parallelism * hot_turns / n_turns)) if hot_turns else 0
    cold_par = max(1, parallelism - hot_par) if cold_turns else 0

    parts = []
    if cold_turns:
        cold = spark.range(cold_turns, numPartitions=cold_par).select(
            (F.col("id") / COLD_TURNS).cast("long").alias("conv_no"),
            F.pmod(F.col("id"), F.lit(COLD_TURNS)).cast("int").alias("turn_idx"),
        )
        parts.append(cold)
    if hot_turns:
        hot = spark.range(hot_turns, numPartitions=hot_par).select(
            (F.lit(n_cold) + (F.col("id") / HOT_TURNS).cast("long")).alias("conv_no"),
            F.pmod(F.col("id"), F.lit(HOT_TURNS)).cast("int").alias("turn_idx"),
        )
        parts.append(hot)
    base = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

    conv = F.format_string("conv-%08d", F.col("conv_no"))
    turn = F.col("turn_idx")
    df = base.select(conv.alias("conv_id"), turn)
    c, t = F.col("conv_id"), F.col("turn_idx")

    # role: 40/40/5/15 user/assistant/system/tool (FIXTURES.md §1)
    rh = F.pmod(F.xxhash64(c, t, F.lit(1)), F.lit(100))
    role = (
        F.when(rh < 40, "user")
        .when(rh < 80, "assistant")
        .when(rh < 85, "system")
        .otherwise("tool")
    )
    df = df.withColumn("role", role)

    tool_idx = F.pmod(F.xxhash64(c, t, F.lit(2)), F.lit(len(TOOLS)))
    df = df.withColumn(
        "tool",
        F.when(F.col("role") == "tool", _pick(tool_idx, TOOLS)).otherwise(F.lit("")),
    )

    # event time: per-conversation start offset + monotone turn step
    conv_off = F.pmod(F.xxhash64(c, F.lit(3)), F.lit(86_400))
    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(BASE_TS)) + conv_off + t.cast("long") * TURN_STEP_S
    )
    df = df.withColumn("ts", ts)

    # weighted topology edge
    eidx = F.pmod(F.xxhash64(c, t, F.lit(4)), F.lit(len(_WEIGHTED)))
    src = _pick(eidx, [e[0] for e in _WEIGHTED])
    dst = _pick(eidx, [e[1] for e in _WEIGHTED])
    op = _pick(eidx, [e[2] for e in _WEIGHTED])
    base_ms = _pick(eidx, [float(e[3]) for e in _WEIGHTED])
    std_ms = _pick(eidx, [float(e[4]) for e in _WEIGHTED])
    err_rate = _pick(eidx, [float(e[5]) for e in _WEIGHTED])

    # approx N(0,1) via Irwin-Hall(4): (Σu − 2)·√3
    z = (_u(5, c, t) + _u(6, c, t) + _u(7, c, t) + _u(8, c, t) - 2.0) * 1.7320508
    lat = base_ms + std_ms * z
    lat = F.when(lat < 1.0, 1.0).when(lat > 5000.0, 5000.0).otherwise(lat)

    sec_of_day = conv_off + t.cast("long") * TURN_STEP_S
    in_incident = (
        (sec_of_day >= INCIDENT_START_S)
        & (sec_of_day < INCIDENT_END_S)
        & (src == INCIDENT_EDGE[0])
        & (dst == INCIDENT_EDGE[1])
    )
    lat = F.round(F.when(in_incident, lat * 10).otherwise(lat), 3)
    eff_err = F.when(in_incident, F.lit(0.3)).otherwise(err_rate)

    ue = _u(9, c, t)
    status = F.when(ue < eff_err, 500).when(ue < eff_err + 0.05, 400).otherwise(200)
    level = F.when(ue < eff_err, "error").when(ue < eff_err + 0.05, "warn").otherwise("info")

    seq = F.pmod(F.xxhash64(c, t, F.lit(10)), F.lit(1_000_000))
    trace_id = F.format_string("t%016x", F.xxhash64(c, t, F.lit(11)))
    span_id = F.format_string("s%08x", F.pmod(F.xxhash64(c, t, F.lit(12)), F.lit(0x7FFFFFFF)))
    ts_str = F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")

    # format mix 55/25/10/10 json/ecs/plain/metric (FIXTURES.md §1)
    fh = F.pmod(F.xxhash64(c, t, F.lit(13)), F.lit(100))

    json_text = F.to_json(
        F.struct(
            ts_str.alias("timestamp"),
            level.alias("level"),
            src.alias("service"),
            dst.alias("dst_service"),
            trace_id.alias("trace_id"),
            span_id.alias("span_id"),
            lat.alias("latency_ms"),
            status.alias("status_code"),
            F.format_string("handled request #%d", seq).alias("message"),
            op.alias("operation"),
        )
    )
    ecs_text = F.to_json(
        F.struct(
            ts_str.alias("@timestamp"),
            F.struct(level.alias("level")).alias("log"),
            F.struct(src.alias("name")).alias("service"),
            F.struct(trace_id.alias("id")).alias("trace"),
            F.struct(F.struct(status.alias("status_code")).alias("response")).alias("http"),
            F.struct((lat * 1e6).cast("long").alias("duration")).alias("event"),
            F.struct(dst.alias("address")).alias("destination"),
            F.format_string("ecs request #%d", seq).alias("message"),
        )
    )
    plain_text = F.format_string(
        "[%s] INFO %s: handled request #%d latency=%.2fms", ts_str, src, seq, lat
    )
    metric_text = F.to_json(
        F.struct(
            F.lit("request_latency_ms").alias("metric"),
            lat.alias("value"),
            src.alias("service"),
            ts_str.alias("timestamp"),
        )
    )
    text = (
        F.when(fh < 55, json_text)
        .when(fh < 80, ecs_text)
        .when(fh < 90, plain_text)
        .otherwise(metric_text)
    )
    df = df.withColumn("text", text)
    return df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def lookup_roles(spark: SparkSession) -> DataFrame:
    """Enrichment dimension keyed on (role, tool), the north-rule lookup
    ``enrich.enrich_roles`` compiles into the plan. Small by
    construction (≤ |roles|×|tools| rows)."""
    rows = []
    teams = {"user": "end-user", "assistant": "model", "system": "platform", "tool": "tooling"}
    tiers = {"search": "low", "code_exec": "high", "db_query": "medium", "http_get": "low", "none": "free"}
    for role, team in teams.items():
        tools = TOOLS if role == "tool" else [""]
        for tool in tools:
            tier = tiers.get(tool, "free")
            sink_hint = "sink_tools" if role == "tool" else "sink_default"
            rows.append((role, tool, team, tier, sink_hint))
    return local_frame(
        spark, rows, "role string, tool string, team string, cost_tier string, sink_hint string"
    )


def lookup_hosts(spark: SparkSession) -> DataFrame:
    """Host→service resolver dimension with exact keys and wildcards
    (reference: config.yml resolver map, internal/resolve/static.go)."""
    rows = [
        ("db", "db-service", False, 0),
        ("db.internal", "db-service", False, 1),
        ("redis", "redis-cache", False, 2),
        ("*.redis.svc", "redis-cache", True, 3),
        ("cache", "redis-cache", False, 4),
        ("mailer", "mail-service", False, 5),
        ("*.mail.svc", "mail-service", True, 6),
    ]
    return local_frame(
        spark, rows, "host_pattern string, service string, is_wildcard boolean, priority int"
    )


def routing_rules() -> list[tuple[str, str, int]]:
    """(sink, SQL predicate over normalized+transcript columns, priority).
    Fan-out semantics: a row may match several sinks (reference:
    internal/config/validate.go:25-34 inputs wiring)."""
    return [
        ("sink_errors", "level = 'error' OR status_code >= 500", 0),
        ("sink_tools", "tool <> ''", 1),
        ("sink_metrics", "format = 'metric_json'", 2),
        ("sink_default", "true", 3),
    ]
