"""Seeded transcript generator for the benchmark.

Same schema and distributions as ``logshipper_spark.gen.transcripts``
(conv_id, turn_idx, role, text, tool, ts; 40/40/5/15 roles, 55/25/10/10
json/ecs/plain/metric formats, 30% of turns in 1000-turn hot
conversations, a one-hour incident on payment -> db) but every hash is
salted with the workload seed, so a new seed changes the rows
themselves, not just their order. The generator lives here, not in the
program, so a change to the program can never change its own inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# (src, dst, operation, base_ms, std_ms, err_rate, weight)
TOPOLOGY = [
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
WEIGHTED = [e for e in TOPOLOGY for _ in range(e[6])]
TOOLS = ["search", "code_exec", "db_query", "http_get", "none"]
BASE_TS = "2024-03-01 00:00:00"
COLD_TURNS = 20
HOT_TURNS = 1000
HOT_SHARE = 0.3
INCIDENT_EDGE = ("payment", "db")
INCIDENT_START_S = 43_200
INCIDENT_END_S = 46_800
TURN_STEP_S = 2


def _h(seed: int, salt: int, *cols: Column) -> Column:
    return F.xxhash64(*cols, F.lit(salt), F.lit(seed))


def _u(seed: int, salt: int, *cols: Column) -> Column:
    return F.pmod(_h(seed, salt, *cols), F.lit(1_000_000)) / 1_000_000.0


def _pick(idx: Column, values: list) -> Column:
    return F.element_at(F.array(*[F.lit(v) for v in values]), (idx + 1).cast("int"))


def shape(n_turns: int) -> tuple[int, int, int]:
    """(hot_turns, cold_turns, conversations) for ``n_turns``."""
    n_hot = max(1, int(round(HOT_SHARE * n_turns / HOT_TURNS)))
    hot = min(n_hot * HOT_TURNS, n_turns)
    cold = n_turns - hot
    n_cold = (cold + COLD_TURNS - 1) // COLD_TURNS
    return hot, cold, n_cold + (hot + HOT_TURNS - 1) // HOT_TURNS


def _base_no(seed: int) -> int:
    return (seed * 7919) % 10_000_000


def sample_conv_ids(n_turns: int, seed: int, n_cold: int = 40) -> list[str]:
    """A deterministic conversation sample for the correctness gate:
    ``n_cold`` cold conversations spread over the range, plus the
    first hot one."""
    hot_turns, cold_turns, _ = shape(n_turns)
    cold_convs = (cold_turns + COLD_TURNS - 1) // COLD_TURNS
    base = _base_no(seed)
    stride = max(1, cold_convs // n_cold)
    nos = [base + k * stride for k in range(min(n_cold, cold_convs))]
    if hot_turns:
        nos.append(base + cold_convs)
    return [f"conv-{n:08d}" for n in nos]


def transcripts(
    spark: SparkSession, n_turns: int, seed: int, partitions: int
) -> DataFrame:
    """``n_turns`` seeded transcript rows. The conversation numbering
    starts at a seed-derived offset, so conv_ids differ across seeds."""
    hot_turns, cold_turns, _ = shape(n_turns)
    n_cold = (cold_turns + COLD_TURNS - 1) // COLD_TURNS
    base_no = _base_no(seed)
    hot_par = max(1, round(partitions * hot_turns / n_turns))
    cold_par = max(1, partitions - hot_par)
    parts = []
    if cold_turns:
        parts.append(
            spark.range(cold_turns, numPartitions=cold_par).select(
                (F.lit(base_no) + F.col("id") / COLD_TURNS).cast("long").alias("conv_no"),
                F.pmod(F.col("id"), F.lit(COLD_TURNS)).cast("int").alias("turn_idx"),
            )
        )
    parts.append(
        spark.range(hot_turns, numPartitions=hot_par).select(
            (F.lit(base_no + n_cold) + (F.col("id") / HOT_TURNS).cast("long")).alias(
                "conv_no"
            ),
            F.pmod(F.col("id"), F.lit(HOT_TURNS)).cast("int").alias("turn_idx"),
        )
    )
    base = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    df = base.select(
        F.format_string("conv-%08d", F.col("conv_no")).alias("conv_id"), "turn_idx"
    )
    c, t = F.col("conv_id"), F.col("turn_idx")

    rh = F.pmod(_h(seed, 1, c, t), F.lit(100))
    df = df.withColumn(
        "role",
        F.when(rh < 40, "user")
        .when(rh < 80, "assistant")
        .when(rh < 85, "system")
        .otherwise("tool"),
    )
    tool_idx = F.pmod(_h(seed, 2, c, t), F.lit(len(TOOLS)))
    df = df.withColumn(
        "tool", F.when(F.col("role") == "tool", _pick(tool_idx, TOOLS)).otherwise("")
    )
    conv_off = F.pmod(_h(seed, 3, c), F.lit(86_400))
    df = df.withColumn(
        "ts",
        F.timestamp_seconds(
            F.unix_timestamp(F.lit(BASE_TS)) + conv_off + t.cast("long") * TURN_STEP_S
        ),
    )

    eidx = F.pmod(_h(seed, 4, c, t), F.lit(len(WEIGHTED)))
    src = _pick(eidx, [e[0] for e in WEIGHTED])
    dst = _pick(eidx, [e[1] for e in WEIGHTED])
    op = _pick(eidx, [e[2] for e in WEIGHTED])
    base_ms = _pick(eidx, [float(e[3]) for e in WEIGHTED])
    std_ms = _pick(eidx, [float(e[4]) for e in WEIGHTED])
    err_rate = _pick(eidx, [float(e[5]) for e in WEIGHTED])

    # approx N(0,1) via Irwin-Hall(4)
    z = (
        _u(seed, 5, c, t) + _u(seed, 6, c, t) + _u(seed, 7, c, t) + _u(seed, 8, c, t)
        - 2.0
    ) * 1.7320508
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
    ue = _u(seed, 9, c, t)
    status = F.when(ue < eff_err, 500).when(ue < eff_err + 0.05, 400).otherwise(200)
    level = F.when(ue < eff_err, "error").when(ue < eff_err + 0.05, "warn").otherwise("info")

    seq = F.pmod(_h(seed, 10, c, t), F.lit(1_000_000))
    trace_id = F.format_string("t%016x", _h(seed, 11, c, t))
    span_id = F.format_string("s%08x", F.pmod(_h(seed, 12, c, t), F.lit(0x7FFFFFFF)))
    ts_str = F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    fh = F.pmod(_h(seed, 13, c, t), F.lit(100))

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
    return df.withColumn("text", text).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
