"""Rule-based fan-out routing to multiple sinks (north rule K3).

The reference wires sinks by config ``inputs`` edges (reference:
internal/app/app.go:299-312, internal/config/validate.go:25-34); a
sink consumes everything its transform produces. Here routing is
data-driven: each sink declares a SQL predicate over the normalized
columns; a row fans out to **every** sink whose predicate matches.
``routed_rows()`` builds the array of matching sinks per row and
explodes it: one scan regardless of the number of sinks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .skew import null_safe_window


def is_error_pattern(
    level: Column | None = None, status_code: Column | None = None
) -> Column:
    """The error-pattern predicate counted per sink (north rule). ONE
    definition shared by the plain and salted aggregation paths."""
    level = level if level is not None else F.col("level")
    status_code = status_code if status_code is not None else F.col("status_code")
    return (level == "error") | (status_code >= 500)


def routed_rows(df: DataFrame, rules: list[tuple[str, str, int]]) -> DataFrame:
    """One-pass fan-out: adds a ``sink`` column, one output row per
    (input row, matching sink)."""
    ordered = sorted(rules, key=lambda r: r[2])
    sink_arr = F.array_compact(
        F.array(*[F.when(F.expr(pred), F.lit(sink)) for sink, pred, _ in ordered])
    )
    return df.withColumn("sink", F.explode(sink_arr))


def sink_counts(
    routed: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 minute",
    null_bucket: bool = True,
) -> DataFrame:
    """Per-sink windowed aggregates grouped by conv_id and time bucket
    (north rule): turn counts, tool-call counts, error-pattern counts.

    One shuffle on (sink, conv_id, bucket); partial aggregation is
    map-side (Spark partial+final) so hot conversations cost one
    combiner row per partition, not one shuffled row per turn.

    ``null_bucket=True`` (batch default): a NULL timestamp lands in a
    NULL ``window_start`` group — SQL GROUP BY semantics — instead of
    being silently dropped (Spark's TimeWindowing rule injects an
    ``input IS NOT NULL`` filter), so SUM(turn_count) per sink always
    reconciles with the pipeline's sink_rows counters.
    ``null_bucket=False``: plain ``window(ts)`` — required by the
    native streaming path, where the watermark must ride the raw
    event-time column (a coalesce strips its eventTime metadata).
    """
    is_error = is_error_pattern()
    if null_bucket:
        w = null_safe_window(F.col(ts_col), window_duration)
        keys = [
            F.col("sink"),
            F.col("conv_id"),
            w.alias("w"),
            F.col(ts_col).isNull().alias("_ts_null"),
        ]
        start = F.when(~F.col("_ts_null"), F.col("w.start"))
    else:
        keys = [
            F.col("sink"),
            F.col("conv_id"),
            F.window(F.col(ts_col), window_duration).alias("w"),
        ]
        start = F.col("w.start")
    return (
        routed.groupBy(*keys)
        .agg(
            F.count("*").alias("turn_count"),
            F.count_if(F.col("tool") != "").alias("tool_call_count"),
            F.count_if(is_error).alias("error_pattern_count"),
        )
        .select(
            "sink",
            "conv_id",
            start.alias("window_start"),
            "turn_count",
            "tool_call_count",
            "error_pattern_count",
        )
    )
