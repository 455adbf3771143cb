"""Template (grok) parser: nginx-style ``$var`` templates → regex extraction.

Re-expresses the reference's TemplateParser (reference:
internal/parse/template.go:21-178): the template is compiled **once on
the driver** into an anchored regex with one capture group per
variable and per-variable capture classes; extraction then runs as
plain JVM-side ``regexp_extract`` columns — one pass per variable over
the same compiled pattern, fully inside whole-stage codegen. No Python
executes per row.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .parse import _TS_STRING_RE
from .schemas import DEFAULT_INGEST_TS, FORMAT_TEMPLATE

_VAR_PATTERN = re.compile(r"\$([a-zA-Z_][a-zA-Z0-9_]*)")

# Go time layouts at template.go:67-72 → Spark datetime patterns; the
# RFC3339 family is handled by try_to_timestamp's ISO parser behind a
# full date-time gate (see parse._TS_STRING_RE rationale).
_NGINX_TIME_FMT = "dd/MMM/yyyy:HH:mm:ss Z"

TIME_VAR_KEYS = ["time_local", "time_iso8601", "timestamp", "ts", "time"]  # template.go:75
STATUS_VAR_KEYS = ["status", "status_code"]  # template.go:101
LATENCY_VAR_KEYS = ["request_time", "upstream_response_time"]  # template.go:110
TRACE_VAR_KEYS = ["request_id", "trace_id", "x_request_id"]  # template.go:130


def _var_capture(name: str) -> str:
    """Per-variable capture class (reference: template.go:161-178)."""
    return {
        "time_local": r"[^\]]+",
        "request": r"[^\"]+",
        "http_user_agent": r"[^\"]*",
        "http_referer": r"[^\"]*",
        "status": r"\d{3}",
        "body_bytes_sent": r"\d+",
        "bytes": r"\d+",
        "request_time": r"[\d.]+|-",
        "upstream_response_time": r"[\d.]+|-",
    }.get(name, r"\S+")


def compile_template(template: str) -> tuple[str, list[str]]:
    """Compile a ``$var`` template into an anchored regex + the ordered
    variable list (reference: template.go:140-159). Plain (unnamed)
    groups — extraction uses group indices."""
    vars_: list[str] = []
    parts: list[str] = []
    last = 0
    for m in _VAR_PATTERN.finditer(template):
        parts.append(re.escape(template[last : m.start()]))
        name = m.group(1)
        vars_.append(name)
        parts.append("(" + _var_capture(name) + ")")
        last = m.end()
    parts.append(re.escape(template[last:]))
    pattern = "^" + "".join(parts) + "$"
    re.compile(pattern)  # fail fast on driver if invalid
    return pattern, vars_


class TemplateParser:
    """Driver-side compiled template; produces column expressions."""

    def __init__(self, template: str):
        self.template = template
        self.pattern, self.vars = compile_template(template)

    def field(self, text: Column, name: str) -> Column:
        """Captured value for one variable, NULL when the line doesn't
        match (reference returns nil on no-match, template.go:30-40)."""
        if name not in self.vars:
            return F.lit(None).cast("string")
        idx = self.vars.index(name) + 1
        matched = F.trim(text).rlike(self.pattern)
        return F.when(matched, F.regexp_extract(F.trim(text), self.pattern, idx))

    def parse_normalized(
        self,
        df: DataFrame,
        text_col: str = "text",
        source_name: Column | str = "template",
        ingest_ts: str = DEFAULT_INGEST_TS,
    ) -> DataFrame:
        """Append normalized columns + ``template_matched`` flag
        (reference: template.go:44-136). Non-matching rows keep NULL
        normalized fields — the caller filters or falls back, matching
        the reference's nil return."""
        src_name = source_name if isinstance(source_name, Column) else F.lit(source_name)
        text = F.trim(F.col(text_col))
        out = df.withColumn("template_matched", text.rlike(self.pattern))
        matched = F.col("template_matched")

        def fld(name: str) -> Column:
            if name not in self.vars:
                return F.lit(None).cast("string")
            idx = self.vars.index(name) + 1
            return F.regexp_extract(text, self.pattern, idx)

        # timestamp: first time-var that parses under any layout (template.go:75-87)
        ts_cands = []
        for key in TIME_VAR_KEYS:
            if key not in self.vars:
                continue
            v = fld(key)
            ts_cands.append(
                F.coalesce(
                    F.try_to_timestamp(v, F.lit(_NGINX_TIME_FMT)),
                    F.when(v.rlike(_TS_STRING_RE), F.try_to_timestamp(v)),
                )
            )
        event_ts = F.coalesce(*ts_cands, F.lit(ingest_ts).cast("timestamp")) if ts_cands else F.lit(
            ingest_ts
        ).cast("timestamp")

        method = fld("method")
        request = fld("request")
        operation = (
            F.when(
                (method != "") & (request != ""), F.concat(method, F.lit(" "), request)
            )
            .when(request != "", request)
            .otherwise(F.lit(""))
        )

        status = F.coalesce(
            *[fld(k).try_cast("int") for k in STATUS_VAR_KEYS if k in self.vars],
            F.lit(0),
        )
        latency_us = F.coalesce(
            *[
                (fld(k).try_cast("double") * 1e6).try_cast("long")
                for k in LATENCY_VAR_KEYS
                if k in self.vars
            ],
            F.lit(0).cast("long"),
        )
        # status → level derivation (template.go:119-128)
        level = (
            F.when(status >= 500, F.lit("error"))
            .when(status >= 400, F.lit("warn"))
            .when(status > 0, F.lit("info"))
            .otherwise(F.lit(""))
        )
        trace = F.coalesce(
            *[F.nullif(fld(k), F.lit("")) for k in TRACE_VAR_KEYS if k in self.vars],
            F.lit(""),
        )
        # first-win var dedup: a legal template may repeat a $var
        # (field()/fld() already use the first capture group), and
        # create_map with a duplicated key would abort the job under
        # the session's EXCEPTION dedup policy
        raw_map = F.create_map(
            *[x for name in dict.fromkeys(self.vars) for x in (F.lit(name), fld(name))]
        )

        def gated(c: Column, default: Column) -> Column:
            return F.when(matched, c).otherwise(default)

        out = (
            out.withColumn("trace_id", gated(trace, F.lit(None).cast("string")))
            .withColumn("span_id", gated(F.lit(""), F.lit(None).cast("string")))
            .withColumn("event_ts", gated(event_ts, F.lit(None).cast("timestamp")))
            .withColumn("src_service", gated(F.lit(""), F.lit(None).cast("string")))
            .withColumn("dst_service", gated(F.lit(""), F.lit(None).cast("string")))
            .withColumn("operation", gated(operation, F.lit(None).cast("string")))
            .withColumn("status_code", gated(status, F.lit(None).cast("int")))
            .withColumn("latency_us", gated(latency_us, F.lit(None).cast("long")))
            .withColumn("level", gated(level, F.lit(None).cast("string")))
            .withColumn("format", gated(F.lit(FORMAT_TEMPLATE), F.lit(None).cast("string")))
            .withColumn("source_name", gated(src_name, F.lit(None).cast("string")))
            .withColumn("raw", gated(raw_map, F.lit(None).cast("map<string,string>")))
        )
        return out


# masking rules for template INDUCTION, most-specific first: a uuid
# must mask before its hex runs do, an ipv4 before its octets. Each is
# RE2-compatible so the contract oracle re-runs the identical chain in
# DuckDB (with the 'g' flag — DuckDB replaces first-match by default,
# Spark replaces all).
INDUCTION_MASKS: list[tuple[str, str]] = [
    (
        r"\b[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
        r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\b",
        "<uuid>",
    ),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<ip>"),
    (r"\b0x[0-9a-fA-F]+\b", "<hex>"),
    # no trailing \b: unit-suffixed numbers ("31s", "2.5ms") must
    # mask too; the LEADING \b still protects embedded digits ("v2")
    (r"\b\d+(\.\d+)?", "<num>"),
]


def normalize_template(msg: Column) -> Column:
    """Mask the variable parts of a log message (uuid → ip → hex →
    number, in that order) — the Drain-family template key, computed
    relationally instead of via an online parse tree: at batch scale
    the tree's only job is grouping, and groupBy IS the tree."""
    out = msg
    for pat, rep in INDUCTION_MASKS:
        out = F.regexp_replace(out, pat, rep)
    return out


def induce_templates(
    df: DataFrame,
    text_col: str = "message",
    k: int = 50,
) -> DataFrame:
    """Top-``k`` induced log templates over a raw message column:
    ``(template, n, n_distinct, example)`` ordered by ``(n DESC,
    template)``, where ``example`` is the lexicographically smallest
    raw message of the group — the 'what formats are my services
    actually emitting' discovery report that precedes writing
    `compile_template` patterns for them (P11–P12's authoring step).

    Scale posture: masking is a map-only regexp chain; ONE
    map-side-combined groupBy on the template key (count + exact
    distinct-message count + min example); top-k is TakeOrdered. NULL
    messages drop."""
    t = df.filter(F.col(text_col).isNotNull()).select(
        F.col(text_col).alias("_msg"),
        normalize_template(F.col(text_col)).alias("template"),
    )
    agg = t.groupBy("template").agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("_msg").cast("long").alias("n_distinct"),
        F.min("_msg").alias("example"),
    )
    return agg.orderBy(F.col("n").desc(), "template").limit(k)
