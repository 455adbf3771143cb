"""Correctness gate: the program's outputs against the pure-Python
reference in ``tests/oracle.py``, on a deterministic conversation
sample. Every function returns a list of problems; empty means pass.
"""

from __future__ import annotations

from datetime import timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tests import oracle

FIELDS = [
    "trace_id", "span_id", "src_service", "dst_service", "operation",
    "status_code", "latency_us", "level", "format", "source_name",
]
DEFAULT_SINKS = ["sink_errors", "sink_tools", "sink_metrics", "sink_default"]


def _naive(dt):
    return dt.astimezone(timezone.utc).replace(tzinfo=None) if dt.tzinfo else dt


class Oracle:
    """Expected per-turn fields, routed sinks and per-sink one-minute
    windowed counts for the sampled conversations (all of them when
    ``conv_ids`` is None)."""

    def __init__(
        self, spark: SparkSession, turns: DataFrame, conv_ids: list[str] | None = None
    ):
        from logshipper_spark import gen

        self.conv_ids = conv_ids
        lookup_rows = [
            (r["host_pattern"], r["service"], r["is_wildcard"], r["priority"])
            for r in gen.lookup_hosts(spark).collect()
        ]
        self.turns: dict[tuple, dict] = {}
        self.windows: dict[tuple, list[int]] = {}
        if conv_ids is not None:
            turns = turns.filter(F.col("conv_id").isin(conv_ids))
        for r in turns.collect():
            n = oracle.resolve(oracle.parse_normalized(r["text"], r["role"]), lookup_rows)
            n["event_ts"] = _naive(n["event_ts"])
            n["sinks"] = set(oracle.route_row(n, r["tool"]))
            self.turns[(r["conv_id"], r["turn_idx"])] = n
            minute = r["ts"].replace(second=0, microsecond=0)
            is_err = n["level"] == "error" or n["status_code"] >= 500
            for sink in n["sinks"]:
                c = self.windows.setdefault((sink, r["conv_id"], minute), [0, 0, 0])
                c[0] += 1
                c[1] += r["tool"] != ""
                c[2] += is_err

    def sink_rows(self) -> dict[str, int]:
        rows: dict[str, int] = {}
        for n in self.turns.values():
            for sink in n["sinks"]:
                rows[sink] = rows.get(sink, 0) + 1
        return rows

    def check_routed(self, routed: DataFrame) -> list[str]:
        """``routed``: rows with the normalized fields and a ``sink``
        column (the written sink payload)."""
        got: dict[tuple, set] = {}
        problems = []
        rows = (
            routed.filter(F.col("conv_id").isin(self.conv_ids))
            .filter(F.col("sink").isin(DEFAULT_SINKS))
            .select("conv_id", "turn_idx", "sink", "event_ts", *FIELDS)
            .collect()
        )
        for r in rows:
            key = (r["conv_id"], r["turn_idx"])
            exp = self.turns.get(key)
            if exp is None:
                problems.append(f"unexpected turn {key}")
                continue
            got.setdefault(key, set()).add(r["sink"])
            for f in FIELDS:
                if r[f] != exp[f]:
                    problems.append(f"{key} {f}: {r[f]!r} != {exp[f]!r}")
            if r["event_ts"] != exp["event_ts"]:
                problems.append(f"{key} event_ts: {r['event_ts']} != {exp['event_ts']}")
        for key, exp in self.turns.items():
            if got.get(key, set()) != exp["sinks"]:
                problems.append(f"{key} sinks {sorted(got.get(key, []))} != {sorted(exp['sinks'])}")
        return problems[:20]

    def check_windows(self, counts: DataFrame) -> list[str]:
        """``counts``: route.sink_counts output (or its written copy)."""
        got = {
            (r["sink"], r["conv_id"], r["window_start"]): [
                r["turn_count"], r["tool_call_count"], r["error_pattern_count"]
            ]
            for r in counts.filter(F.col("conv_id").isin(self.conv_ids))
            .filter(F.col("sink").isin(DEFAULT_SINKS))
            .collect()
        }
        if got == self.windows:
            return []
        wrong = [k for k in self.windows if got.get(k) != self.windows[k]]
        extra = [k for k in got if k not in self.windows]
        return [
            f"windowed counts differ: {len(wrong)} wrong or missing, "
            f"{len(extra)} extra, e.g. {(wrong + extra)[:2]}"
        ]


def sink_totals(counts: DataFrame) -> dict[str, int]:
    return {
        r["sink"]: int(r["n"])
        for r in counts.groupBy("sink").agg(F.sum("turn_count").alias("n")).collect()
    }


def same_rows(a: DataFrame, b: DataFrame) -> list[str]:
    """Row-for-row equality of two frames with the same columns."""
    cols = sorted(a.columns)
    a, b = a.select(*cols), b.select(*cols)
    only_a = a.exceptAll(b).count()
    only_b = b.exceptAll(a).count()
    if only_a or only_b:
        return [f"{only_a} rows only in the first, {only_b} only in the second"]
    return []
