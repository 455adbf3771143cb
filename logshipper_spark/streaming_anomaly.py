"""Streaming stateful z-score anomaly detection:
``applyInPandasWithState`` port of the reference's sequential detector
(reference: internal/anomaly/detector.go:59-112, stats.go:21-67).

Per (key, metric) state carries exactly what the reference's in-memory
detector holds: the last-N value ring, the in-anomaly flag, and the
last-alert timestamp — so a resumed stream continues mid-window
instead of recomputing from scratch (the batch variant in anomaly.py
re-derives everything from history; this one is O(window) state per
key forever, the right shape for an unbounded 10^12-turn stream).

Rows inside a micro-batch are processed in (ts, *order_cols) order;
cross-batch order follows arrival, as in the reference's channel FIFO.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .anomaly import DEFAULT_COOLDOWN_S, DEFAULT_THRESHOLD, DEFAULT_WINDOW

ALERT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("mean", T.DoubleType(), False),
        T.StructField("stddev", T.DoubleType(), False),
        T.StructField("zscore", T.DoubleType(), False),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("ring", T.ArrayType(T.DoubleType()), False),
        T.StructField("in_anomaly", T.BooleanType(), False),
        T.StructField("last_alert_epoch", T.DoubleType(), True),
    ]
)


def make_detector(
    window_size: int = DEFAULT_WINDOW,
    threshold: float = DEFAULT_THRESHOLD,
    cooldown_s: float = DEFAULT_COOLDOWN_S,
    min_samples: int | None = None,
    state_ttl_ms: int | None = None,
    order_extras: tuple[str, ...] = (),
):
    """Build the per-key stateful function. Mirrors detector.go exactly:
    add value to ring → gate on min samples → z over population stddev →
    alert only on false→true transition, suppressed within cooldown of
    the last *emitted* alert (suppression leaves the flag false).

    Micro-batch rows sort by (ts, *order_extras) — with no extras, ties
    on ts break by value so re-runs are deterministic (the batch
    detector pins ties with its order_cols; supply the same columns via
    ``order_extras`` for exact batch parity when timestamps collide).

    ``state_ttl_ms``: processing-time state eviction — the streaming
    analogue of the reference's edge TTL sweep (graph.go:247-293): a
    key silent for the TTL drops its ring, so a re-appearing key warms
    up from scratch ("re-appearing edge is new again")."""
    min_n = min_samples if min_samples is not None else window_size // 2

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ring, in_anomaly, last_alert = state.get
            ring = list(ring)
        else:
            ring, in_anomaly, last_alert = [], False, None

        out_rows = []
        # materialize ALL Arrow chunks and sort ONCE: a key exceeding
        # arrow.maxRecordsPerBatch in one micro-batch arrives as
        # several pdfs in arbitrary shuffle order — sorting each chunk
        # independently would replay the ring on an interleaved,
        # nondeterministic sequence and break batch parity on hot keys
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            sort_cols = ["ts"] + [c for c in order_extras if c in pdf.columns]
            if not set(order_extras) & set(pdf.columns):
                sort_cols.append("value")  # deterministic tie-break fallback
            pdf = pdf.sort_values(sort_cols, kind="mergesort")
            for ts, value in zip(pdf["ts"], pdf["value"]):
                ring.append(float(value))
                if len(ring) > window_size:
                    ring.pop(0)
                n = len(ring)
                mean = sum(ring) / n
                var = sum((x - mean) ** 2 for x in ring) / n  # population
                sd = math.sqrt(var)
                z = 0.0 if sd == 0 else (float(value) - mean) / sd
                is_anom = n >= min_n and abs(z) > threshold
                if not is_anom:
                    in_anomaly = False
                    continue
                if in_anomaly:
                    continue  # edge-triggered: still inside an episode
                epoch = ts.timestamp()
                if last_alert is not None and epoch - last_alert < cooldown_s:
                    continue  # cooldown suppression; flag stays false
                in_anomaly = True
                last_alert = epoch
                out_rows.append((key[0], ts, float(value), mean, sd, z))

        state.update((ring, in_anomaly, last_alert))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if out_rows:
            yield pd.DataFrame(
                out_rows, columns=["key", "ts", "value", "mean", "stddev", "zscore"]
            )

    return fn


def streaming_alerts(
    metrics: DataFrame,
    key_col: str = "key",
    window_size: int = DEFAULT_WINDOW,
    threshold: float = DEFAULT_THRESHOLD,
    cooldown_s: float = DEFAULT_COOLDOWN_S,
    min_samples: int | None = None,
    state_ttl_ms: int | None = None,
    order_extras: tuple[str, ...] = (),
) -> DataFrame:
    """``metrics`` is a streaming DataFrame with columns
    (key string, ts timestamp, value double); returns the alert
    stream. For batch use anomaly.detect_alerts (the window-function
    equivalent). ``state_ttl_ms`` evicts silent keys' state after the
    processing-time TTL (bounded state for an unbounded key space).
    ``order_extras``: additional metric columns used to break ts ties
    within a micro-batch (mirror the batch detector's order_cols).

    NULL-ts rows are excluded before the stateful apply — the same
    rule as anomaly.detect_alerts (a NaT reaching the cooldown
    arithmetic raises in the Python worker and kills the stream; NaT
    also sorts last regardless of arrival, corrupting replay order)."""
    extra_cols = [metrics[c] for c in order_extras]
    keyed = (
        metrics.filter(metrics["ts"].isNotNull())
        .select(metrics[key_col].alias("key"), "ts", "value", *extra_cols)
        .groupBy("key")
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return keyed.applyInPandasWithState(
        make_detector(
            window_size, threshold, cooldown_s, min_samples, state_ttl_ms,
            order_extras,
        ),
        outputStructType=ALERT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
