"""Pure-Python oracle implementing the reference's Go pipeline semantics
(parse → enrich → route → aggregate) for fixture-equality tests.

Follows the Go code paths exactly (json.Unmarshal → dict with real
types, alias-group extraction, unit coercion, status→level, routing,
per-sink counts) so the Spark engine can be checked for routed-row
equality and per-sink aggregate counts, mirroring LogShipper's own
pipeline fixture tests. Reference citations inline.
"""

from __future__ import annotations

import json
import math
import re
from datetime import datetime, timedelta, timezone
from fnmatch import fnmatchcase

DEFAULT_INGEST = datetime(2024, 1, 1, tzinfo=timezone.utc)

_DURATION_RE = re.compile(r"^([\d.]+)\s*(ms|s|µs|us|ns)?$")
_TS_LAYOUTS = [
    "%Y-%m-%dT%H:%M:%S.%f%z",
    "%Y-%m-%dT%H:%M:%S%z",
    "%Y-%m-%d %H:%M:%S",
]

TS_KEYS = ["ts", "time", "@timestamp", "timestamp", "datetime"]
LEVEL_KEYS = ["level", "severity", "lvl", "log_level"]
SERVICE_KEYS = ["service", "service_name", "app", "application", "component"]
STATUS_KEYS = ["status_code", "status", "http.status", "code", "http_status"]
LATENCY_KEYS = [
    "latency", "duration", "elapsed", "response_time",
    "latency_ms", "duration_ms", "elapsed_ms",
    "latency_s", "duration_s", "request_time",
]
TRACE_KEYS = ["trace_id", "traceId", "trace.id", "X-Trace-Id", "x-trace-id"]
SPAN_KEYS = ["span_id", "spanId", "span.id"]
DST_KEYS = ["upstream", "target", "remote_service", "peer.service", "dst_service"]


def _first_string(raw: dict, keys) -> str:
    for k in keys:
        v = raw.get(k)
        if isinstance(v, str) and v != "":
            return v
    return ""


def _extract_timestamp(raw: dict):  # json.go:182-207
    for k in TS_KEYS:
        if k not in raw:
            continue
        v = raw[k]
        if isinstance(v, str):
            for layout in _TS_LAYOUTS:
                try:
                    t = datetime.strptime(v, layout)
                    if t.tzinfo is None:
                        t = t.replace(tzinfo=timezone.utc)
                    return t.astimezone(timezone.utc)
                except ValueError:
                    continue
        elif isinstance(v, (int, float)) and not isinstance(v, bool):
            if v > 1e12:
                return datetime.fromtimestamp(int(v) / 1000.0, tz=timezone.utc)
            return datetime.fromtimestamp(int(v), tz=timezone.utc)
    return None


def _extract_status(raw: dict) -> int:  # json.go:112-128
    for k in STATUS_KEYS:
        if k not in raw:
            continue
        v = raw[k]
        if isinstance(v, bool):
            continue
        if isinstance(v, (int, float)):
            return int(v)
        if isinstance(v, str):
            try:
                return int(v, 10)
            except ValueError:
                continue
    return 0


def _extract_latency_us(raw: dict) -> int:  # json.go:130-171, as µs
    for k in LATENCY_KEYS:
        if k not in raw:
            continue
        v = raw[k]
        if isinstance(v, bool):
            continue
        if isinstance(v, (int, float)):
            ns = v * 1e9 if k.endswith("_s") else v * 1e6
            return int(ns) // 1000
        if isinstance(v, str):
            m = _DURATION_RE.match(v.strip())
            if not m:
                continue
            try:
                n = float(m.group(1))
            except ValueError:
                continue
            unit = m.group(2)
            mult = {"s": 1e9, "µs": 1e3, "us": 1e3, "ns": 1.0}.get(unit, 1e6)
            return int(n * mult) // 1000
    return 0


def _is_ecs(raw: dict) -> bool:  # ecs.go:10-26
    if "@timestamp" in raw or "ecs.version" in raw or "log.level" in raw:
        return True
    log = raw.get("log")
    return isinstance(log, dict) and "level" in log


def parse_normalized(line: str, source_name: str, ingest=DEFAULT_INGEST) -> dict:
    """ParseNormalized (parse.go:50-86) with the pinned-ingest_ts
    determinism policy replacing time.Now()."""
    s = line.strip()
    n = {
        "trace_id": "", "span_id": "", "event_ts": ingest, "src_service": "",
        "dst_service": "", "operation": "", "status_code": 0, "latency_us": 0,
        "level": "", "format": "", "source_name": source_name, "raw": {},
    }
    if s == "":
        n["format"] = "empty"
        return n
    raw = None
    if s[0] in "{[":
        try:
            parsed = json.loads(s)
            if isinstance(parsed, dict):
                raw = parsed
        except ValueError:
            raw = None
    if raw is None:
        n["format"] = "plain"
        n["raw"] = {"message": line}
        return n

    n["raw"] = raw
    if "metric" in raw and "value" in raw:  # parse.go:101-124
        n["format"] = "metric_json"
        ts = _extract_timestamp(raw)
        if ts:
            n["event_ts"] = ts
        n["src_service"] = _first_string(raw, SERVICE_KEYS)
        if isinstance(raw.get("metric"), str):
            n["operation"] = raw["metric"]
        return n

    if _is_ecs(raw):  # ecs.go:74-154
        n["format"] = "ecs_json"
        ts = raw.get("@timestamp")
        if isinstance(ts, str):
            for layout in _TS_LAYOUTS[:2]:
                try:
                    t = datetime.strptime(ts, layout)
                    n["event_ts"] = t.astimezone(timezone.utc)
                    break
                except ValueError:
                    continue
        log = raw.get("log")
        if isinstance(log, dict) and isinstance(log.get("level"), str):
            n["level"] = log["level"].lower()
        elif isinstance(raw.get("log.level"), str):
            n["level"] = raw["log.level"].lower()
        svc = raw.get("service")
        if isinstance(svc, dict) and isinstance(svc.get("name"), str):
            n["src_service"] = svc["name"]
        tr = raw.get("trace")
        if isinstance(tr, dict) and isinstance(tr.get("id"), str):
            n["trace_id"] = tr["id"]
        sp = raw.get("span")
        if isinstance(sp, dict) and isinstance(sp.get("id"), str):
            n["span_id"] = sp["id"]
        http = raw.get("http") if isinstance(raw.get("http"), dict) else {}
        resp = http.get("response") if isinstance(http.get("response"), dict) else {}
        if isinstance(resp.get("status_code"), (int, float)):
            n["status_code"] = int(resp["status_code"])
        evt = raw.get("event") if isinstance(raw.get("event"), dict) else {}
        dur = evt.get("duration")
        if isinstance(dur, (int, float)) and dur > 0:
            n["latency_us"] = int(dur) // 1000
        req = http.get("request") if isinstance(http.get("request"), dict) else {}
        method = req.get("method") if isinstance(req.get("method"), str) else ""
        url = raw.get("url") if isinstance(raw.get("url"), dict) else {}
        path = url.get("path") if isinstance(url.get("path"), str) else ""
        if not path:
            path = url.get("full") if isinstance(url.get("full"), str) else ""
        if method and path:
            n["operation"] = method.upper() + " " + path
        elif method:
            n["operation"] = method.upper()
        dst = raw.get("destination") if isinstance(raw.get("destination"), dict) else {}
        if isinstance(dst.get("address"), str):
            n["dst_service"] = dst["address"]
        if not n["dst_service"]:
            srv = raw.get("server") if isinstance(raw.get("server"), dict) else {}
            if isinstance(srv.get("address"), str):
                n["dst_service"] = srv["address"]
        return n

    # generic JSON (json.go:48-83)
    n["format"] = "json"
    ts = _extract_timestamp(raw)
    n["event_ts"] = ts if ts else ingest
    lvl = _first_string(raw, LEVEL_KEYS)
    n["level"] = lvl.lower() if lvl else ""
    n["src_service"] = _first_string(raw, SERVICE_KEYS)
    n["trace_id"] = _first_string(raw, TRACE_KEYS)
    n["span_id"] = _first_string(raw, SPAN_KEYS)
    n["dst_service"] = _first_string(raw, DST_KEYS)
    n["status_code"] = _extract_status(raw)
    n["latency_us"] = _extract_latency_us(raw)
    op = _first_string(raw, ["operation", "event", "rpc.method"])
    if not op:
        method = _first_string(raw, ["method", "http.method"])
        url = _first_string(raw, ["url", "path", "uri", "http.url", "http.path"])
        if method and url:
            op = method + " " + url
        elif method:
            op = method
        elif url:
            op = url
    n["operation"] = op
    return n


def resolve_one(
    host: str,
    lookup_rows: list[tuple[str, str, bool, int]],
    docker_replicas: bool = False,
) -> str | None:
    """One host through the static resolver (reference:
    internal/resolve/static.go, chain.go:11-22): exact matches first,
    then wildcards, each in priority order (``lookup_rows`` is
    ``(pattern, service, is_wildcard, priority)``), plus the optional
    Docker replica stage. The twin of ``enrich.resolve_expr``."""
    lowered = host.lower()
    ordered = sorted(lookup_rows, key=lambda r: r[3])
    for pat, svc, is_wild, _ in ordered:
        if not is_wild and lowered == pat.lower():
            return svc
    for pat, svc, is_wild, _ in ordered:
        if is_wild and fnmatchcase(lowered, pat.lower()):
            return svc
    if docker_replicas and re.search(r"[-_]\d+$", host):
        stripped = re.sub(r"[-_]\d+$", "", host)
        return resolve_one(stripped, lookup_rows) or stripped
    return None


def resolve(n: dict, lookup_rows) -> dict:
    """pipeline.resolve (pipeline.go:178-192) via the static resolver."""
    if n["dst_service"]:
        svc = resolve_one(n["dst_service"], lookup_rows)
        if svc:
            n["dst_service"] = svc
    if not n["src_service"]:
        svc = resolve_one(n["source_name"], lookup_rows)
        n["src_service"] = svc if svc else n["source_name"]
    return n


def enrich_roles(n: dict, role, tool, lookup_rows) -> dict:
    """The (role, tool) roles lookup as a plain dict: ``team``,
    ``cost_tier`` and ``sink_hint`` from the matching row of
    ``lookup_rows`` (role, tool, team, cost_tier, sink_hint), ``""`` on
    a miss, on a NULL role or tool and for a NULL value."""
    table = {(r[0], r[1]): r[2:] for r in lookup_rows}
    hit = table.get((role, tool)) if role is not None and tool is not None else None
    for k, v in zip(("team", "cost_tier", "sink_hint"), hit or (None,) * 3):
        n[k] = v if v is not None else ""
    return n


def route_row(n: dict, tool: str) -> list[str]:
    """The gen.routing_rules() predicates, evaluated Go-style."""
    sinks = []
    if n["level"] == "error" or n["status_code"] >= 500:
        sinks.append("sink_errors")
    if tool != "":
        sinks.append("sink_tools")
    if n["format"] == "metric_json":
        sinks.append("sink_metrics")
    sinks.append("sink_default")
    return sinks


def edge_aggregate(events: list[dict]) -> dict:
    """CallGraph.Feed aggregation (graph.go:63-154) + exact last-100
    nearest-rank p99 (types.go:60-86). ``events`` must be in stable
    turn order."""
    edges: dict = {}
    for ev in events:
        src, dst, op = ev["src_service"], ev["dst_service"], ev["operation"]
        if not src or not dst:
            continue
        key = (src, dst, op)
        e = edges.setdefault(
            key,
            {"call_count": 0, "error_count": 0, "latency_sum_us": 0,
             "first_seen": ev["event_ts"], "last_seen": ev["event_ts"], "window": []},
        )
        e["call_count"] += 1
        e["latency_sum_us"] += ev["latency_us"]
        e["last_seen"] = ev["event_ts"]
        e["first_seen"] = min(e["first_seen"], ev["event_ts"])
        if ev["status_code"] >= 500:  # app.go:140-148
            e["error_count"] += 1
        e["window"].append(ev["latency_us"])
        if len(e["window"]) > 100:
            e["window"] = e["window"][-100:]
    for e in edges.values():
        s = sorted(e["window"])
        e["latency_p99_us"] = s[int((len(s) - 1) * 0.99)] if s else 0
        del e["window"]
    return edges


def zscore_detect(values, window_size, threshold, min_samples, cooldown_s, ts_list=None):
    """ZScoreDetector.Feed replay for one key (detector.go:59-112) with
    event-time cooldown. Returns alert indexes."""
    window: list[float] = []
    in_anomaly = False
    last_alert_ts = None
    alerts = []
    for i, v in enumerate(values):
        window.append(v)
        if len(window) > window_size:
            window = window[-window_size:]
        nvals = len(window)
        if nvals < min_samples:
            continue
        mean = sum(window) / nvals
        m2 = sum((x - mean) ** 2 for x in window)
        sd = math.sqrt(m2 / nvals) if nvals >= 2 else 0.0
        z = 0.0 if sd == 0 else (v - mean) / sd
        if abs(z) <= threshold:
            in_anomaly = False
            continue
        if in_anomaly:
            continue
        ts_i = ts_list[i] if ts_list else DEFAULT_INGEST + timedelta(seconds=i)
        if last_alert_ts is not None and (ts_i - last_alert_ts).total_seconds() < cooldown_s:
            continue
        in_anomaly = True
        last_alert_ts = ts_i
        alerts.append(i)
    return alerts


def edge_error_rate_feed(rows, key_cols, order_cols):
    """anomaly.edge_metric_feed's detector feed (graph.go:149-152) as a
    running loop: per key (NULL compares equal to NULL), rows in
    ascending ``order_cols`` order with NULLs first each emit latency
    in ms and the cumulative ``errors / calls`` as of that row, where a
    NULL status counts as a non-error. ``rows`` are dicts carrying the
    key and order columns plus ``latency_us`` and ``status_code``; the
    result is a list of dicts: key and order columns, ``metric``,
    ``value``."""
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(tuple(r[k] for k in key_cols), []).append(r)
    out = []
    for group in by_key.values():
        group.sort(key=lambda r: [(r[c] is not None, r[c]) for c in order_cols])
        errors = 0
        for calls, r in enumerate(group, start=1):
            status = r["status_code"]
            errors += status is not None and status >= 500
            lat = r["latency_us"]
            base = {c: r[c] for c in (*key_cols, *order_cols)}
            out.append({**base, "metric": "latency",
                        "value": None if lat is None else lat / 1000.0})
            out.append({**base, "metric": "error_rate", "value": errors / calls})
    return out
