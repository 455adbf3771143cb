"""Temporal joins (temporal.py): as-of and range joins must match a
pure-Python reference on adversarial inputs (NULL keys/timestamps,
equal-ts ties, NULL payload fields, empty intervals, boundary hits),
and every scale form (blocked as-of, bucketed range) must be exactly
equivalent to its simple form."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from logshipper_spark import temporal

UTC_BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(minutes: float | None):
    if minutes is None:
        return None
    return UTC_BASE + dt.timedelta(minutes=minutes)


PROBE_SCHEMA = "pid long, key string, ts timestamp_ntz"
BUILD_SCHEMA = "key string, ts timestamp_ntz, ver long, note string, seq long"

# probes: boundary-equal ts, NULL ts, NULL key, key with no builds
PROBES = [
    (1, "a", _ts(5)),
    (2, "a", _ts(10)),   # equal to a build ts — inclusive
    (3, "a", _ts(240)),
    (4, "b", _ts(1)),    # before any b build
    (5, "b", _ts(50)),
    (6, None, _ts(30)),  # NULL key matches NULL-key builds (null-safe)
    (7, "a", None),      # NULL ts matches nothing
    (8, "c", _ts(99)),   # key with no builds at all
]

# builds: NULL-ts row must be ignored; row 2 has a NULL payload FIELD
# (the struct lane must not mix it with row 1's note); equal-ts pair on
# key b resolved by the seq tiebreak (largest wins)
BUILDS = [
    ("a", _ts(0), 1, "first", 10),
    ("a", _ts(10), 2, None, 11),
    ("a", _ts(200), 3, "third", 12),
    ("a", None, 99, "ghost", 13),
    ("b", _ts(40), 4, "b-lo", 20),
    ("b", _ts(40), 5, "b-hi", 21),
    (None, _ts(20), 6, "nullkey", 30),
]


def _expected_asof(tolerance_s=None):
    out = {}
    for pid, key, pts in PROBES:
        best = None
        if pts is not None:
            for bkey, bts, ver, note, seq in BUILDS:
                if bts is None or bkey != key or bts > pts:
                    continue
                if best is None or (bts, seq) > (best[0], best[4]):
                    best = (bts, ver, note, None, seq)
        if best is not None and tolerance_s is not None:
            if (pts - best[0]).total_seconds() > tolerance_s:
                best = None
        out[pid] = (best[0], best[1], best[2]) if best else (None, None, None)
    return out


def _frames(spark):
    probe = spark.createDataFrame(PROBES, PROBE_SCHEMA)
    build = spark.createDataFrame(BUILDS, BUILD_SCHEMA)
    return probe, build


def _check_asof(df, tolerance_s=None):
    expected = _expected_asof(tolerance_s)
    rows = {r["pid"]: r for r in df.collect()}
    assert set(rows) == set(expected)
    for pid, (ats, ver, note) in expected.items():
        r = rows[pid]
        assert (r["asof_ts"], r["ver"], r["note"]) == (ats, ver, note), pid


def test_asof_join_matches_reference(spark):
    probe, build = _frames(spark)
    got = temporal.asof_join(
        probe, build, ["key"], payloads=["ver", "note"], tiebreak="seq"
    )
    assert got.columns == ["pid", "key", "ts", "asof_ts", "ver", "note"]
    _check_asof(got)


def test_asof_join_tolerance(spark):
    probe, build = _frames(spark)
    got = temporal.asof_join(
        probe, build, ["key"], payloads=["ver", "note"], tiebreak="seq",
        tolerance_s=15 * 60,
    )
    _check_asof(got, tolerance_s=15 * 60)


def test_asof_join_blocked_equivalent(spark):
    probe, build = _frames(spark)
    for block_s in (60, 3600, 86400):  # many blocks … one block
        got = temporal.asof_join_blocked(
            probe, build, ["key"], payloads=["ver", "note"], tiebreak="seq",
            block_s=block_s,
        )
        _check_asof(got)


def test_asof_join_blocked_hot_key(spark):
    # one hot key, 2k probes across many 1-min blocks; builds land in
    # scattered blocks so most probe blocks resolve via the carry —
    # including runs of consecutive probe-only (gap) blocks
    probe = spark.range(2000).select(
        F.col("id").alias("pid"),
        F.lit("hot").alias("key"),
        F.timestamp_seconds(1704067200 + F.col("id") * 7).cast("timestamp_ntz").alias("ts"),
    )
    build = spark.range(13).select(
        F.lit("hot").alias("key"),
        F.timestamp_seconds(1704067200 + F.col("id") * 997).cast("timestamp_ntz").alias("ts"),
        (F.col("id") * 100).alias("ver"),
    )
    plain = temporal.asof_join(probe, build, ["key"], payloads=["ver"])
    blocked = temporal.asof_join_blocked(
        probe, build, ["key"], payloads=["ver"], block_s=60
    )
    assert blocked.exceptAll(plain).count() == 0
    assert blocked.count() == plain.count() == 2000
    # sanity: matches actually happen and evolve
    assert blocked.select("ver").distinct().count() == 13


def test_asof_join_payload_collision_raises(spark):
    probe, build = _frames(spark)
    try:
        temporal.asof_join(
            probe.withColumn("ver", F.lit(0)), build, ["key"], payloads=["ver"]
        )
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


# ── range join ──

FACT_SCHEMA = "fid long, key string, ts timestamp_ntz"
IV_SCHEMA = "iid long, key string, start_ts timestamp_ntz, end_ts timestamp_ntz"

FACTS = [
    (1, "a", _ts(0)),     # == start: included
    (2, "a", _ts(30)),    # == end: excluded (half-open)
    (3, "a", _ts(29.5)),
    (4, "a", _ts(100)),   # inside the long interval only
    (5, "b", _ts(10)),    # wrong key for interval 1
    (6, "a", None),       # NULL ts: no match
    (7, "a", _ts(500)),   # covered by overlapping intervals 3 and 4
]

INTERVALS = [
    (1, "a", _ts(0), _ts(30)),
    (2, "a", _ts(90), _ts(400)),    # spans many 1-min buckets
    (3, "a", _ts(480), _ts(600)),
    (4, "a", _ts(499), _ts(501)),
    (5, "a", _ts(50), _ts(50)),     # empty (end == start): matches nothing
    (6, "a", _ts(70), _ts(60)),     # inverted: matches nothing
    (7, "a", None, _ts(900)),       # NULL bound: matches nothing
    (8, "b", _ts(0), _ts(2000)),
]


def _expected_range(end_exclusive=True):
    out = set()
    for fid, fkey, fts in FACTS:
        if fts is None:
            continue
        for iid, ikey, s, e in INTERVALS:
            if s is None or e is None or ikey != fkey:
                continue
            hit = s <= fts < e if end_exclusive else s <= fts <= e
            if hit:
                out.add((fid, iid))
    return out


def _range_pairs(df):
    return {(r["fid"], r["iid"]) for r in df.select("fid", "iid").collect()}


def test_range_join_broadcast_matches_reference(spark):
    facts = spark.createDataFrame(FACTS, FACT_SCHEMA)
    iv = spark.createDataFrame(INTERVALS, IV_SCHEMA)
    got = temporal.range_join(facts, iv, ["key"])
    assert _range_pairs(got) == _expected_range()
    # end-inclusive flips the == end fact in
    got_incl = temporal.range_join(facts, iv, ["key"], end_exclusive=False)
    assert _range_pairs(got_incl) == _expected_range(end_exclusive=False)


def test_range_join_bucketed_equivalent(spark):
    facts = spark.createDataFrame(FACTS, FACT_SCHEMA)
    iv = spark.createDataFrame(INTERVALS, IV_SCHEMA)
    for width in (60, 3600, 86400):
        got = temporal.range_join(facts, iv, ["key"], bucket_width_s=width)
        assert _range_pairs(got) == _expected_range(), width
        assert "_rb" not in got.columns


def test_range_join_column_collision_raises(spark):
    facts = spark.createDataFrame(FACTS, FACT_SCHEMA)
    iv = spark.createDataFrame(INTERVALS, IV_SCHEMA)
    try:
        temporal.range_join(facts.withColumn("iid", F.lit(0)), iv, ["key"])
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_reserved_internal_names_raise(spark):
    probe, build = _frames(spark)
    for bad in ("_pay", "_ck", "_rb"):
        try:
            temporal.asof_join(
                probe.withColumn(bad, F.lit(0)), build, ["key"], payloads=["ver"]
            )
            raise AssertionError(f"expected ValueError for {bad}")
        except ValueError:
            pass
    facts = spark.createDataFrame(FACTS, FACT_SCHEMA)
    iv = spark.createDataFrame(INTERVALS, IV_SCHEMA)
    try:
        temporal.range_join(facts.withColumn("_rb", F.lit(0)), iv, ["key"])
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_scd2_intervals(spark):
    """Run-length collapse, A->B->A flapping, NULL-valued runs
    (null-safe compare), late-appearing keys, and half-open chaining."""
    from logshipper_spark import temporal

    snaps = spark.createDataFrame(
        [
            # k1 flaps: A,A,B,A -> three runs
            ("k1", "A", 0), ("k1", "A", 1), ("k1", "B", 2), ("k1", "A", 3),
            # k2: NULL then NULL then C -> NULL run collapses null-safely
            ("k2", None, 0), ("k2", None, 1), ("k2", "C", 2),
            # k3 appears late, single snapshot -> one open run
            ("k3", "D", 5),
        ],
        "k string, v string, snapshot_ts long",
    )
    got = {
        (r["k"], r["valid_from"]): (r["v"], r["valid_to"])
        for r in temporal.scd2_intervals(
            snaps, key_cols=["k"], value_cols=["v"]
        ).collect()
    }
    assert got == {
        ("k1", 0): ("A", 2),
        ("k1", 2): ("B", 3),
        ("k1", 3): ("A", None),
        ("k2", 0): (None, 2),
        ("k2", 2): ("C", None),
        ("k3", 5): ("D", None),
    }
    # every key's runs chain half-open: valid_to == next valid_from
