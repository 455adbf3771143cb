"""Cross-engine rounding discipline (round 5): the floor-based forms
must agree BIT-FOR-BIT between Spark, DuckDB, numpy, and plain Python
on adversarial values engineered to land at or within 1 ulp of the
.5 micro-grid boundaries — the exact class where Spark's BigDecimal
HALF_UP `round` and DuckDB's scaled-double `round` can diverge (the
round-4 PQ-gate failure). These tests pin the STRUCTURAL guarantee the
oracle contract now rests on."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from logshipper_spark.datapipe.similarity import floor_round, nearest_centroid_struct_col


def _adversarial_values() -> list[float]:
    """Doubles at/near k + 0.5 micro-grid halves, including exact
    representable halves, ±1-ulp offsets, negatives, zeros, and a
    deterministic pseudo-random spread."""
    out = [0.0, -0.0, 1.0, -1.0, 0.9999995, -0.9999995]
    for k in range(0, 2_000, 7):
        x = (k + 0.5) / 1e6
        out.extend(
            [
                x,
                math.nextafter(x, 0.0),
                math.nextafter(x, 1.0),
                -x,
                math.nextafter(-x, 0.0),
            ]
        )
    for i in range(500):
        h = (i * 2654435761) % (1 << 30)
        out.append((h / (1 << 30)) * 2.0 - 1.0)
    return out


def test_floor_round_spark_duckdb_python_parity(spark):
    vals = _adversarial_values()
    sdf = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, x double")
    got_spark = {
        r["i"]: (r["r6"], r["r4"])
        for r in sdf.select(
            "i",
            floor_round(F.col("x"), 6).alias("r6"),
            floor_round(F.col("x"), 4).alias("r4"),
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame({"i": range(len(vals)), "x": vals}))
    got_duck = {
        i: (r6, r4)
        for i, r6, r4 in con.sql(
            "SELECT i, (floor(x * 1000000.0 + 0.5) / 1000000.0),"
            " (floor(x * 10000.0 + 0.5) / 10000.0) FROM t"
        ).fetchall()
    }
    for i, v in enumerate(vals):
        py = (
            math.floor(v * 1_000_000.0 + 0.5) / 1_000_000.0,
            math.floor(v * 10_000.0 + 0.5) / 10_000.0,
        )
        # repr-exact float equality: any representation drift is a bug
        assert repr(got_spark[i]) == repr(got_duck[i]) == repr(py), (
            i,
            v.hex(),
            got_spark[i],
            got_duck[i],
            py,
        )


def test_sq_l2_micros_spark_duckdb_python_numpy_parity(spark):
    """Squared-L2 integer micros over vectors whose per-term squared
    differences land near the .5 micro boundary: (a-b)² = (k+0.5)/1e6
    up to double rounding."""
    dim = 8
    vecs, cents = [], []
    for i in range(200):
        base = [((i * 37 + j * 13) % 200) / 50.0 - 2.0 for j in range(dim)]
        # deltas whose squares sit on/near half-micro boundaries
        delta = [
            math.sqrt(((i + j * 11) % 1500 + 0.5) / 1e6) for j in range(dim)
        ]
        vecs.append([b + d for b, d in zip(base, delta)])
        cents.append(base)
    sdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "i long, v array<double>"
    )
    # Spark leg: the nearest-struct kernel's d against one centroid
    got_spark = {
        r["i"]: r["d"]
        for r in sdf.select(
            "i", nearest_centroid_struct_col("v", [cents[0]])["d"].alias("d")
        ).collect()
    }
    # DuckDB leg: the oracle expression verbatim
    import sys, os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from __spark_entry__ import _sql_sq_l2_micros

    con = duckdb.connect()
    con.register(
        "t",
        __import__("pandas").DataFrame({"i": range(len(vecs)), "v": vecs}),
    )
    cent_sql = "[" + ",".join(repr(x) for x in cents[0]) + "]::DOUBLE[]"
    expr = _sql_sq_l2_micros("t.v[i]", f"({cent_sql})[i]", dim)
    got_duck = dict(con.sql(f"SELECT t.i, {expr} FROM t").fetchall())
    # numpy leg: the Arrow kernels' arithmetic
    C0 = np.asarray(cents[0])
    for i, v in enumerate(vecs):
        py = sum(
            int(math.floor((a - b) * (a - b) * 1_000_000.0 + 0.5))
            for a, b in zip(v, cents[0])
        )
        d = np.asarray(v) - C0
        d *= d
        d *= 1e6
        d += 0.5
        np.floor(d, out=d)
        np_sum = int(d.sum())
        assert got_spark[i] == got_duck[i] == py == np_sum, (
            i,
            got_spark[i],
            got_duck[i],
            py,
            np_sum,
        )


def test_legacy_round_forms_do_diverge():
    """Documents WHY the floor discipline exists: plain-Python
    banker's round and half-up decimal rounding disagree with the
    scaled-double floor form on exact grid halves — so 'just round on
    both sides' was never a cross-engine guarantee."""
    x = (3 + 0.5) / 1e6  # exactly representable close to 3.5 micros
    assert math.floor(x * 1e6 + 0.5) == 4  # half rounds UP structurally
    assert round(x * 1e6) == 4 or round(x * 1e6) == 3  # banker's: value-dependent
    diverged = False
    for k in range(0, 5000):
        x = (k + 0.5) / 1e6
        if round(x, 6) != math.floor(x * 1e6 + 0.5) / 1e6:
            diverged = True
            break
    assert diverged, "expected at least one half-grid divergence"
