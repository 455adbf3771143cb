"""Sink helpers.

* ``json_lines`` — the reference's stdout sink (reference:
  internal/sinks/stdout.go:14-27): each event JSON-encoded; in Spark a
  projection to one JSON string column (pipe to console/`.show()`/any
  text sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def json_lines(df: DataFrame, pretty: bool = False) -> DataFrame:
    """One JSON string per event (K1). ``pretty`` maps to the
    reference's indent option via to_json's pretty flag."""
    opts = {"pretty": "true"} if pretty else {}
    return df.select(F.to_json(F.struct(*df.columns), opts).alias("json"))
