"""Row-level transforms (reference: internal/transform/remap.go).

* add_fields  — merge static key/values into the raw map (remap.go:23-25)
* upper/lower — native column functions (remap.go:27-37)
* snake/camel — the reference's custom algorithms (remap.go:49-87) have
  no native Spark equivalent with identical semantics; they run as
  Arrow-vectorized pandas UDFs built from pandas ``.str`` regex
  pipelines (batch-at-a-time, never row-at-a-time Python). The snake
  algorithm's "last written char != '_'" rule is emulated with a
  marker character; the pipelines reproduce Go rune-for-rune on the
  reference's test corpus (remap_test.go:9-49).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

_MARK = "\x00"


def snake_case_series(s: pd.Series) -> pd.Series:
    """Vectorized port of toSnakeCase (reference: remap.go:49-68)."""
    x = s.str.strip()
    # runs of space/dash emit a single boundary marker
    x = x.str.replace(r"[\s\-]+", _MARK, regex=True)
    # boundary before an uppercase char unless preceded by '_' or a marker
    x = x.str.replace(r"(?<=[^_\x00])(?=[A-Z])", _MARK, regex=True)
    # a marker directly after '_' emits nothing (last-written-char rule)
    x = x.str.replace(r"(?<=_)\x00+", "", regex=True)
    # leading markers emit nothing (i==0 writes no separator)
    x = x.str.replace(r"^\x00+", "", regex=True)
    x = x.str.replace(_MARK, "_", regex=False)
    return x.str.lower()


def camel_case_series(s: pd.Series) -> pd.Series:
    """Vectorized port of toCamelCase (reference: remap.go:70-87)."""
    lowered = s.str.lower()
    stripped = lowered.str.replace(r"^[ _]+|[ _]+$", "", regex=True)
    joined = stripped.str.replace(
        r"[ _]+(.)", lambda m: m.group(1).upper(), regex=True
    )
    # zero words → return the lowered input unchanged (remap.go:76-78)
    return joined.where(stripped != "", lowered)


@pandas_udf(T.StringType())
def snake_case_udf(s: pd.Series) -> pd.Series:
    return snake_case_series(s)


@pandas_udf(T.StringType())
def camel_case_udf(s: pd.Series) -> pd.Series:
    return camel_case_series(s)


def apply_case(col: Column, case: str) -> Column:
    """Case transform dispatch (reference: remap.go:27-37)."""
    if case == "upper":
        return F.upper(col)
    if case == "lower":
        return F.lower(col)
    if case == "snake":
        return snake_case_udf(col)
    if case == "camel":
        return camel_case_udf(col)
    return col


def add_fields_expr(raw: Column, fields: dict[str, str]) -> Column:
    """Column form of ``add_fields`` — the ONE definition of the merge
    rule, shared with config.apply_transforms' conditional gate.

    Go map assignment overwrites, so a static field wins over an
    existing raw key. The session keeps mapKeyDedupPolicy=EXCEPTION, so
    the colliding keys must be filtered out of the existing map before
    map_concat (a raw concat would abort the job on the first document
    that already carries one of the static keys). A NULL raw map seeds
    from empty (map_filter/map_concat otherwise NULL-propagate and the
    static fields would silently vanish on unparsed rows)."""
    static = F.create_map(*[x for k, v in fields.items() for x in (F.lit(k), F.lit(v))])
    keys = list(fields)
    seeded = F.coalesce(raw, F.create_map().cast("map<string,string>"))
    cleaned = F.map_filter(seeded, lambda k, _v: ~k.isin(keys))
    return F.map_concat(cleaned, static)


def add_fields(df: DataFrame, fields: dict[str, str], raw_col: str = "raw") -> DataFrame:
    """Merge static fields into the raw map (reference: remap.go:23-25).
    See ``add_fields_expr`` for the collision/NULL semantics."""
    if not fields:
        return df
    return df.withColumn(raw_col, add_fields_expr(F.col(raw_col), fields))


def remap(
    df: DataFrame,
    add: dict[str, str] | None = None,
    case: str = "",
    message_col: str = "text",
    raw_col: str = "raw",
) -> DataFrame:
    """Full RemapTransform (reference: remap.go:16-47)."""
    out = add_fields(df, add or {}, raw_col=raw_col) if add else df
    if case:
        out = out.withColumn(message_col, apply_case(F.col(message_col), case))
    return out
