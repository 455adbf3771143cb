from __future__ import annotations

import pytest

from logshipper_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="logshipper-tests", shuffle_partitions=4)
    yield s
    s.stop()


def plan_string(df) -> str:
    """``df``'s executed physical plan as Spark prints it."""
    return df._jdf.queryExecution().executedPlan().toString()


def rows_as_dicts(df):
    return [r.asDict(recursive=True) for r in df.collect()]
