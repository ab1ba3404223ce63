"""Driver-local rows enter as Arrow local relations
(`sources.local.local_rows`): they plan as a `LocalTableScan`, start no
Python worker, and hold the same values as `spark.createDataFrame(list)`,
the Python-RDD path they replace."""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import pytest

from citegraph_spark.operators.graph import HopPlotRow, hop_plot_df
from citegraph_spark.sources.local import local_rows

SCHEMA = (
    "n long, i int, x double, s string, arr array<int>, amt decimal(12,2), "
    "day date, ts timestamp"
)
ROWS = [
    (1, 7, float("nan"), "a", [1, 2, None], Decimal("12.50"), dt.date(1998, 3, 1),
     dt.datetime(2001, 2, 3, 4, 5, 6, 789)),
    (2**40, -3, 1.5, None, [], Decimal("-0.01"), None,
     dt.datetime(1999, 12, 31, 23, 59, 59, tzinfo=dt.timezone.utc)),
    (None, None, None, "", None, None, dt.date(1970, 1, 1), None),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _canon(rows):
    """Rows as comparable tuples; NaN (not equal to itself) as a tag."""
    return [
        tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in rows
    ]


def test_rows_plan_as_local_table_scan_without_python(spark):
    df = local_rows(spark, ROWS, SCHEMA)
    assert "LocalTableScan" in _plan(df)
    assert "ExistingRDD" not in _plan(df)
    assert "PythonRDD" not in _lineage(df)
    # the path it replaces is a Python RDD
    assert "PythonRDD" in _lineage(spark.createDataFrame(ROWS, SCHEMA))


def test_rows_round_trip_like_the_list_path(spark):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    old = spark.createDataFrame(ROWS, SCHEMA)
    new = local_rows(spark, ROWS, SCHEMA)
    assert new.schema == old.schema
    got, want = new.collect(), old.collect()
    assert _canon(got) == _canon(want)
    assert math.isnan(got[0]["x"]) and got[2]["x"] is None  # NaN is not null
    assert got[0]["arr"] == [1, 2, None] and got[1]["arr"] == []
    assert got[0]["amt"] == Decimal("12.50")
    # a collected frame copies exactly (naive datetimes are local time)
    assert _canon(local_rows(spark, got, new.schema).collect()) == _canon(got)


def test_empty_rows_keep_the_schema(spark):
    old = spark.createDataFrame([], SCHEMA)
    new = local_rows(spark, [], SCHEMA)
    assert new.schema == old.schema
    assert new.collect() == [] and new.count() == 0


def test_bad_rows_are_rejected(spark):
    from citegraph_spark import schemas

    with pytest.raises(ValueError, match="not nullable"):
        local_rows(spark, [(1, None)], schemas.CITATIONS)
    with pytest.raises(ValueError, match="has 3 fields"):
        local_rows(spark, [(1, 2, 3)], schemas.CITATIONS)


def test_hop_plot_frame_runs_no_python(spark):
    rows = [HopPlotRow(1, 10, 0.5), HopPlotRow(2, 18, 0.9), HopPlotRow(3, 20, 1.0)]
    df = hop_plot_df(spark, rows)
    assert "LocalTableScan" in _plan(df)
    assert "PythonRDD" not in _lineage(df)
    assert [tuple(r) for r in df.collect()] == [(1, 10, 0.5), (2, 18, 0.9), (3, 20, 1.0)]
