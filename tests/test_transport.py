"""The shared result path (``server/transport.py``): the row cap and the
Arrow-to-rows conversion every serving surface renders from."""

from __future__ import annotations

import os
import time

import pytest

from sidemantic_spark.server.transport import fetch, json_result, to_rows

# DST fold (01:30 twice in Los Angeles), DST gap, pre-epoch, nested
# timestamps, a multi-entry map, binary, intervals, duplicate names
VALUES_SQL = """SELECT
  TIMESTAMP'2024-11-03 08:30:00' AS fold_first,
  TIMESTAMP'2024-11-03 09:30:00.25' AS fold_second,
  TIMESTAMP'2024-03-10 10:30:00' AS gap, TIMESTAMP'1900-01-01 00:00:00' AS old,
  TIMESTAMP_NTZ'2024-11-03 01:30:00' AS ntz, CAST(1E-18 AS DECIMAL(38,18)) AS tiny,
  named_struct('t', TIMESTAMP'2024-07-01 12:00:00', 'b', X'00FF') AS st,
  map('k', 1, 'j', 2, 'x', 3) AS mp,
  array(map(1, named_struct('z', DATE'2021-05-06'))) AS deep,
  INTERVAL 3 HOURS AS iv, TIME'01:02:03' AS tm, NULL AS nul,
  CAST(0.1 AS FLOAT) AS f, 1 AS a, 2 AS a"""


@pytest.fixture()
def local_tz_los_angeles():
    """Python renders tz-aware timestamps in the process's local zone;
    run under one with DST so that conversion is exercised."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


def test_to_rows_yields_collect_values(spark, local_tz_los_angeles):
    df = spark.sql(VALUES_SQL)
    table, truncated = fetch(df)
    assert truncated is False and table.column_names == df.columns
    assert to_rows(table, df.schema) == [tuple(r) for r in df.collect()]


def test_variant_renders_as_collect_does(spark):
    df = spark.sql("""SELECT parse_json('{"a": [1, 2]}') AS v""")
    (got,), (want,) = to_rows(fetch(df)[0], df.schema), df.collect()
    assert str(got[0]) == str(want[0]) == '{"a":[1,2]}'


def test_user_defined_types_come_back_as_objects(spark):
    from pyspark.ml.linalg import Vectors

    df = spark.createDataFrame([(1, Vectors.dense([1.0, 2.0]))], ["k", "v"])
    assert to_rows(fetch(df)[0], df.schema) == [(1, Vectors.dense([1.0, 2.0]))]


def test_fetch_cap_reports_truncation_exactly(spark):
    df = spark.range(5).orderBy("id")
    table, truncated = fetch(df, 5)
    assert (table.num_rows, truncated) == (5, False)
    table, truncated = fetch(df, 4)
    assert (table.num_rows, truncated) == (4, True)
    assert table.column("id").to_pylist() == [0, 1, 2, 3]
    table, truncated = fetch(df.limit(0), 3)
    assert (table.num_rows, truncated) == (0, False)
    assert to_rows(table, df.schema) == [] and json_result(df.limit(0), 3) == {
        "rows": [], "truncated": False}


def test_json_result_renders_like_the_http_body(spark):
    df = spark.sql(
        "SELECT CAST(2.50 AS DECIMAL(5,2)) AS d, DATE'2024-01-02' AS dt, "
        "X'0A' AS b, 1 AS k, 2 AS k"
    )
    assert json_result(df, 1) == {
        "rows": [{"d": "2.50", "dt": "2024-01-02", "b": "0a", "k": 2}],
        "truncated": False,
    }
