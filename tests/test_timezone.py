"""Timezone conversion history (FIXTURES.md §4): Mexico City abolished
DST after October 2022, so UTC→CDMX offset is -5 in summer 2022 but -6
from 2023 on. D1's from_utc_timestamp must apply the historical rules,
and DuckDB must agree (oracle-surface safety)."""

from __future__ import annotations

import datetime as dt

import duckdb
from pyspark.sql import functions as F

CASES = [
    # (utc instant, expected CDMX wall clock)
    (dt.datetime(2022, 7, 1, 12, 0), dt.datetime(2022, 7, 1, 7, 0)),    # DST, -5
    (dt.datetime(2022, 12, 1, 12, 0), dt.datetime(2022, 12, 1, 6, 0)),  # winter, -6
    (dt.datetime(2023, 7, 1, 12, 0), dt.datetime(2023, 7, 1, 6, 0)),    # post-abolition, -6
    (dt.datetime(2025, 6, 2, 5, 0), dt.datetime(2025, 6, 1, 23, 0)),    # midnight crossing
]


def test_cdmx_conversion_respects_dst_history(spark):
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(CASES)],
                               "i long, utc timestamp")
    out = {r.i: r.cdmx for r in
           df.select("i", F.from_utc_timestamp("utc", "America/Mexico_City")
                     .alias("cdmx")).collect()}
    for i, (_, expected) in enumerate(CASES):
        assert out[i] == expected, (i, out[i], expected)


def test_duckdb_agrees_on_dst_history():
    con = duckdb.connect()
    for utc, expected in CASES:
        got = con.execute(
            "SELECT CAST(timezone('America/Mexico_City', "
            f"TIMESTAMP '{utc}' AT TIME ZONE 'UTC') AS TIMESTAMP)").fetchone()[0]
        assert got == expected, (utc, got, expected)


def test_day_diff_floors_negative_like_pandas(spark, duck):
    """(ts1-ts2).dt.days floors toward -inf: -5h → -1 day, not 0 — and
    the Spark and DuckDB twins agree on negatives (ADVICE r1)."""
    import datetime as dt
    from data_pipeline_foundations_spark.functions.datetime_ops import (
        oracle_timestamp_day_diff, timestamp_day_diff,
    )
    rows = [(dt.datetime(2025, 1, 1, 0), dt.datetime(2025, 1, 1, 5)),   # -5h
            (dt.datetime(2025, 1, 3, 1), dt.datetime(2025, 1, 1, 0)),   # +2d1h
            (dt.datetime(2025, 1, 1, 0), dt.datetime(2025, 1, 2, 0))]   # -1d
    df = spark.createDataFrame(rows, "a timestamp, b timestamp")
    got = [r.d for r in df.select(timestamp_day_diff("a", "b").alias("d")).collect()]
    assert got == [-1, 2, -1]
    expr = oracle_timestamp_day_diff("a", "b")
    oracle = [r[0] for r in duck.execute(
        f"SELECT {expr} FROM (VALUES "
        "(TIMESTAMP '2025-01-01 00:00:00', TIMESTAMP '2025-01-01 05:00:00'),"
        "(TIMESTAMP '2025-01-03 01:00:00', TIMESTAMP '2025-01-01 00:00:00'),"
        "(TIMESTAMP '2025-01-01 00:00:00', TIMESTAMP '2025-01-02 00:00:00')) t(a, b)"
    ).fetchall()]
    assert oracle == got


def test_day_arithmetic_ignores_session_zone_dst(spark):
    """Day arithmetic on TIMESTAMP_NTZ is wall-clock arithmetic in every
    session zone. Across Mexico City's last DST start (2022-04-03):
    2 days 30 minutes is a day diff of 2, and the 30-hour grace anchor
    of 2022-04-02 12:00 is 2022-04-03 06:00, under UTC and under
    America/Mexico_City. Read in the session zone instead, the pair is
    an hour shorter there (floors to 1) and the anchor lands at 07:00
    local time."""
    from data_pipeline_foundations_spark.functions.datetime_ops import (
        day_offset_threshold, timestamp_day_diff,
    )
    key = "spark.sql.session.timeZone"
    before = spark.conf.get(key)
    pair = spark.sql("SELECT TIMESTAMP_NTZ '2022-04-04 00:30:00' AS a, "
                     "TIMESTAMP_NTZ '2022-04-02 00:00:00' AS b, "
                     "TIMESTAMP_NTZ '2022-04-02 12:00:00' AS due")
    try:
        for zone in ("UTC", "America/Mexico_City"):
            spark.conf.set(key, zone)
            got = pair.select(timestamp_day_diff("a", "b"),
                              day_offset_threshold("due")).first()
            assert tuple(got) == (2, dt.datetime(2022, 4, 3, 6)), zone
    finally:
        spark.conf.set(key, before)
