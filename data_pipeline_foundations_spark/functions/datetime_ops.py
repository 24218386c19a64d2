"""Date/time/timezone column expressions (SURVEY.md §2.3).

The reference keeps UTC-naive timestamps plus derived CDMX local copies
(D1/D2), truncates to month (D4), anchors a 30-hour grace threshold (D5),
computes day-diffs by timestamp subtraction truncated toward zero (D6), and
formats dates for reports (D8). All of that is expressible as built-in
column functions — nothing leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CDMX = "America/Mexico_City"


def to_cdmx(col: Column | str, tz: str = CDMX) -> Column:
    """UTC-naive timestamp → CDMX wall-clock naive timestamp (D1).

    Spark: from_utc_timestamp. DuckDB oracle equivalent:
    ``CAST(col AT TIME ZONE 'UTC' AT TIME ZONE 'America/Mexico_City'
    AS TIMESTAMP)`` — verified bit-equal in tests/test_oracle_parity.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.from_utc_timestamp(c, tz)


def oracle_to_cdmx(sql_col: str, tz: str = CDMX) -> str:
    return f"CAST({sql_col} AT TIME ZONE 'UTC' AT TIME ZONE '{tz}' AS TIMESTAMP)"


def month_trunc(col: Column | str) -> Column:
    """First-of-month date (D4). Oracle: CAST(date_trunc('month', c) AS DATE)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_trunc("month", c).cast("date")


def day_offset_threshold(col: Column | str, hours: int = 30) -> Column:
    """Midnight-of-day + N hours — the reference's 30-hour grace anchor (D5).

    Wall-clock arithmetic on TIMESTAMP_NTZ, free of the session zone:
    ``date_trunc`` would read the value in the session zone, and 30 hours
    across a DST change would land an hour off the wall clock.
    Oracle: date_trunc('day', c) + INTERVAL '30 hours'.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast("date").cast("timestamp_ntz")
            + F.expr(f"INTERVAL {hours} HOURS"))


def micros_between(a: Column | str, b: Column | str) -> Column:
    """Exact integer microseconds a−b of the wall clock.

    On TIMESTAMP_NTZ (how Parquet naive timestamps arrive in Spark 4)
    and DATE this is free of the session zone. ``timestampdiff`` measures
    between local date-times, so unlike ``unix_micros`` of an LTZ cast a
    DST change between the two values does not shift the difference by
    an hour. (An NTZ value inside a spring-forward gap hour is the one
    exception: the implicit LTZ cast moves it an hour on.) TIMESTAMP_LTZ
    values are read as the session zone's wall clock. Oracle:
    ``epoch_us(a) - epoch_us(b)``.
    """
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.timestamp_diff("MICROSECOND", cb, ca)


def timestamp_day_diff(a: Column | str, b: Column | str) -> Column:
    """Whole days a−b by timestamp subtraction, FLOORED — exactly pandas'
    ``(ts1 - ts2).dt.days`` (D6), which floors toward -inf, so a −5 h
    difference is −1 day, not 0 (ADVICE r1: the previous trunc-toward-
    zero form differed on negative diffs). NOT calendar datediff.
    Computed on exact integer microseconds (:func:`micros_between`),
    then one double division + floor — the identical IEEE op sequence
    both engines run, so results are bit-stable in any session zone.
    """
    return F.floor(micros_between(a, b) / F.lit(86400000000.0))


def oracle_timestamp_day_diff(a: str, b: str) -> str:
    return (f"CAST(FLOOR((epoch_us({a}) - epoch_us({b})) / 86400000000.0) AS BIGINT)")


def weekend_adjust(col: Column | str) -> Column:
    """Quincena weekend shift (D10): Sat→Fri (−1 day), Sun→Fri (−2 days).

    dayofweek(): 1=Sunday … 7=Saturday in both Spark and DuckDB ISO? —
    DuckDB ``dayofweek`` is 0=Sunday..6=Saturday, so the oracle uses its own
    numbering; see oracle_weekend_adjust.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(F.dayofweek(c) == 7, F.date_sub(c, 1))
         .when(F.dayofweek(c) == 1, F.date_sub(c, 2))
         .otherwise(c)
    )


def oracle_weekend_adjust(sql_col: str) -> str:
    return (f"CASE WHEN dayofweek({sql_col}) = 6 THEN {sql_col} - INTERVAL 1 DAY "
            f"WHEN dayofweek({sql_col}) = 0 THEN {sql_col} - INTERVAL 2 DAY "
            f"ELSE {sql_col} END")
