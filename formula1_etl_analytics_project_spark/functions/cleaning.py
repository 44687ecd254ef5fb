"""Scalar expression library: the reference's per-row cleaning functions
re-expressed as native Column expressions (SURVEY.md section 2.8, C1-C9).

The reference applies plain Python functions row-at-a-time
(``Series.apply`` / ``for row in data`` loops). Every one of them maps
onto JVM-side expressions that stay inside whole-stage codegen, with no
Python UDF.

All parsers are null-safe the same way the originals are: the '\\N'
sentinel is already a real NULL by the time these run (reader option),
and malformed values come back NULL instead of raising - matching the
reference's try/except-skip semantics (F6).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def parse_time(col: Column | str) -> Column:
    """C1 (reference CompleteETL.py:317-324): strict ``H:MM:SS`` parse,
    NULL on failure, formatted back to ``HH:mm:ss``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(F.try_to_timestamp(c, F.lit("H:mm:ss")), "HH:mm:ss")


def parse_date(col: Column | str) -> Column:
    """C2 (reference CompleteETL.py:327-334): permissive date parse,
    NULL on failure (the reference's ``errors='coerce'``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(c, F.lit("yyyy-MM-dd")).cast("date")


def _hms_to_fractional_seconds(c: Column) -> Column:
    """'H:MM:SS(.fff)' -> seconds since midnight as double."""
    parts = F.split(c, ":")
    return (
        parts.getItem(0).cast("double") * 3600
        + parts.getItem(1).cast("double") * 60
        + parts.getItem(2).cast("double")
    )


def parse_race_time_seconds(col: Column | str) -> Column:
    """C3 (reference time_etl.py:11-27): race finishing times.

    Two accepted shapes: absolute ``H:MM:SS(.fff)`` clock strings, and
    the ``'+ss.mmm'`` *gap* form (seconds behind the winner) which the
    reference adds onto a 00:00:00 baseline. Returns fractional seconds
    (double); NULL for anything else. Native expressions only - this is
    the semantics C3 needs, with formatting split out so arithmetic
    stays in a numeric type (MSSQL TIME has no Spark equivalent,
    SURVEY.md section 1.3).
    """
    c = F.col(col) if isinstance(col, str) else col
    gap = c.startswith("+")
    gap_seconds = F.regexp_replace(c, r"^\+", "").try_cast("double")
    clock_ok = c.rlike(r"^\d{1,2}:[0-5]\d:[0-5]\d(\.\d+)?$")
    return (
        F.when(gap, gap_seconds)
        .when(clock_ok, _hms_to_fractional_seconds(c))
        .otherwise(F.lit(None).cast("double"))
    )


def format_seconds(col: Column | str, precision: int = 6) -> Column:
    """Seconds-since-midnight double -> ``HH:mm:ss.SSSSSS`` string
    (C3's output shape; precision=3 gives C4's millisecond lap form).

    The value is rounded to ``precision`` BEFORE the hour/minute split
    so a fractional carry propagates into the minute (59.9999996 @ p6
    becomes one whole minute), never an invalid ':60.000000' seconds
    field."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.round(c, precision)
    hours = F.floor(c / 3600).cast("int")
    minutes = F.floor((c % 3600) / 60).cast("int")
    secs = c % 60
    return F.when(
        c.isNotNull(),
        F.format_string(f"%02d:%02d:%0{3 + precision}.{precision}f", hours, minutes, secs),
    )


def parse_laptime_ms(col: Column | str) -> Column:
    """C4 (reference CompleteETL.py:807-810): ``M:SS.fff`` lap strings ->
    'HH:mm:ss.SSS' (millisecond precision)."""
    c = F.col(col) if isinstance(col, str) else col
    ok = c.rlike(r"^\d{1,2}:\d{2}(\.\d+)?$")
    parts = F.split(c, ":")
    seconds = parts.getItem(0).cast("double") * 60 + parts.getItem(1).cast("double")
    return F.when(ok, format_seconds(seconds, precision=3))


def parse_fastest_lap_us(col: Column | str) -> Column:
    """C5 (reference results_etl.py:38-40): same, microsecond precision."""
    c = F.col(col) if isinstance(col, str) else col
    ok = c.rlike(r"^\d{1,2}:\d{2}(\.\d+)?$")
    parts = F.split(c, ":")
    seconds = parts.getItem(0).cast("double") * 60 + parts.getItem(1).cast("double")
    return F.when(ok, format_seconds(seconds, precision=6))


def int_with_default(col: Column | str) -> Column:
    """C8/F5 (reference quali_etl.py:57): int cast, sentinel/garbage -> 0."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.try_cast("int"), F.lit(0))


def age_years(dob: Column | str, as_of_year: Column | None = None) -> Column:
    """P4 (reference driver_etl.py:47-49): ``now.year - dob.year``.

    Deliberately reproduces the reference's *year-subtraction* semantics
    (not true age). ``as_of_year`` pins the reference year for
    deterministic tests.
    """
    c = F.col(dob) if isinstance(dob, str) else dob
    ref = as_of_year if as_of_year is not None else F.year(F.current_date())
    return (ref - F.year(c.cast("date"))).cast("int")
