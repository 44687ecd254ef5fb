"""Unit tests for the scalar expression library (SURVEY C1-C9):
null-safety, malformed-value coercion, the '+ss.mmm' gap form and the
formatted C3 race time."""

from __future__ import annotations

from pyspark.sql import functions as F

from formula1_etl_analytics_project_spark.functions.cleaning import (
    age_years,
    format_seconds,
    int_with_default,
    parse_date,
    parse_fastest_lap_us,
    parse_laptime_ms,
    parse_race_time_seconds,
    parse_time,
)


def _vals(spark, col, data):
    df = spark.createDataFrame([(v,) for v in data], ["x"])
    return [r[0] for r in df.select(col.alias("out")).collect()]


def test_parse_time(spark):
    out = _vals(spark, parse_time("x"), ["14:30:05", "9:05:00", "bad", None, "25:00:00"])
    assert out == ["14:30:05", "09:05:00", None, None, None]


def test_parse_date(spark):
    out = _vals(spark, parse_date("x"), ["2021-03-04", "not-a-date", None])
    assert [str(v) if v else None for v in out] == ["2021-03-04", None, None]


def test_parse_race_time_seconds_gap_and_clock(spark):
    out = _vals(
        spark,
        parse_race_time_seconds("x"),
        ["+5.478", "1:30:05.123", "+0.001", "garbage", None, "99:99:99"],
    )
    assert out[0] == 5.478
    assert abs(out[1] - (3600 + 30 * 60 + 5.123)) < 1e-9
    assert out[2] == 0.001
    assert out[3] is None and out[4] is None
    # regex rejects out-of-shape minutes/seconds (reference strptime did too)
    assert out[5] is None


def test_format_seconds_precision(spark):
    secs = 3600 + 30 * 60 + 5.123456
    out = _vals(spark, format_seconds(F.col("x"), 6), [secs, None])
    assert out == ["01:30:05.123456", None]
    out3 = _vals(spark, format_seconds(F.col("x"), 3), [125.991])
    assert out3 == ["00:02:05.991"]


def test_format_seconds_fractional_carry(spark):
    """Rounding to the target precision must carry INTO the minute:
    59.9999996 @ p6 is one whole minute, never ':60.000000'. Same
    carry at the hour boundary and at millisecond precision."""
    out = _vals(
        spark,
        format_seconds(F.col("x"), 6),
        [59.9999996, 3599.9999996, 5399.9999995],
    )
    assert out == ["00:01:00.000000", "01:00:00.000000", "01:30:00.000000"]
    out3 = _vals(spark, format_seconds(F.col("x"), 3), [59.99951, 119.9996])
    assert out3 == ["00:01:00.000", "00:02:00.000"]
    # and through the C3 parse of a gap string
    c3 = format_seconds(parse_race_time_seconds("x"), 6)
    assert _vals(spark, c3, ["+59.9999996"]) == ["00:01:00.000000"]


def test_race_time_formats_gap_and_clock_strings(spark):
    """C3 end to end: parse, then format at microsecond precision."""
    out = _vals(
        spark,
        format_seconds(parse_race_time_seconds("x"), 6),
        ["+5.478", "1:30:05.123", "0:00:59", "bad", None, "+12.0"],
    )
    assert out == [
        "00:00:05.478000",
        "01:30:05.123000",
        "00:00:59.000000",
        None,
        None,
        "00:00:12.000000",
    ]


def test_laptime_precision(spark):
    ms = _vals(spark, parse_laptime_ms("x"), ["1:23.456", "bad", None])
    assert ms == ["00:01:23.456", None, None]
    us = _vals(spark, parse_fastest_lap_us("x"), ["1:23.456789", "x"])
    assert us == ["00:01:23.456789", None]


def test_int_with_default(spark):
    out = _vals(spark, int_with_default("x"), ["7", "bad", None])
    assert out == [7, 0, 0]


def test_age_years_is_year_subtraction(spark):
    # P4: reference semantics = year difference, NOT true age
    out = _vals(spark, age_years(F.col("x"), F.lit(2026)), ["1999-12-31", "2000-01-01"])
    assert out == [27, 26]
