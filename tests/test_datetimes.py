"""Unit tests for the datetime column kernels (F5, F13)."""

from __future__ import annotations

import datetime

from crawlers_spark.functions.datetimes import parse_iso_duration, parse_month_name_date


def test_parse_iso_duration(spark):
    rows = [
        ("PT3H33M6S", "3:33:6"),
        ("PT33M6S", "0:33:6"),
        ("PT6S", "0:0:6"),
        ("PT3H", "3:0:0"),
        ("PT3H6S", "3:0:6"),
        ("PT3H33M", "3:33:0"),
        ("PT33M", "0:33:0"),
        ("PT0S", "0:0:0"),
    ]
    df = spark.createDataFrame([(d,) for d, _ in rows], "dur string")
    got = [r["hms"] for r in df.select(parse_iso_duration("dur").alias("hms")).collect()]
    assert got == [want for _, want in rows]


def test_parse_month_name_date(spark):
    df = spark.createDataFrame(
        [("March 5, 2023",), ("December 31, 1999",)], "d string"
    )
    got = [r["dt"] for r in df.select(parse_month_name_date("d").alias("dt")).collect()]
    assert got == [datetime.date(2023, 3, 5), datetime.date(1999, 12, 31)]

