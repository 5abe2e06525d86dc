"""Unit tests for the scalar-function library (SURVEY.md §2.6/§5.1).

The enum-mapper cases reproduce the reference's own test assertions
(`test/test_bbox.py:7-12`) exactly; the binning cases cover the Python
floor-division-on-negatives trap (SURVEY §2.3 J2).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from traffic_accidents_airflow_kafka_spark.functions import scalar as fn


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


@pytest.mark.parametrize(
    "raw,expected",
    [
        # Reference test/test_bbox.py:7-9 exact pairs.
        ("signal", "signal"),
        (" TRAFFIC_lights ", "traffic_lights"),
        ("nonsense", "unknown"),
        ("pedestrian_crossing", "pedestrian_crossing"),
    ],
)
def test_map_traffic_signal(spark, raw, expected):
    assert _one(spark, fn.map_traffic_signal(F.lit(raw))) == expected


def test_norm_str_strips_what_python_strip_strips(spark):
    """``norm_str`` is ``str(x).strip().lower()``: every character
    ``str.isspace`` accepts is stripped from both ends (Spark's ``trim``
    strips only spaces), and nothing else is, inner whitespace included."""
    spaces = [chr(c) for c in range(0x110000) if chr(c).isspace()]
    others = ["​", "﻿", "\x1b", "\x7f", "x"]
    values = [v for c in spaces + others for v in (c, f"{c}{c}Ab\t c{c}{c}")]
    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = [r["n"] for r in df.select(fn.norm_str("v").alias("n")).collect()]
    assert got == [v.strip().lower() for v in values]
    assert _one(spark, fn.map_traffic_signal(F.lit("\tsignal"))) == "signal"
    assert _one(spark, fn.map_traffic_signal(F.lit(" signal\n"))) == "signal"


@pytest.mark.parametrize(
    "raw,expected",
    [
        # Reference test/test_bbox.py:10-12 exact pairs.
        ("marked;unmarked", "combinations"),
        ("Zebra", "zebra"),
        ("uncontrolled", "uncontrolled"),
        ("whatever", "unknown"),
    ],
)
def test_map_crossing(spark, raw, expected):
    assert _one(spark, fn.map_crossing(F.lit(raw))) == expected


@pytest.mark.parametrize(
    "x,width,expected",
    [
        # Python floor-division parity: -80.3 // 0.5 * 0.5 == -80.5 (J2 trap).
        (-80.3, 0.5, -80.5),
        (35.2, 0.5, 35.0),
        (-0.1, 0.5, -0.5),
        (0.0, 0.5, 0.0),
    ],
)
def test_floor_bin_negative_parity(spark, x, width, expected):
    got = _one(spark, fn.floor_bin(F.lit(x), width))
    assert got == (x // width) * width == expected


def test_bbox_label_python_str_parity(spark):
    # str(35.0) == '35.0', str(-81.5) == '-81.5' (SURVEY §7 float-format parity).
    got = _one(spark, fn.bbox_label(F.lit(35.0), F.lit(-81.5)))
    assert got == "bbox_35.0_-81.5"


def test_bbox_label_roundtrip(spark):
    lat, lng = fn.bbox_label_parse(fn.bbox_label(F.lit(-80.5), F.lit(35.0)))
    row = spark.range(1).select(lat.alias("lat"), lng.alias("lng")).collect()[0]
    assert row["lat"] == -80.5 and row["lng"] == 35.0


def test_parse_tags_stringified_python_dict(spark):
    # The OSM tags cell format: single-quoted stringified dict
    # (dags/etl_crash_traffic.py:218; data/raw/bbox_*_osm.csv).
    raw = "{'highway': 'traffic_signals', 'traffic_signals': 'signal'}"
    tags = fn.parse_tags(F.lit(raw))
    row = (
        spark.range(1)
        .select(
            fn.map_key(tags, "highway").alias("hw"),
            fn.map_key(tags, "traffic_signals").alias("ts"),
            fn.map_key(tags, "missing").alias("mi"),
        )
        .collect()[0]
    )
    assert row["hw"] == "traffic_signals"
    assert row["ts"] == "signal"
    assert row["mi"] is None


def test_timestamp_parse_and_failure_counter(spark):
    # crash_date format '%m/%d/%Y %I:%M:%S %p' (001_extract.ipynb:655).
    df = spark.createDataFrame(
        [("07/29/2023 01:45:00 PM",), ("not a date",), (None,)], "raw string"
    )
    out = df.select(
        fn.parse_timestamp("raw").alias("ts"),
        fn.parse_failures("raw").alias("fail"),
    ).collect()
    assert out[0]["ts"] is not None and out[0]["ts"].hour == 13
    assert out[0]["fail"] == 0
    assert out[1]["ts"] is None and out[1]["fail"] == 1
    assert out[2]["ts"] is None and out[2]["fail"] == 0  # null input is not a parse failure


def test_day_name_and_time_of_day_locale_pinned(spark):
    df = spark.createDataFrame([("2024-01-01 13:05:09",)], "raw string")
    row = df.select(
        fn.day_name(F.col("raw").cast("timestamp")).alias("dn"),
        fn.time_of_day(F.col("raw").cast("timestamp")).alias("tod"),
    ).collect()[0]
    assert row["dn"] == "Monday"  # 'EEEE' full form, SURVEY §7 day-name standardization
    assert row["tod"] == "13:05:09"


def test_severity_rank_ordering(spark):
    vals = list(fn.SEVERITY_ORDER) + ["SOMETHING ELSE", None]
    df = spark.createDataFrame([(v,) for v in vals], "sev string")
    ranks = [r["r"] for r in df.select(fn.severity_rank("sev").alias("r")).collect()]
    assert ranks[:5] == [0, 1, 2, 3, 4]
    assert ranks[5] is None and ranks[6] is None


def test_binary_indicator_and_sentinels(spark):
    df = spark.createDataFrame(
        [("Y", "UNKNOWN", "  "), ("N", "RAIN", "x")], "flag string, w string, s string"
    )
    rows = df.select(
        fn.binary_indicator("flag").alias("i"),
        fn.unknown_to_other("w").alias("w2"),
        fn.empty_to_null("s").alias("s2"),
    ).collect()
    assert [r["i"] for r in rows] == [1, 0]
    assert [r["w2"] for r in rows] == ["OTHER", "RAIN"]
    assert rows[0]["s2"] is None and rows[1]["s2"] == "x"
