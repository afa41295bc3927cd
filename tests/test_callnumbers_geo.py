"""Call-number, geo, and author scalar function tests.

Mirrors the reference data-provider tests (LcCallNumberTest.php,
DeweyCallNumberTest.php, MetadataUtilsTest coordinate cases).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from recordmanager_spark.functions import geo as G
from recordmanager_spark.functions import keys as K
from recordmanager_spark.functions.callnumbers import (
    DeweyCallNumber,
    LcCallNumber,
    dewey_sort_key,
    lc_is_valid,
    lc_sort_key,
)


# --- pure-python parser goldens (no Spark needed) --------------------------


def test_lc_valid():
    assert LcCallNumber("QA76.76 .A65").is_valid()
    assert not LcCallNumber("XA123").is_valid()  # X start invalid
    assert not LcCallNumber("QA").is_valid()  # no digits
    assert not LcCallNumber("123").is_valid()  # no letters


def test_lc_sort_key_digit_length_prefix():
    # '9' sorts before '10': digit runs get significant-length prefixes
    k9 = LcCallNumber("QA9").sort_key()
    k10 = LcCallNumber("QA10").sort_key()
    assert k9 == "QA 19"
    assert k10 == "QA 210"
    assert sorted([k10, k9]) == [k9, k10]


def test_lc_sort_key_cutter():
    key = LcCallNumber("QA76.76 .A65 X4").sort_key()
    # 76 -> '276' (2 significant digits), cutter A65 -> 'A265', X4 -> 'X14'
    assert key == "QA 276.76 A265 X14"


def test_dewey():
    d = DeweyCallNumber("005.133 W58 2011")
    assert d.is_valid()
    assert d.number(1) == "005"
    assert d.number(10) == "000"
    assert d.number(100) == "000"
    assert DeweyCallNumber("512.5").number(10) == "510"
    assert d.search_string() == "005.133W582011"
    # digits '005' -> intval 5 (1 significant digit) -> '1' + '005'
    assert d.sort_key().startswith("1005.133")


def test_dewey_invalid():
    assert not DeweyCallNumber("QA76").is_valid()
    assert DeweyCallNumber("QA76").search_string() == ""


# --- Spark-side ------------------------------------------------------------


def _one(spark, expr, value):
    return (
        spark.createDataFrame([(value,)], "v string")
        .select(expr.alias("out"))
        .collect()[0]
        .out
    )


def test_callnumber_udfs(spark):
    assert _one(spark, lc_sort_key(F.col("v")), "QA9") == "QA 19"
    assert _one(spark, lc_is_valid(F.col("v")), "QA9") is True
    # trailing space: PHP's suffix is always a string ('' when absent) and
    # getSortKey appends the separator unconditionally (DeweyCallNumber.php
    # :165-189; golden dewey-sort '3330.903 ' in MarcTest testMarcDewey)
    assert _one(spark, dewey_sort_key(F.col("v")), "512.5 A1") == "3512.5 A1 "


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("E0793235", 79.0 + 32 / 60 + 35 / 3600),
        ("W0793235", -(79.0 + 32 / 60 + 35 / 3600)),
        ("N079.123", 79.123),
        ("-079.123", -79.123),
        ("S07912.5", -(79.0 + 12.5 / 60)),
        ("+123.25", 123.25),
        ("60.5", 60.5),
    ],
)
def test_coordinate_to_decimal(spark, raw, expected):
    got = _one(spark, G.coordinate_to_decimal(F.col("v")), raw)
    assert got == pytest.approx(expected, abs=1e-9)


def test_coordinate_empty_is_nan(spark):
    assert math.isnan(_one(spark, G.coordinate_to_decimal(F.col("v")), "  "))


def test_center_coordinates_envelope(spark):
    got = _one(
        spark, G.center_coordinates(F.col("v")), "ENVELOPE(10.0, 20.0, 40.0, 30.0)"
    )
    assert got == "15 35"


def test_center_coordinates_point_and_polygon(spark):
    assert _one(spark, G.center_coordinates(F.col("v")), "POINT(10 20)") == "10 20"
    got = _one(
        spark,
        G.center_coordinates(F.col("v")),
        "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))",
    )
    assert got == "2 2"
    assert _one(spark, G.center_coordinates(F.col("v")), "garbage") == ""


def test_geo_display_field(spark):
    got = _one(
        spark, G.geo_display_field(F.col("v")), "ENVELOPE(10.5, 20.5, 40.0, 30.0)"
    )
    assert got == "10.5 20.5 40.0 30.0"


def test_convert_author_last_first(spark):
    assert (
        _one(spark, K.convert_author_last_first(F.col("v")), "William Butler Yeats")
        == "Yeats, William Butler"
    )
    assert _one(spark, K.convert_author_last_first(F.col("v")), "Cher") == "Cher"


def test_normalize_relator(spark):
    assert _one(spark, K.normalize_relator(F.col("v")), " Aut.hor, ") == "author"


def test_validate_date(spark):
    assert _one(spark, K.validate_date(F.col("v")), "2020-02-29") is not None
    assert _one(spark, K.validate_date(F.col("v")), "2019-02-29") is None
    assert _one(spark, K.validate_date(F.col("v")), "2020-13-01") is None
    assert _one(spark, K.validate_date(F.col("v")), "20200101") is None
