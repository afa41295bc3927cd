"""Replay the reference's FieldMapper golden tests.

Mapping files are read straight from the reference checkout
(tests/fixtures/Base/config/fieldmappertest/mappings/*.map) and the
expected values transcribed from
tests/RecordManagerTest/Base/Utils/FieldMapperTest.php. The reference's
mapValue returns a scalar or an array; the Spark engine represents both
as arrays, so scalar expectations appear as one-element lists.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recordmanager_spark.plans import mapping as MP

FIXDIR = "/root/reference/tests/fixtures/Base/config/fieldmappertest/mappings"


def _load(name: str, typ: str) -> "MP.Mapping":
    return MP.parse_map_file(name, open(f"{FIXDIR}/{name}").read(), type=typ)


def _mv(spark, val: str, mapping) -> list:
    df = spark.createDataFrame([(val,)], "v string").coalesce(1)
    return df.select(MP.map_value_expr(F.col("v"), mapping).alias("m")).collect()[
        0
    ]["m"]


@pytest.mark.parametrize(
    "map_file,map_type,value,expected",
    [
        # testBasicMappingFile
        ("building-basic.map", "normal", "val1", ["a/b"]),
        ("building-basic.map", "normal", "val2", [""]),
        ("building-basic.map", "normal", "val3", ["a", "b"]),
        # key itself contains '=' — the parser splits on ' = ' first
        ("building-basic.map", "normal", "fi=val4", ["c"]),
        ("building-basic.map", "normal", "val4", ["def"]),
        ("building-basic.map", "normal", "", ["def"]),
        # testRegexpMappingFile — preg_replace keeps unmatched tails
        ("building-regexp.map", "regexp", "val1", ["val/1"]),
        ("building-regexp.map", "regexp", "val", ["string"]),
        ("building-regexp.map", "regexp", "!21!", ["def"]),
        ("building-regexp.map", "regexp", "21!", ["!"]),
        ("building-regexp.map", "regexp", "FOO123", ["BAR", "BAZ"]),
        # testRegexpNoDefaultMappingFile — unmatched passes through
        ("building-regexp-no-default.map", "regexp", "!21!", ["!21!"]),
        ("building-regexp-no-default.map", "regexp", "21", [""]),
        # testRegexpMultiMappingFile — every matching pattern contributes
        ("building-regexp-multi.map", "regexp-multi", "val1", ["val/1", "string1"]),
        ("building-regexp-multi.map", "regexp-multi", "val", ["string"]),
        ("building-regexp-multi.map", "regexp-multi", "!21!", ["def"]),
        ("building-regexp-multi.map", "regexp-multi", "21!", ["!"]),
        ("building-regexp-multi.map", "regexp-multi", "21", [""]),
    ],
)
def test_golden_map_value(spark, map_file, map_type, value, expected):
    assert _mv(spark, value, _load(map_file, map_type)) == expected
