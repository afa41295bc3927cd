"""Mapping + field-rule engine tests (FieldMapper.php / SolrUpdater.php rules).

Pattern mirrors the reference's SolrUpdaterTest::testFieldRules data-provider
table and FieldMapper behaviors; fixtures are hand-written.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from recordmanager_spark.plans import mapping as MP


def _arr_df(spark, values):
    schema = T.StructType(
        [T.StructField("v", T.ArrayType(T.StringType()))]
    )
    return spark.createDataFrame([(v,) for v in values], schema)


def _one(spark, col_expr, value):
    df = _arr_df(spark, [value])
    return df.select(col_expr.alias("out")).collect()[0].out


def test_parse_map_file():
    m = MP.parse_map_file(
        "format_map",
        """
        ; comment
        Book = Published
        eBook = Published
        CD[] = Audio
        CD[] = Disc
        ##default = Other
        ##empty = Missing
        """,
    )
    assert m.entries["Book"] == ["Published"]
    assert m.entries["CD"] == ["Audio", "Disc"]
    assert m.sentinel("##default") == ["Other"]
    assert m.sentinel("##empty") == ["Missing"]


def test_normal_mapping(spark):
    m = MP.parse_map_file(
        "fm", "Book = Published\nCD[] = Audio\nCD[] = Disc\n##default = Other"
    )
    out = _one(spark, MP.map_array_column(F.col("v"), m), ["Book", "CD", "Vinyl"])
    assert out == ["Published", "Audio", "Disc", "Other"]


def test_normal_mapping_no_default_keeps_value(spark):
    m = MP.parse_map_file("fm", "Book = Published")
    assert _one(spark, MP.map_array_column(F.col("v"), m), ["Zine"]) == ["Zine"]


def test_empty_sentinel(spark):
    m = MP.parse_map_file("fm", "Book = Published\n##empty = Missing")
    assert _one(spark, MP.map_array_column(F.col("v"), m), []) == ["Missing"]


def test_mappedempty_sentinel(spark):
    # Book maps to empty string -> dropped -> mapping produced nothing
    m = MP.parse_map_file("fm", "Book =\n##mappedempty = Gone")
    assert _one(spark, MP.map_array_column(F.col("v"), m), ["Book"]) == ["Gone"]


def test_regexp_first_match_wins(spark):
    m = MP.Mapping(
        name="rx",
        type="regexp",
        entries={
            "^E-(.*)": ["Electronic \\1"],
            "^(.*)-ish$": ["Almost \\1"],
            "##default": ["Raw"],
        },
    )
    assert _one(spark, MP.map_array_column(F.col("v"), m), ["E-book"]) == [
        "Electronic book"
    ]
    assert _one(spark, MP.map_array_column(F.col("v"), m), ["book-ish"]) == [
        "Almost book"
    ]
    assert _one(spark, MP.map_array_column(F.col("v"), m), ["plain"]) == ["Raw"]


def test_regexp_multi_collects_all(spark):
    m = MP.Mapping(
        name="rx",
        type="regexp-multi",
        entries={"^E-": ["Electronic"], "book": ["HasBook"]},
    )
    # preg_replace keeps the unmatched remainder (PHP parity)
    assert _one(spark, MP.map_array_column(F.col("v"), m), ["E-book"]) == [
        "Electronicbook",
        "E-HasBook",
    ]


# --- field rules -----------------------------------------------------------


def test_parse_field_rule():
    r = MP.parse_field_rule(
        'copy building building2 match="/^(A|B)$/" default="MAIN"'
    )
    assert (r.op, r.src, r.dst, r.match, r.default) == (
        "copy", "building", "building2", "/^(A|B)$/", "MAIN",
    )
    r2 = MP.parse_field_rule("delete junk")
    assert (r2.op, r2.src, r2.dst) == ("delete", "junk", None)
    with pytest.raises(ValueError):
        MP.parse_field_rule("explode a b")
    with pytest.raises(ValueError):
        MP.parse_field_rule("copy onlysrc")


def _rules_df(spark):
    schema = T.StructType(
        [
            T.StructField("building", T.ArrayType(T.StringType())),
            T.StructField("note", T.StringType()),
        ]
    )
    return spark.createDataFrame(
        [(["MAIN", "SUB", "OTHER"], "scalar-note"), ([], None)], schema
    )


def test_field_rule_copy_with_match(spark):
    out = MP.apply_field_rules(
        _rules_df(spark), ['copy building b2 match="/^(MAIN|SUB)$/"']
    ).collect()
    assert out[0].b2 == ["MAIN", "SUB"]
    assert out[0].building == ["MAIN", "SUB", "OTHER"]  # copy keeps src
    assert out[1].b2 == []


def test_field_rule_copy_default(spark):
    out = MP.apply_field_rules(
        _rules_df(spark), ['copy building b2 default="EMPTY"']
    ).collect()
    assert out[0].b2 == ["MAIN", "SUB", "OTHER"]
    assert out[1].b2 == ["EMPTY"]


def test_field_rule_move_match_removes_only_matching(spark):
    out = MP.apply_field_rules(
        _rules_df(spark), ['move building b2 match="SUB"']
    ).collect()
    assert out[0].b2 == ["SUB"]
    assert out[0].building == ["MAIN", "OTHER"]


def test_field_rule_delete(spark):
    out = MP.apply_field_rules(_rules_df(spark), ["delete building"]).collect()
    assert out[0].building == []


def test_field_rule_scalar_src(spark):
    out = MP.apply_field_rules(
        _rules_df(spark), ["copy note note2"]
    ).collect()
    assert out[0].note2 == ["scalar-note"]
    assert out[1].note2 == []


def test_field_rule_append_to_existing_dst(spark):
    out = MP.apply_field_rules(
        _rules_df(spark),
        ['copy note building match="scalar-note"'],
    ).collect()
    assert out[0].building == ["MAIN", "SUB", "OTHER", "scalar-note"]
