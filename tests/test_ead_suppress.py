"""EAD extractor + suppression predicate tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from recordmanager_spark.extractors import ead
from recordmanager_spark.plans.filter_dsl import suppressed_condition
from recordmanager_spark.sources import splitter as SP
from tests.golden_rows import assert_golden, collect_rows

EAD_COMPONENT = """<c01 level="series" id="S-1">
  <did>
    <unittitle>Letters, 1900-1910</unittitle>
    <repository><corpname>National Archive</corpname></repository>
    <langmaterial><language langcode="fin">Finnish</language></langmaterial>
    <physdesc><extent>3 boxes</extent><extent>-</extent></physdesc>
  </did>
  <scopecontent><p> First part. </p><p>Second part.</p></scopecontent>
  <controlaccess>
    <persname>Person, One</persname>
    <persname>-</persname>
    <corpname>Some Corp</corpname>
    <subject>History</subject>
  </controlaccess>
</c01>"""


def test_ead_extract(spark):
    df = spark.createDataFrame(
        [(EAD_COMPONENT, "ARCH-9", "Grand Archive", "0000002")],
        ["part_xml", "archive_id", "archive_title", "sequence"],
    )
    r = ead.to_solr_columns(df).collect()[0]
    assert r.ctrlnum == "S-1"
    assert r.level == "series"
    assert r.title_short == "Letters, 1900-1910"
    assert r.title_sort == "letters 1900 1910"
    assert r.description == "First part.   /   Second part."
    assert r.author == ["Person, One"]  # '-' dropped
    assert r.author_corporate == ["Some Corp"]
    assert r.topic == ["History"]
    assert r.institution == "National Archive"
    assert r.language == ["fin", "finnish"]
    assert r.physical == ["3 boxes"]
    assert r.hierarchy_top_id == "ARCH-9"
    assert r.hierarchy_top_title == "Grand Archive"
    assert r.hierarchy_sequence == "0000002"


def test_ead_split_then_extract(spark):
    # splitter output feeds the extractor directly
    doc = f"""<ead><eadheader><eadid identifier="A1">a1</eadid>
    <filedesc><titlestmt><titleproper>Top</titleproper></titlestmt></filedesc></eadheader>
    <archdesc level="fonds"><did><unitid>A1</unitid><unittitle>Top</unittitle></did>
    <dsc>{EAD_COMPONENT}</dsc></archdesc></ead>"""
    df = spark.createDataFrame([(doc,)], "xml string")
    parts = SP.explode_parts(df, SP.split_ead(F.col("xml")), keep=[])
    out = ead.to_solr_columns(parts).where(F.col("level") == "series").collect()
    assert len(out) == 1
    assert out[0].title_short == "Letters, 1900-1910"
    assert out[0].hierarchy_top_id == "A1"


def test_ead_malformed_masked(spark):
    df = spark.createDataFrame([("<unclosed",)], ["part_xml"])
    r = ead.to_solr_columns(
        df, archive_id_col=None, archive_title_col=None, sequence_col=None
    ).collect()[0]
    # masked doc: scalars '' / arrays NULL (same contract as the DC gate)
    assert r.ctrlnum == "" and r.author in (None, [])


def test_suppression_value_list(spark):
    df = spark.createDataFrame(
        [("r1", "hidden", ["x"]), ("r2", "ok", ["x"]), ("r3", None, ["secret"])],
        ["id", "status", "tags"],
    )
    cond = suppressed_condition(df, {"status": "hidden|internal", "tags": "/^sec/"})
    kept = [r.id for r in df.where(~cond).collect()]
    assert kept == ["r2"]


def test_suppression_missing_field_never_suppresses(spark):
    df = spark.createDataFrame([("r1",)], ["id"])
    cond = suppressed_condition(df, {"nosuch": "a|b"})
    assert df.where(~cond).count() == 1


def test_ead_engines_agree(spark):
    """The component, malformed input and an empty component match the
    rows pinned when the xpath and struct engines agreed
    (tests/golden_rows.py)."""
    df = spark.createDataFrame(
        [
            (EAD_COMPONENT, "ARCH-9", "Grand Archive", "0000002"),
            ("<broken", "A", "T", "0000001"),
            ("<c01/>", "A", "T", "0000003"),
        ],
        ["part_xml", "archive_id", "archive_title", "sequence"],
    ).coalesce(1)
    assert_golden(
        "ead_engines_agree",
        collect_rows(ead.to_solr_columns(df), "part_xml", "sequence"),
    )
