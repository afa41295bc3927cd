"""Splitter (flatMap) and sink tests (Splitter/Ead.php, Export.php, SolrUpdater batching)."""

from __future__ import annotations

import glob
import json

from pyspark.sql import functions as F

from recordmanager_spark.sinks import export as EX
from recordmanager_spark.sinks import solr as SK
from recordmanager_spark.sources import splitter as SP
from tests.oracles import make_xpath_splitter

EAD = """<ead>
  <eadheader>
    <eadid identifier="ARCH-1" mainagencycode="FI-X">arch1</eadid>
    <filedesc><titlestmt><titleproper>Grand Archive</titleproper></titlestmt></filedesc>
  </eadheader>
  <archdesc level="fonds">
    <did><unitid identifier="ARCH-1">ARCH-1</unitid><unittitle>Grand Archive</unittitle></did>
    <dsc>
      <c01 level="series">
        <did><unitid>S1</unitid><unittitle>Series One</unittitle></did>
        <c02 level="file">
          <did><unitid>F1</unitid><unittitle>File One</unittitle></did>
        </c02>
      </c01>
      <c01 level="series">
        <did><unittitle>Untitled Series</unittitle></did>
      </c01>
    </dsc>
  </archdesc>
</ead>"""

OAI = """<records>
  <record><id>r1</id><title>One</title></record>
  <record><id>r2</id><title>Two</title></record>
</records>"""


def test_xpath_splitter(spark):
    split = make_xpath_splitter("record", "id")
    df = spark.createDataFrame([(OAI,)], "xml string")
    parts = SP.explode_parts(df, split(F.col("xml")), keep=[])
    rows = parts.collect()
    assert [r.part_id for r in rows] == ["r1", "r2"]
    assert "<title>One</title>" in rows[0].part_xml


def test_tag_splitter_matches_xpath_splitter(spark):
    """The JVM streaming-tag fast path agrees with the parsing splitter on
    flat record streams (ids, sequence, fragment content), and handles
    self-closed records, namespace prefixes, and missing id tags."""
    tricky = (
        "<oai:records xmlns:oai='x'>"
        "<oai:record><oai:id> padded </oai:id></oai:record>"
        "<oai:record/>"
        "<oai:record><noid/></oai:record>"
        "</oai:records>"
    )
    df = spark.createDataFrame([(OAI,), (tricky,)], "xml string")
    jvm = SP.explode_parts(
        df, SP.make_tag_splitter("record", "id")(F.col("xml")), keep=[]
    ).collect()
    assert [(r.part_id, r.sequence) for r in jvm] == [
        ("r1", 1), ("r2", 2), ("padded", 1), ("2", 2), ("3", 3),
    ]
    assert "<title>One</title>" in jvm[0].part_xml
    py = SP.explode_parts(
        spark.createDataFrame([(OAI,)], "xml string"),
        make_xpath_splitter("record", "id")(F.col("xml")),
        keep=[],
    ).collect()
    assert [(r.part_id, r.sequence) for r in py] == [
        (r.part_id, r.sequence) for r in jvm[:2]
    ]


def test_ead_splitter(spark):
    df = spark.createDataFrame([(EAD,)], "xml string")
    parts = SP.explode_parts(df, SP.split_ead(F.col("xml")), keep=[]).collect()
    by_id = {r.part_id: r for r in parts}
    # archdesc + 3 components
    assert len(parts) == 4
    assert "ARCH-1" in by_id  # archdesc keeps plain archive id
    s1 = by_id["ARCH-1_S1"]
    assert s1.level == "series"
    assert s1.archive_title == "Grand Archive"
    assert s1.sequence == "0000002"
    # child inherits ancestor unittitles (archive + series)
    f1 = by_id["ARCH-1_F1"]
    assert f1.inherited_titles == ["Grand Archive", "Series One"]
    # component without unitid gets sequence-based id
    assert "ARCH-1_4" in by_id
    assert by_id["ARCH-1_4"].inherited_titles == ["Grand Archive"]


def test_ead_splitter_malformed(spark):
    df = spark.createDataFrame([("<unclosed",), (None,), ("<ead/>",)], "xml string")
    assert SP.explode_parts(df, SP.split_ead(F.col("xml")), keep=[]).count() == 0


def test_export_records(spark):
    rows = [
        (f"id{i}", f"<r><t>{'keep' if i % 2 == 0 else 'drop'}</t></r>", i % 3)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["_id", "original_data", "dedup_id"])
    out = EX.export_records(
        df,
        xpath_predicate="r/t='keep'",
        sort_dedup=True,
        inject_fields={"source": "test"},
    )
    got = out.collect()
    assert all("keep" in r.original_data for r in got)
    assert all(r.source == "test" for r in got)
    dedups = [r.dedup_id for r in got]
    assert dedups == sorted(dedups)


def test_export_skip_sampling(spark):
    df = spark.createDataFrame([(f"id{i}", "<r/>") for i in range(200)], ["_id", "original_data"])
    n = EX.export_records(df, skip=3).count()
    assert 20 < n < 80  # ~1/4 of 200 via stable hash


def test_solr_batch_files(spark, tmp_path):
    df = spark.createDataFrame(
        [(str(i), f"title {i}") for i in range(120)], ["id", "title"]
    ).coalesce(1)
    SK.write_update_batches(df, str(tmp_path / "up"), max_update_records=50)
    files = glob.glob(str(tmp_path / "up" / "part-*"))
    sizes = []
    for f in files:
        with open(f) as fh:
            sizes.append(sum(1 for _ in fh))
    assert sum(sizes) == 120
    assert max(sizes) <= 50  # batch bound holds per file
    with open(files[0]) as fh:
        json.loads(next(iter(fh)))  # valid JSON lines
