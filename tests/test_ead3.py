"""EAD3 splitter + extractor golden tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from recordmanager_spark.extractors import ead3
from recordmanager_spark.sources import splitter as SP
from tests.golden_rows import assert_golden, collect_rows

EAD3_DOC = """<ead xmlns="http://ead3.archivists.org/schema/">
<control><maintenanceagency><agencycode>FI-KA</agencycode></maintenanceagency></control>
<archdesc level="fonds">
  <did>
    <unitid identifier="ARK-1" label="main">ARK-1</unitid>
    <unittitle>Estate Papers</unittitle>
    <langmaterial><language langcode="fin">Finnish</language></langmaterial>
  </did>
  <dsc>
    <c01 level="series">
      <did><unitid identifier="S1">S1</unitid><unittitle>Correspondence</unittitle></did>
      <c02 level="file">
        <did>
          <unitid identifier="F7">F7</unitid>
          <unittitle>Letters 1900-1910</unittitle>
          <repository><corpname><part>National Archive</part></corpname></repository>
          <physdesc><extent>2 boxes</extent><extent>-</extent></physdesc>
          <daoset><dao localtype="thumbnail" href="https://thumbs.example/f7.jpg"/></daoset>
          <origination><persname><part>Writer, W.</part></persname></origination>
        </did>
        <controlaccess>
          <persname><part>Recipient, R.</part></persname>
          <corpname><part>Estate Oy</part></corpname>
          <subject identifier="http://sub/1"><part>letters</part></subject>
          <geogname><part>Helsinki</part></geogname>
          <genreform><part>Documents</part></genreform>
        </controlaccess>
        <scopecontent><p>First.</p><p>Second.</p></scopecontent>
      </c02>
    </c01>
  </dsc>
</archdesc></ead>"""


def _parts(spark):
    df = spark.createDataFrame([(EAD3_DOC,)], "xml string")
    return SP.explode_parts(df, SP.split_ead3(F.col("xml")), [])


def test_ead3_split_structure(spark):
    rows = _parts(spark).orderBy("sequence").collect()
    assert [r.part_id for r in rows] == ["ARK-1", "ARK-1_S1", "ARK-1_F7"]
    assert [r.level for r in rows] == ["archdesc", "series", "file"]
    assert rows[0].archive_title == "Estate Papers"
    assert rows[1].parent_id == "ARK-1"
    assert rows[1].parent_level == "archive"
    assert rows[2].parent_id == "ARK-1_S1"
    assert rows[2].parent_title == "Correspondence"
    assert rows[2].parent_level == "series"
    assert rows[2].inherited_titles == ["Estate Papers", "Correspondence"]
    # nested components pruned from ancestors' XML
    assert "Letters 1900" not in rows[0].part_xml
    assert "Letters 1900" not in rows[1].part_xml


def test_ead3_extract_file_component(spark):
    out = ead3.to_solr_columns(_parts(spark))
    r = out.where(F.col("part_id") == "ARK-1_F7").collect()[0]
    assert r.record_format == "ead3"
    assert r.format == "Documents"  # genreform beats @level
    assert r.title_short == "Letters 1900-1910"
    assert r.title_sub == "F7"
    assert r.title == "F7 Letters 1900-1910"
    assert r.title_in_hierarchy == "F7 F7 Letters 1900-1910"
    assert r.author == ["Recipient, R.", "Writer, W."]
    assert r.author_sort == "Recipient, R."
    assert r.author_corporate == ["Estate Oy"]
    assert r.topic == ["letters"]
    assert r.topic_ids == ["http://sub/1"]
    assert r.geographic == ["Helsinki"]
    assert r.institution == "National Archive"
    assert r.physical == ["2 boxes"]  # '-' dropped
    assert r.thumbnail == "https://thumbs.example/f7.jpg"
    assert r.description == "First.   /   Second."
    assert r.series == "Correspondence"
    assert r.hierarchy_parent_id == "ARK-1_S1"
    assert r.hierarchy_top_id == "ARK-1"
    assert r.hierarchy_top_title == "Estate Papers"
    assert r.hierarchy_sequence == "0000003"


def test_ead3_extract_archive_level(spark):
    out = ead3.to_solr_columns(_parts(spark))
    r = out.where(F.col("part_id") == "ARK-1").collect()[0]
    assert r.format == "fonds"
    assert r.title_sub == ""  # fonds: no subtitle
    assert r.title == "Estate Papers"
    assert r.language == ["fin"]
    assert r.series == ""
    assert r.hierarchy_parent_id is None
    # pruned: no leakage of descendant authors/topics
    assert r.author == []
    assert r.topic == []


def test_ead3_series_suppressed_for_series_level(spark):
    out = ead3.to_solr_columns(_parts(spark))
    r = out.where(F.col("part_id") == "ARK-1_S1").collect()[0]
    assert r.format == "series"
    assert r.series == ""  # series-level records never get a series field
    assert r.title == "S1 Correspondence"


def test_ead3_engines_agree(spark):
    """The golden document's components and malformed input match the rows
    pinned when the xpath and struct engines agreed (tests/golden_rows.py)."""
    bad = spark.createDataFrame(
        [("<broken", "x", 1, "p", "t", "a", "at", "l", [])],
        "part_xml string, part_id string, sequence int, parent_id string,"
        " parent_title string, archive_id string, archive_title string,"
        " level string, inherited_titles array<string>",
    )
    for name, df in (("parts", _parts(spark)), ("broken", bad)):
        assert_golden(
            f"ead3_engines_agree/{name}",
            collect_rows(ead3.to_solr_columns(df), "part_xml", "part_id"),
        )
