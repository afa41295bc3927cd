"""Golden tests for the ESE / DOAJ / LRMI extractors (DC family)."""

from __future__ import annotations

from pyspark.sql import functions as F

from recordmanager_spark.extractors import doaj, ese, lrmi
from tests.golden_rows import assert_golden, collect_rows

ESE1 = """<record>
  <recordID>ese-1</recordID>
  <title>Kalevala : the land of heroes</title>
  <creator>Lonnrot, Elias</creator>
  <contributor>Kirby, W. F.</contributor>
  <language>fin eng</language>
  <type>TEXT</type>
  <date>about 1849</date>
  <date>1849</date>
  <identifier>ISBN 0-306-40615-2</identifier>
  <identifier>http://europeana.example/1</identifier>
  <subject>epic poetry</subject>
</record>"""

DOAJ1 = """<record>
  <title>Open access in the north : a survey /</title>
  <authors>
    <author><name>Virtanen, Veera</name><affiliation>UH</affiliation></author>
    <author><name>Second, S.</name></author>
  </authors>
  <keywords><keyword>open access</keyword><keyword>other</keyword></keywords>
  <language>engfinswe</language>
  <publisher>OA Press.</publisher>
  <publicationDate>2012-05-01</publicationDate>
  <fullTextUrl>https://doaj.example/a/1</fullTextUrl>
</record>"""

LRMI1 = """<lrmi>
  <recordID>lrmi-9</recordID>
  <title>Fractions for beginners : part one</title>
  <author>
    <person><name>Opettaja, Outi</name></person>
    <person><name>Toinen, T.</name></person>
    <organization><legalName>Edu Board</legalName></organization>
  </author>
  <material><inLanguage>FI</inLanguage><url>https://material.example/1</url></material>
  <inLanguage>sv</inLanguage>
  <inLanguage>FI</inLanguage>
  <about><thing><name>Mathematics</name><identifier>https://ontology.example/math</identifier></thing></about>
  <about><thing><identifier>https://no-name.example/skip</identifier></thing></about>
</lrmi>"""


def test_ese_extract(spark):
    df = spark.createDataFrame([(ESE1,)], "xml string")
    r = ese.to_solr_columns(df).collect()[0]
    assert r.id == "ese-1"
    assert r.title_short == "Kalevala"
    assert r.title_sub == "the land of heroes"
    assert r.language == ["fin", "eng"]
    assert r.publishDate == "1849"  # 'about 1849' skipped
    assert r.isbn == ["9780306406157"]  # ISBN-10 run normalized to 13
    # no description URL → last identifier URL wins
    assert r.url == "http://europeana.example/1"
    assert r.author == "Lonnrot, Elias"
    assert r.author2 == ["Kirby, W. F."]
    assert "epic poetry" in r.allfields


def test_ese_url_description_overrides_identifier(spark):
    xml = ESE1.replace(
        "<subject>epic poetry</subject>",
        "<description>https://desc.example/9</description><subject>x</subject>",
    )
    df = spark.createDataFrame([(xml,)], "xml string")
    r = ese.to_solr_columns(df).collect()[0]
    assert r.url == "https://desc.example/9"


def test_doaj_extract(spark):
    df = spark.createDataFrame(
        [(DOAJ1, "oai:doaj.example:art-42")], "xml string, oai_id string"
    )
    r = doaj.to_solr_columns(df, "xml", oai_id_col="oai_id").collect()[0]
    assert r.id == "art-42"  # recordID absent → oai-id local part
    assert r.record_format == "doaj"
    assert r.format == "Article"
    assert r.title == "Open access in the north : a survey"  # trailing / stripped
    assert r.title_short == "Open access in the north"
    assert r.title_sub == "a survey"
    # only the FIRST author/keyword per block (reference quirk)
    assert r.author == ["Virtanen, Veera"]
    assert r.topic == ["open access"]
    assert r.language == ["eng", "fin", "swe"]
    assert r.publishDate == "2012"
    assert r.url == "https://doaj.example/a/1"
    assert r.publisher == ["OA Press"]


def test_doaj_non_oai_id_passthrough(spark):
    df = spark.createDataFrame([(DOAJ1, "plain-7")], "xml string, oai_id string")
    r = doaj.to_solr_columns(df, "xml", oai_id_col="oai_id").collect()[0]
    assert r.id == "plain-7"


def test_doaj_fulltext_xpaths(spark):
    xml = DOAJ1.replace(
        "</record>",
        "<fullText>hyphen-\nated text continues</fullText></record>",
    )
    df = spark.createDataFrame([(xml, "x")], "xml string, oai_id string")
    r = doaj.to_solr_columns(
        df, "xml", fulltext_xpaths=['//*[local-name()="fullText"]/text()']
    ).collect()[0]
    assert r.fulltext == "hyphenated text continues"


def test_lrmi_extract(spark):
    df = spark.createDataFrame([(LRMI1,)], "xml string")
    r = lrmi.to_solr_columns(df).collect()[0]
    assert r.record_format == "lrmi"
    # whole title — no ' : ' split for LRMI
    assert r.title == "Fractions for beginners : part one"
    assert r.title_short == r.title
    assert r.language == ["fi", "sv"]  # unique, lowercased
    assert r.author == ["Opettaja, Outi"]
    assert r.author2 == ["Opettaja, Outi", "Toinen, T."]
    assert r.author_corporate == ["Edu Board"]
    assert r.topic == ["Mathematics"]  # about without thing/name skipped
    assert r.topic_ids == ["http://ontology.example/math"]
    assert r.url == []


def test_malformed_xml_masked(spark):
    df = spark.createDataFrame([("<broken",)], "xml string")
    for mod in (ese, lrmi):
        r = mod.to_solr_columns(df).collect()[0]
        assert r.id == ""
    df2 = spark.createDataFrame([("<broken", "o")], "xml string, oai_id string")
    r = doaj.to_solr_columns(df2, "xml", oai_id_col="oai_id").collect()[0]
    assert r.id == "o"  # falls back to the oai id; xpath never ran


def test_dc_engines_agree(spark):
    """Flat records, namespaced records and malformed input match the rows
    pinned when the xpath and struct engines agreed (tests/golden_rows.py;
    ``allfields`` is pinned to its schema-order value)."""
    from recordmanager_spark.extractors import dc

    docs = [
        "<dc><recordID>r1</recordID><title>Big Title : part /</title>"
        "<creator>Auth, A.</creator><contributor>C1.</contributor>"
        "<contributor>C2</contributor><language>engfin swe</language>"
        "<date>2001-05-05</date><publisher>Pub,</publisher><type>Text</type>"
        "<subject>S1.</subject><identifier>9780306406157</identifier>"
        "<identifier>https://u/1</identifier><description>plain desc</description>"
        "<description>https://u/2</description></dc>",
        '<oai_dc:dc xmlns:oai_dc="http://x" xmlns:dc="http://y">'
        "<dc:recordID>r2</dc:recordID><dc:title>NS title</dc:title>"
        "<dc:creator>B</dc:creator></oai_dc:dc>",
        "<broken",
        "<dc><title>only title</title></dc>",
    ]
    df = spark.createDataFrame(list(enumerate(docs)), "__i int, xml string")
    out = dc.to_solr_columns(df, "xml")
    assert_golden(
        "dc_engines_agree", collect_rows(out, "xml", "__i", drop=("__i",))
    )


def test_lrmi_topic_ids_join_ready(spark):
    """topic_ids is the enrichment join key column (explode → join)."""
    df = spark.createDataFrame([(LRMI1,)], "xml string")
    out = lrmi.to_solr_columns(df).select(
        F.explode("topic_ids").alias("topic_id")
    )
    assert out.collect()[0].topic_id == "http://ontology.example/math"


def test_qdc_lrmi_ese_doaj_engines_agree(spark):
    """Every DC-family driver's rows, including malformed input, match the
    rows pinned when the xpath and struct engines agreed
    (tests/golden_rows.py). Fixtures keep multi-valued elements at the
    root level (the reference's own shape): the extractors read DIRECT
    children like the reference's SimpleXML chains."""
    from recordmanager_spark.extractors import doaj, ese, lrmi, qdc

    base = (
        "<recordID>r1</recordID><title>Main : sub</title>"
        '<title type="alternative">Alt</title>'
        '<identifier type="issn">1234-5679</identifier>'
        "<identifier>urn:isbn:978-0-12-345678-6</identifier>"
        "<identifier>https://x.example/r1</identifier>"
        '<description lang="en">Primary one.</description>'
        "<description>Secondary two.</description>"
        '<type type="material">Book</type>'
        "<creator>Author, A.</creator><contributor>Helper, H.</contributor>"
        "<subject>things</subject><publisher>Pub</publisher>"
        "<date>1999-05</date><language>en fi</language>"
    )
    lrmi_extra = (
        "<inLanguage>sv</inLanguage>"
        "<author><person><name>Person, P.</name></person>"
        "<organization><legalName>Org Oy</legalName></organization></author>"
        "<about><thing><name>topic A</name>"
        "<identifier>https://ont/a</identifier></thing></about>"
    )
    doaj_extra = (
        "<authors><author><name>First, F.</name></author>"
        "<author><name>Second, S.</name></author></authors>"
        "<keywords><keyword>kw1</keyword><keyword>kw2</keyword></keywords>"
        "<publicationDate>2001-02-03</publicationDate>"
        "<fullTextUrl>https://ft/x</fullTextUrl>"
    )
    cases = (
        ("qdc", qdc, {}, f"<dc>{base}</dc>"),
        ("lrmi", lrmi, {}, f"<dc>{base}{lrmi_extra}</dc>"),
        ("ese", ese, {}, f"<dc>{base}</dc>"),
        ("doaj", doaj, {"oai_id_col": "oai_id"}, f"<dc>{base}{doaj_extra}</dc>"),
    )
    for name, mod, kwargs, xml in cases:
        df = spark.createDataFrame(
            [(0, xml, "oai:x:loc1"), (1, "<broken", "oai:x:loc2")],
            "__i int, xml string, oai_id string",
        ).coalesce(1)
        out = mod.to_solr_columns(df, "xml", **kwargs)
        assert_golden(
            f"dc_family_engines_agree/{name}",
            collect_rows(out, "xml", "__i", drop=("__i",)),
        )
