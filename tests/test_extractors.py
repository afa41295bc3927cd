"""Golden-output tests for the MARC/DC extractors.

Mirrors the reference's test strategy (SURVEY §5): fixture record in,
full-field assertions out (tests/RecordManagerTest/Base/Record/MarcTest.php
pattern). Fixtures here are hand-written, not copied.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from recordmanager_spark.extractors import dc, marc
from tests.format_model import formats_as_list


def df(val): return val  # noqa: E704 - readability helper


def _marc_json(leader, fields):
    return json.dumps({"leader": leader, "fields": fields})


MARC1 = _marc_json(
    "00000cam a22000004i 4500",
    [
        {"001": "123456"},
        {"007": "ta"},
        {"008": "120101s2011    xxu           000 0 eng d"},
        {"010": {"ind1": " ", "ind2": " ", "subfields": [{"a": "  2011012345"}]}},
        {"020": {"ind1": " ", "ind2": " ", "subfields": [{"a": "978-0-12-345678-6 (hbk.)"}]}},
        {"022": {"ind1": " ", "ind2": " ", "subfields": [{"a": "1234-5678"}]}},
        {"035": {"ind1": " ", "ind2": " ", "subfields": [{"a": "(OCoLC)999999"}]}},
        {"041": {"ind1": "0", "ind2": " ", "subfields": [{"a": "eng"}, {"a": "fin"}]}},
        {"100": {"ind1": "1", "ind2": " ", "subfields": [{"a": "Author, Alice"}, {"d": "1970-"}]}},
        {
            "245": {
                "ind1": "1",
                "ind2": "0",
                "subfields": [{"a": "A grand title :"}, {"b": "subtitle of grandeur /"}],
            }
        },
        {"260": {"ind1": " ", "ind2": " ", "subfields": [{"b": "PubHouse,"}, {"c": "c2011."}]}},
        {"300": {"ind1": " ", "ind2": " ", "subfields": [{"a": "xii, 345 pages :"}]}},
        {"650": {"ind1": " ", "ind2": "0", "subfields": [{"a": "Testing."}]}},
        {"700": {"ind1": "1", "ind2": " ", "subfields": [{"a": "Helper, Bob"}]}},
        {"856": {"ind1": "4", "ind2": "0", "subfields": [{"u": "http://example.com/x"}]}},
    ],
)

# Alt-script record: 245 links to an 880 via $6 occurrence 01.
MARC_ALT = _marc_json(
    "00000cam a22000004i 4500",
    [
        {"001": "alt1"},
        {
            "245": {
                "ind1": "1",
                "ind2": "0",
                "subfields": [{"6": "880-01"}, {"a": "Romanized title"}],
            }
        },
        {
            "880": {
                "ind1": "1",
                "ind2": "0",
                "subfields": [{"6": "245-01/(2/r"}, {"a": "النسخة العربية"}],
            }
        },
        {
            "880": {
                "ind1": "1",
                "ind2": " ",
                "subfields": [{"6": "700-02"}, {"a": "unlinked author"}],
            }
        },
    ],
)


def _parsed(spark, *raws):
    sdf = spark.createDataFrame([(r,) for r in raws], ["raw"])
    return sdf.select(marc.parse_marc_in_json("raw").alias("marc"))


def _solr_row(spark, raw):
    out = marc.to_solr_columns(_parsed(spark, raw), "marc")
    return out.collect()[0]


def test_marc_basic_fields(spark):
    r = _solr_row(spark, MARC1)
    assert r.id == "123456"
    assert r.lccn == "2011012345"
    assert r.ctrlnum == ["(OCoLC)999999"]
    assert r.title == "A grand title : subtitle of grandeur"
    assert r.title_short == "A grand title"
    assert r.title_sub == "subtitle of grandeur"  # trailing / stripped
    assert r.author == ["Author, Alice 1970-"]
    assert r.author2 == ["Helper, Bob"]
    assert r.publisher == ["PubHouse"]  # 260$b strips trailing punctuation
    assert r.publish_year == "2011"
    assert r.page_count == 345  # first digit run in "xii, 345 pages"
    assert r.url == ["http://example.com/x"]
    assert r.issn == ["1234-5678"]


def test_marc_isbn_normalized_to_13(spark):
    r = _solr_row(spark, MARC1)
    assert r.isbn == ["9780123456786"]


def test_marc_languages(spark):
    r = _solr_row(spark, MARC1)
    # 008 language + each 041 value, NOT deduplicated (the reference
    # keeps both; normalize_fields dedups downstream as SolrUpdater does)
    assert r.language == ["eng", "eng", "fin"]


def test_marc_allfields_excludes_control(spark):
    r = _solr_row(spark, MARC1)
    assert "123456" not in r.allfields
    assert any("grand title" in v for v in r.allfields)


def test_marc_alt_script_880(spark):
    out = _parsed(spark, MARC_ALT).select(
        marc.get_fields_subfields(
            F.col("marc"), [(marc.GET_BOTH, "245", ["a"])]
        ).alias("both"),
        marc.get_fields_subfields(
            F.col("marc"), [(marc.GET_ALT, "245", ["a"])]
        ).alias("alt"),
        marc.get_fields_subfields(
            F.col("marc"), [(marc.GET_NORMAL, "245", ["a"])]
        ).alias("norm"),
    )
    r = out.collect()[0]
    assert r.norm == ["Romanized title"]
    assert r.alt == ["النسخة العربية"]
    assert r.both == ["Romanized title", "النسخة العربية"]


def test_marc_required_subfields(spark):
    out = _parsed(spark, MARC1).select(
        marc.get_fields_subfields(
            F.col("marc"), [(marc.GET_NORMAL, "260", ["b"], ["c"])]
        ).alias("with_req"),
        marc.get_fields_subfields(
            F.col("marc"), [(marc.GET_NORMAL, "260", ["b"], ["z"])]
        ).alias("missing_req"),
    )
    r = out.collect()[0]
    assert r.with_req == ["PubHouse,"]
    assert r.missing_req == []


def test_marc_split_subfields(spark):
    out = _parsed(spark, MARC1).select(
        marc.get_fields_subfields(
            F.col("marc"), [(marc.GET_NORMAL, "041", ["a"])], split_subfields=True
        ).alias("split"),
        marc.get_fields_subfields(
            F.col("marc"), [(marc.GET_NORMAL, "041", ["a"])]
        ).alias("joined"),
    )
    r = out.collect()[0]
    assert r.split == ["eng", "fin"]
    assert r.joined == ["eng fin"]


# --- format calculator (faithful FormatCalculator.php port) ----------------
# Python model tests; test_format_col_matches_model cross-checks the Column
# implementation against the model over the same cases.


def test_format_book():
    assert formats_as_list("00000cam a22000004i 4500", ["ta"], "120101s2011") == ["Book"]


def test_format_ebook():
    # eBook requires 008/23 (form of item) in (o, q, s) for LDR/06 = a
    f008 = "120101s2011    xxu     o" + " " * 16
    assert _get008_pos(f008, 23) == "o"
    lst = formats_as_list("00000cam a22000004i 4500", [], f008)
    assert "eBook" in lst
    # computer-file monograph that survives the not-book check is an eBook
    lst = formats_as_list("00000cmm a22000004i 4500", [], "1".ljust(26) + "d")
    assert "eBook" in lst and "Electronic" in lst


def _get008_pos(f008, pos):
    return f008[pos] if len(f008) > pos else " "


def test_format_journal():
    f008 = "120101c20119999xxu".ljust(21) + "p       0    0eng d"
    # leader/7 = s (serial), 008/21 = p (periodical)
    lst = formats_as_list("00000cas a22000004i 4500", [], f008)
    assert "Journal" in lst


def test_format_newspaper():
    f008 = "1".ljust(21) + "n"
    assert "Newspaper" in formats_as_list("00000cas a22000004i 4500", [], f008)


def test_format_serial_conference_suppressed():
    # a serial that is a conference proceeding gets no 'Serial' format
    lst = formats_as_list("00000cas a22000004i 4500", [], "", has_111=True)
    assert lst == ["ConferenceProceeding"]


def test_format_video():
    lst = formats_as_list("00000cgm a22000004i 4500", ["vd"], "")
    assert "Video" in lst and "VideoDisc" in lst
    # 007 vd with position 5 = s is a Blu-Ray disc
    lst = formats_as_list("00000cgm a22000004i 4500", ["vd  s"], "")
    assert "BRDisc" in lst
    # bare 'v' 007 defaults to VideoOnline
    assert "VideoOnline" in formats_as_list("00000cgm a22000004i 4500", ["vz"], "")


def test_format_projected_medium():
    # LDR/06 g with no 008/33, 008/34 or g/m/v 007 -> ProjectedMedium
    assert "ProjectedMedium" in formats_as_list("00000cgm a22000004i 4500", [], "")
    # ... but 008/34 technique set -> Video
    f008 = "1".ljust(34) + "l"
    assert "Video" in formats_as_list("00000cgm a22000004i 4500", [], f008)


def test_format_map():
    assert "Map" in formats_as_list("00000cem a22000004i 4500", [], "")
    # 008/25 distinguishes globes and atlases for cartographic records
    assert "Globe" in formats_as_list("00000cem a22000004i 4500", [], "1".ljust(25) + "d")
    assert "Atlas" in formats_as_list("00000cem a22000004i 4500", [], "1".ljust(25) + "e")


def test_format_sound():
    assert "SoundRecording" in formats_as_list("00000cim a22000004i 4500", [], "")
    assert "MusicRecording" in formats_as_list("00000cjm a22000004i 4500", [], "")


def test_format_computer_file_types():
    f = lambda c26: formats_as_list(  # noqa: E731
        "00000cmm a22000004i 4500", [], "1".ljust(26) + c26
    )
    assert "DataSet" in f("a")
    assert "Software" in f("b")
    assert "VideoGame" in f("g")
    assert "InteractiveMultimedia" in f("i")
    # every computer file is Electronic
    assert "Electronic" in f("b")


def test_format_component_parts():
    # monograph component: BookComponentPart, or Article with a 773$g host
    assert formats_as_list("00000caa a22000004i 4500", [], "") == ["BookComponentPart"]
    assert formats_as_list(
        "00000caa a22000004i 4500", [], "", serial_host=True
    ) == ["Article"]
    assert formats_as_list("00000cab a22000004i 4500", [], "") == ["SerialComponentPart"]


def test_format_integrating_resources():
    lead = "00000cai a22000004i 4500"
    assert "Website" in formats_as_list(lead, [], "1".ljust(21) + "w")
    assert "OnlineIntegratingResource" in formats_as_list(
        lead, [], "1".ljust(22) + "o"
    )
    assert "PhysicalIntegratingResource" in formats_as_list(lead, [], "")


def test_format_specials():
    lst = formats_as_list(
        "00000cam a22000004i 4500", [], "",
        has_086=True, has_502=True, has_711=True,
        f245_h="monograph [electronic resource]",
    )
    assert lst[:4] == [
        "GovernmentDocument", "Thesis", "Electronic", "ConferenceProceeding"
    ]
    # thesis suppresses Manuscript for LDR/06 = t
    lst = formats_as_list("00000ctm a22000004i 4500", [], "", has_502=True)
    assert "Manuscript" not in lst and "Thesis" in lst


def test_format_33x():
    # 336 tdi/rdacontent -> Video (and VideoOnline with 338 cr/rdacarrier),
    # suppressing the record-type probe and the Book path
    lst = formats_as_list(
        "00000cam a22000004i 4500", [], "", video_336=True, online_338=True
    )
    assert "Video" in lst and "VideoOnline" in lst and "Book" not in lst


def test_format_007_tables():
    lead = "00000cam a22000004i 4500"
    f = lambda s007: formats_as_list(lead, [s007], "")  # noqa: E731
    assert "Atlas" in f("ad")
    assert "CDROM" in f("co")
    assert "FloppyDisk" in f("cj")
    assert "Postcard" in f("kp")
    assert "Poster" in f("kk")
    assert "Microfilm" in f("ha")
    assert "SoundDisc" in f("sd")
    assert "TapeCassette" in f("cf")
    # 007 c/r (remote) intentionally maps to nothing
    assert f("cr") == ["Book"]


def test_format_unknown_fallbacks():
    assert formats_as_list("", [], "") == ["Unknown"]
    assert formats_as_list("00000cac a22000004i 4500", [], "") == ["Kit"]
    # language material with no other signal -> Text (blevel x: no format)
    assert formats_as_list("00000cax a22000004i 4500", [], "") == ["Text"]


def test_format_col_matches_model(spark):
    """The Column implementation must agree with the Python model."""
    from recordmanager_spark.extractors.format_calculator import format_col

    cases = [
        # (leader, fields) exercising every major branch incl. record cues
        ("00000cam a22000004i 4500", [("007", "ta"), ("008", "120101s2011")]),
        ("00000cam a22000004i 4500", [("008", "120101s2011    xxu     o")]),
        ("00000cas a22000004i 4500", [("008", "1".ljust(21) + "p")]),
        ("00000cas a22000004i 4500", [("008", "1".ljust(21) + "n")]),
        ("00000cgm a22000004i 4500", [("007", "vd  s")]),
        ("00000cgm a22000004i 4500", []),
        ("00000cem a22000004i 4500", [("008", "1".ljust(25) + "e")]),
        ("00000cmm a22000004i 4500", [("008", "1".ljust(26) + "g")]),
        ("00000caa a22000004i 4500", []),
        ("00000cab a22000004i 4500", []),
        ("00000cai a22000004i 4500", [("008", "1".ljust(21) + "w")]),
        ("", []),
        ("00000cac a22000004i 4500", []),
        ("00000ctm a22000004i 4500", [("502", None)]),
        ("00000cam a22000004i 4500", [("086", None), ("111", None)]),
        ("00000cam a22000004i 4500", [("773g", None)]),
        ("00000cam a22000004i 4500", [("245h", None)]),
        ("00000cam a22000004i 4500", [("336", None), ("338", None)]),
        ("00000cam a22000004i 4500", [("338", None)]),
        ("00000ckm a22000004i 4500", [("007", "kp"), ("007", "sd")]),
    ]

    def fields_json(fields):
        out = []
        for tag, val in fields:
            if tag in ("007", "008"):
                out.append({tag: val})
            elif tag == "773g":
                out.append({"773": {"ind1": " ", "ind2": " ",
                                    "subfields": [{"g": "vol. 3"}]}})
            elif tag == "245h":
                out.append({"245": {"ind1": " ", "ind2": " ",
                                    "subfields": [{"a": "T"},
                                                  {"h": "[Electronic resource]"}]}})
            elif tag == "336":
                out.append({"336": {"ind1": " ", "ind2": " ",
                                    "subfields": [{"b": "tdi"}, {"2": "rdacontent"}]}})
            elif tag == "338":
                out.append({"338": {"ind1": " ", "ind2": " ",
                                    "subfields": [{"a": "online resource"},
                                                  {"2": "rdacarrier"}]}})
            else:
                out.append({tag: {"ind1": " ", "ind2": " ",
                                  "subfields": [{"a": "x"}]}})
        return out

    raws = [_marc_json(ld, fields_json(fs)) for ld, fs in cases]
    parsed = _parsed(spark, *raws)
    got = [r.fmt for r in parsed.select(format_col(F.col("marc")).alias("fmt")).collect()]

    for (ld, fs), actual in zip(cases, got):
        f007s = [v for t, v in fs if t == "007"]
        f008 = next((v for t, v in fs if t == "008"), "")
        tags = [t for t, _ in fs]
        expected = formats_as_list(
            ld, f007s, f008,
            has_086="086" in tags, has_502="502" in tags,
            has_111="111" in tags, has_711="711" in tags,
            serial_host="773g" in tags,
            f245_h="[Electronic resource]" if "245h" in tags else "",
            video_336="336" in tags, online_338="338" in tags,
        )
        assert actual == expected, (ld, fs, actual, expected)


# --- DC ---------------------------------------------------------------------

DC1 = """<oai_dc:dc xmlns:oai_dc="http://www.openarchives.org/OAI/2.0/oai_dc/"
    xmlns:dc="http://purl.org/dc/elements/1.1/">
  <recordID>dc-42</recordID>
  <dc:title>Basic title : with a subtitle</dc:title>
  <dc:creator>Writer, Wendy.</dc:creator>
  <dc:contributor>Second, Sam</dc:contributor>
  <dc:subject>testing</dc:subject>
  <dc:subject>spark</dc:subject>
  <dc:publisher>DC House</dc:publisher>
  <dc:date>2019-05-01</dc:date>
  <dc:type>Text</dc:type>
  <dc:language>eng finswe</dc:language>
  <dc:identifier>978-0-12-345678-6</dc:identifier>
  <dc:identifier>https://example.org/dc42</dc:identifier>
  <dc:description>https://example.org/fulltext</dc:description>
  <dc:description>An actual abstract.</dc:description>
</oai_dc:dc>"""


def test_dc_extract(spark):
    sdf = spark.createDataFrame([(DC1,)], ["xml"])
    r = dc.to_solr_columns(sdf, "xml").collect()[0]
    assert r.id == "dc-42"
    assert r.title == "Basic title : with a subtitle"
    assert r.title_short == "Basic title"
    assert r.title_sub == "with a subtitle"
    assert r.author == "Writer, Wendy"
    assert r.author2 == ["Second, Sam"]
    assert r.topic == ["testing", "spark"]
    assert r.language == ["eng", "fin", "swe"]
    assert r.publishDate == "2019"
    assert r.isbn == ["9780123456786"]
    assert set(r.url) == {"https://example.org/dc42", "https://example.org/fulltext"}
    assert r.contents == ["An actual abstract."]
    assert r.format == "Text"


# --- relator-classified authors + new Solr columns --------------------------

MARC_AUTHORS = _marc_json(
    "00000cam a22000004i 4500",
    [
        {"001": "auth1"},
        {"008": "120101s2011    xxu     o           eng d"},
        # primary: 100 without relator
        {"100": {"ind1": "1", "ind2": " ",
                 "subfields": [{"a": "Yeats, William Butler"}]}},
        # primary: 700 with 'aut' relator (normalized from "Aut.")
        {"700": {"ind1": "1", "ind2": " ",
                 "subfields": [{"a": "Second, Sam"}, {"e": "Aut."}]}},
        # secondary: 700 with non-primary relator
        {"700": {"ind1": "1", "ind2": " ",
                 "subfields": [{"a": "Editor, Ed"}, {"e": "edt"}]}},
        # corporate incl. 111 meetings
        {"110": {"ind1": "2", "ind2": " ", "subfields": [{"a": "Acme Corp"}]}},
        {"111": {"ind1": "2", "ind2": " ", "subfields": [{"a": "Conf 2020"}]}},
        {"024": {"ind1": "7", "ind2": " ",
                 "subfields": [{"a": "10.1234/abc"}, {"2": "DOI"}]}},
        {"856": {"ind1": "4", "ind2": "0",
                 "subfields": [{"u": "https://doi.org/10.5/xy%20z?foo=1"}]}},
        {"035": {"ind1": " ", "ind2": " ", "subfields": [{"a": "(OCoLC)00012345"}]}},
        {"035": {"ind1": " ", "ind2": " ", "subfields": [{"a": "ocm0099  77"}]}},
        {"035": {"ind1": " ", "ind2": " ", "subfields": [{"a": "(FI-X)555"}]}},
        {"650": {"ind1": " ", "ind2": "0",
                 "subfields": [{"a": "Poetry."}, {"x": "History."}]}},
        {"655": {"ind1": " ", "ind2": "7", "subfields": [{"a": "lyric poems."}]}},
        {"780": {"ind1": "0", "ind2": "0", "subfields": [{"t": "Old Title"}]}},
        {"785": {"ind1": "0", "ind2": "0", "subfields": [{"t": "New Title"}]}},
        {"300": {"ind1": " ", "ind2": " ",
                 "subfields": [{"a": "300 p. :"}, {"b": "col. illus."}]}},
    ],
)


def test_marc_authors_by_relator(spark):
    r = _solr_row(spark, MARC_AUTHORS)
    assert r.author == ["Yeats, William Butler", "Second, Sam"]
    assert r.author_role == ["", "aut"]
    assert r.author2 == ["Editor, Ed"]
    assert r.author2_role == ["edt"]
    assert sorted(r.author_corporate) == ["Acme Corp", "Conf 2020"]
    assert r.author_sort == "Yeats, William Butler"
    # getAuthorInitials: personal name rotates surname last; long personal
    # names add the given-names smush ("w b" + "wb" + "wby")
    assert r.author_variant[0] == "w b y wb wby"


def test_marc_new_identifier_columns(spark):
    r = _solr_row(spark, MARC_AUTHORS)
    assert r.doi_str_mv == ["10.1234/abc", "10.5/xy z"]
    assert r.oclc_num == ["12345", "99"]
    assert r.illustrated == "Illustrated"
    assert r.title_old == ["Old Title"]
    assert r.title_new == ["New Title"]
    assert "History" in r.topic_facet and "Poetry" in r.topic_facet
    assert r.genre_facet == ["Lyric poems"]  # ucFirst applied
    assert "eBook" in r.format  # 008/23 = o with LDR a+m


MARC_CALLNUM = _marc_json(
    "00000cam a22000004i 4500",
    [
        {"001": "cn1"},
        {"050": {"ind1": "0", "ind2": "0",
                 "subfields": [{"a": "QA76.73"}, {"b": ".P98 2011"}]}},
        {"080": {"ind1": " ", "ind2": " ", "subfields": [{"a": "004.43"}]}},
        {"082": {"ind1": "0", "ind2": "0", "subfields": [{"a": "005.133"}]}},
        {"083": {"ind1": "0", "ind2": " ", "subfields": [{"a": "004.2"}]}},
        {"245": {"ind1": "1", "ind2": "0", "subfields": [{"a": "CN test"}]}},
    ],
)


def test_marc_callnumber_columns(spark):
    r = _solr_row(spark, MARC_CALLNUM)
    assert r.callnumber_first == "QA76.73"  # 099 > 090 > 050 priority
    assert r.callnumber_subject == "QA"
    assert r.callnumber_label == "QA76"  # pre-dot part uppercased
    assert r.callnumber_raw == ["004.43", "QA76.73 .P98 2011"]
    assert r.callnumber_sort  # valid LC CN produces a sort key
    # dewey: last 082/083 field wins for the numbers, first for sort
    assert r.dewey_raw == "004.2"
    assert r.dewey_hundreds == "000"
    assert r.dewey_ones == "004"
    assert r.dewey_full == "004.2"
    assert r.dewey_sort  # from the first (005.133)


def test_marc_geographic_locations(spark):
    """034 -> WKT (getGeographicLocations): box, point, weird order
    swapped, invalid coordinates discarded."""
    rec = _marc_json(
        "00000cam a22000004i 4500",
        [
            {"001": "geo1"},
            # full box (decimal degrees)
            {"034": {"ind1": " ", "ind2": " ", "subfields": [
                {"d": "10"}, {"e": "20"}, {"f": "60"}, {"g": "50"}]}},
            # degenerate box -> POINT
            {"034": {"ind1": " ", "ind2": " ", "subfields": [
                {"d": "25"}, {"e": "25"}, {"f": "60"}, {"g": "60"}]}},
            # weird order (west > east, south > north) -> swapped
            {"034": {"ind1": " ", "ind2": " ", "subfields": [
                {"d": "20"}, {"e": "10"}, {"f": "50"}, {"g": "60"}]}},
            # out of range -> discarded
            {"034": {"ind1": " ", "ind2": " ", "subfields": [
                {"d": "200"}, {"e": "210"}, {"f": "60"}, {"g": "50"}]}},
            # box whose east edge is out of range (and past a long) ->
            # discarded, never formatted
            {"034": {"ind1": " ", "ind2": " ", "subfields": [
                {"d": "10"}, {"e": "9e300"}, {"f": "60"}, {"g": "50"}]}},
            # DMS form (E 25 08 31 ~ 25.141944) point
            {"034": {"ind1": " ", "ind2": " ", "subfields": [
                {"d": "E0250831"}, {"f": "N0372500"}]}},
            {"245": {"ind1": "1", "ind2": "0", "subfields": [{"a": "G"}]}},
        ],
    )
    r = _solr_row(spark, rec)
    assert r.long_lat[0] == "ENVELOPE(10, 20, 60, 50)"
    assert r.long_lat[1] == "POINT(25 60)"
    assert r.long_lat[2] == "ENVELOPE(10, 20, 60, 50)"
    assert len(r.long_lat) == 4  # out-of-range ones dropped
    assert r.long_lat[3].startswith("POINT(25.14")


def test_marc_title_semantics(spark):
    """getTitle: punctuation glue, 240 fallback, non-filing filing form."""
    glue = _marc_json(
        "00000cam a22000004i 4500",
        [
            {"001": "t1"},
            # $a without trailing punctuation -> ' : ' glue before $b
            {"245": {"ind1": "1", "ind2": "4",
                     "subfields": [{"a": "The title"}, {"b": "a subtitle"},
                                   {"n": "Part 1"}]}},
        ],
    )
    r = _solr_row(spark, glue)
    assert r.title == "The title : a subtitle. Part 1"
    # filing: ind2=4 drops "The " and punctuation is stripped + lowercased
    assert r.title_sort == "title a subtitle part 1"

    fallback = _marc_json(
        "00000cam a22000004i 4500",
        [
            {"001": "t2"},
            {"240": {"ind1": "1", "ind2": "0",
                     "subfields": [{"a": "Uniform only"}]}},
        ],
    )
    r = _solr_row(spark, fallback)
    assert r.title == "Uniform only"


def test_marc_unique_ids(spark):
    """getUniqueIDs: 010/015/016/024/035 sources, normalized values."""
    rec = _marc_json(
        "00000cam a22000004i 4500",
        [
            {"001": "u1"},
            {"010": {"ind1": " ", "ind2": " ",
                     "subfields": [{"a": " 2011-01234 "}, {"b": "ms 611"}]}},
            {"015": {"ind1": " ", "ind2": " ",
                     "subfields": [{"a": "F2012-33"}, {"2": "skl"}]}},
            {"024": {"ind1": "2", "ind2": " ",
                     "subfields": [{"a": "979-0-1234-5678-5"}]}},
            {"035": {"ind1": " ", "ind2": " ",
                     "subfields": [{"a": "(OCoLC)1234"}]}},
            {"035": {"ind1": " ", "ind2": " ",
                     "subfields": [{"a": "local-only-9"}]}},  # no SCN prefix
            {"245": {"ind1": "1", "ind2": "0", "subfields": [{"a": "U"}]}},
        ],
    )
    r = _solr_row(spark, rec)
    assert "(lccn)201101234" in r.unique_ids
    # the reference's nucmc entry carries the LCCN value — pinned here
    assert "(nucmc)201101234" in r.unique_ids
    assert "(skl)f201233" in r.unique_ids
    assert "(ismn)9790123456785" in r.unique_ids
    assert "ocolc1234" in r.unique_ids
    assert not any("local" in u for u in r.unique_ids)

    # invalid ISMN (no 13-digit run) drops
    rec2 = _marc_json(
        "00000cam a22000004i 4500",
        [
            {"001": "u2"},
            {"024": {"ind1": "2", "ind2": " ", "subfields": [{"a": "M-1234"}]}},
            {"245": {"ind1": "1", "ind2": "0", "subfields": [{"a": "U"}]}},
        ],
    )
    assert _solr_row(spark, rec2).unique_ids == []
