"""Golden tests for MARC authority and Forward authority extractors."""

from __future__ import annotations

import json

from recordmanager_spark.extractors import forward_authority, marc_authority
from recordmanager_spark.extractors.marc import parse_marc_in_json
from tests.golden_rows import assert_golden, collect_rows

PERSON = json.dumps(
    {
        "leader": "00000nz  a2200000n  4500",
        "fields": [
            {"035": {"ind1": " ", "ind2": " ", "subfields": [{"a": "(FIN11)12345"}]}},
            {"100": {"ind1": "1", "ind2": " ", "subfields": [{"a": "Sibelius, Jean, "}]}},
            {"400": {"ind1": "1", "ind2": " ", "subfields": [{"a": "Sibelius, Janne."}]}},
            {"400": {"ind1": "1", "ind2": " ", "subfields": [{"a": "Sibelius, Johan."}]}},
            {"500": {"ind1": "1", "ind2": " ", "subfields": [{"a": "Related, R."}]}},
            {"046": {"ind1": " ", "ind2": " ", "subfields": [{"f": "1865-12-08"}, {"g": "1957-09-20"}]}},
            {
                "370": {
                    "ind1": " ",
                    "ind2": " ",
                    "subfields": [
                        {"a": "Hämeenlinna"},
                        {"b": "Järvenpää"},
                        {"c": "Finland"},
                        {"e": "Helsinki."},
                        {"f": "Vienna."},
                    ],
                }
            },
            {"372": {"ind1": " ", "ind2": " ", "subfields": [{"a": "Composition"}, {"a": "Conducting"}]}},
            {"374": {"ind1": " ", "ind2": " ", "subfields": [{"a": "Composer"}, {"0": "http://occ/1"}]}},
            {"374": {"ind1": " ", "ind2": " ", "subfields": [{"a": "Conductor"}]}},
        ],
    }
)

CORP = json.dumps(
    {
        "leader": "00000nz  a2200000n  4500",
        "fields": [
            {"035": {"ind1": " ", "ind2": " ", "subfields": [{"a": "(FIN11)999"}]}},
            {
                "110": {
                    "ind1": "2",
                    "ind2": " ",
                    "subfields": [{"a": "Helsinki University."}, {"b": "Library."}, {"b": "Music Dept."}],
                }
            },
            {"410": {"ind1": "2", "ind2": " ", "subfields": [{"a": "HY Library"}]}},
        ],
    }
)

FWD = """<envelope><CAgent>
  <AgentIdentifier><IDTypeName>elonet_henkilo</IDTypeName><IDValue>220191</IDValue></AgentIdentifier>
  <CAgentName><PersonName>Kaurismaki, Aki</PersonName></CAgentName>
  <AgentDate><AgentDateEventType>51</AgentDateEventType><DateText>4.4.1957</DateText><LocationName>Orimattila</LocationName></AgentDate>
  <AgentPlace><LocationName>Helsinki</LocationName></AgentPlace>
  <ProfessionalAffiliation><Affiliation>Sputnik</Affiliation><ProfessionalPosition>Director</ProfessionalPosition></ProfessionalAffiliation>
  <BiographicalNote>Finnish film director.</BiographicalNote>
  <RecordSource><SourceName>Elonet</SourceName></RecordSource>
  <RecordSource><SourceName>KAVI</SourceName></RecordSource>
</CAgent></envelope>"""


def _parse(spark, raw):
    df = spark.createDataFrame([(raw,)], "raw string")
    return df.select(parse_marc_in_json("raw").alias("marc"))


def test_marc_authority_person(spark):
    r = marc_authority.to_solr_columns(_parse(spark, PERSON), source="au").collect()[0]
    assert r.id == "(FIN11)12345"
    assert r.record_type == "Personal Name"
    assert r.heading == "Sibelius, Jean,"  # rtrim of ' .' only
    # 400s first, then 500; order-preserving unique; '. ' trimmed
    assert r.use_for == ["Sibelius, Janne", "Sibelius, Johan", "Related, R"]
    assert r.birth_date == "1865"
    assert r.death_date == "1957"
    assert r.birth_place == "Hämeenlinna"
    assert r.death_place == "Järvenpää"
    assert r.country == "Finland"
    assert r.related_places_str_mv == ["Helsinki", "Vienna"]
    assert r.field_of_activity == ["Composition", "Conducting"]
    assert r.occupation == ["Composer", "Conductor"]  # first $a per field
    assert r.occupation_ids == ["http://occ/1"]
    assert r.source_str_mv == "au"


def test_marc_authority_corporate(spark):
    r = marc_authority.to_solr_columns(_parse(spark, CORP)).collect()[0]
    assert r.record_type == "Corporate Name"
    # $a + all $b joined by ' / ', each '. '-trimmed
    assert r.heading == "Helsinki University / Library / Music Dept"
    assert r.use_for == ["HY Library"]
    assert r.birth_date == ""
    assert r.occupation == []


def test_forward_authority(spark):
    df = spark.createDataFrame([(FWD,)], "xml string")
    r = forward_authority.to_solr_columns(df, source="fwa").collect()[0]
    assert r.id == "elonet_henkilo_220191"
    assert r.record_format == "forwardAuthority"
    assert r.record_type == "elonet_henkilo"
    assert r.heading == "Kaurismaki, Aki"
    assert r.use_for == ["Kaurismaki, Aki"]
    assert r.birth_date == "1957"
    assert r.birth_place == "Orimattila"
    assert r.death_date == ""  # no type-52 AgentDate
    assert r.death_place == ""
    assert r.related_place == ["Helsinki"]
    assert r.occupation == ["Sputnik: Director"]
    # agency names joined '. ', then note, then heading twice (heading+use_for)
    assert r.allfields == [
        "Elonet. KAVI",
        "Finnish film director.",
        "Kaurismaki, Aki",
        "Kaurismaki, Aki",
    ]


def test_forward_authority_corporate_name_fallback(spark):
    xml = FWD.replace(
        "<CAgentName><PersonName>Kaurismaki, Aki</PersonName></CAgentName>",
        "<CAgentName><CorporateName>Villealfa Oy</CorporateName></CAgentName>",
    )
    df = spark.createDataFrame([(xml,)], "xml string")
    r = forward_authority.to_solr_columns(df).collect()[0]
    assert r.heading == "Villealfa Oy"


def test_forward_authority_occupation_position_only(spark):
    xml = FWD.replace("<Affiliation>Sputnik</Affiliation>", "")
    df = spark.createDataFrame([(xml,)], "xml string")
    r = forward_authority.to_solr_columns(df).collect()[0]
    assert r.occupation == ["Director"]


def test_forward_authority_engines_agree(spark):
    """The fixture, malformed XML and an empty envelope match the rows
    pinned when the xpath and struct engines agreed (tests/golden_rows.py)."""
    df = spark.createDataFrame(
        [(0, FWD), (1, "<broken"), (2, "<envelope/>")], "__i int, xml string"
    ).coalesce(1)
    out = forward_authority.to_solr_columns(df, source="fwa")
    assert_golden(
        "forward_authority_engines_agree",
        collect_rows(out, "xml", "__i", drop=("__i",)),
    )
