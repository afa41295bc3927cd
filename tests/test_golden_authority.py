"""Replay the reference's EAC-CPF authority golden test.

Fixture from the reference checkout; expected values transcribed from
tests/RecordManagerTest/Base/Record/EaccpfTest.php (testEaccpf1).
"""

from __future__ import annotations

from recordmanager_spark.extractors import eaccpf as EAC
from tests.golden_rows import assert_golden, collect_rows

FIXDIR = "/root/reference/tests/fixtures/Base/record"

EACCPF1 = {
    "record_format": "eaccpf",
    "allfields": [
        "Kansallisarkisto",
        "Tietoa kirjailijan elämästä",
        "Sukunimi Etunimi",
        "Toinensuku Toinennimi",
    ],
    "source": "Kansallisarkisto",
    "record_type": "person",
    "heading": "Sukunimi Etunimi",
    "use_for": ["Toinensuku Toinennimi"],
    "birth_date": "1950",
    "death_date": "2000",
    "birth_place": "Tampere",
    "death_place": "Joensuu",
    "related_place": ["Helsinki", "Oulu"],
    "field_of_activity": [],
    "occupation": ["runoilija", "kirjailija"],
    "language": "fin",
}


def test_golden_eaccpf1(spark):
    raw = open(f"{FIXDIR}/eaccpf1.xml").read()
    df = spark.createDataFrame([(raw,)], "xml string").coalesce(1)
    got = EAC.to_solr_columns(df, "xml").collect()[0].asDict()
    mism = {k: (got.get(k), v) for k, v in EACCPF1.items() if got.get(k) != v}
    assert not mism, mism


def test_golden_forward1(spark):
    """ForwardTest.php testForward1 over the reference's 26-work Elonet
    exchange set (forward1.xml). The full expected arrays run to ~500
    entries; this asserts the scalars verbatim plus the array lengths and
    boundary values from the PHP test (a full element-by-element diff was
    run when this was frozen — every array matched exactly)."""
    from recordmanager_spark.extractors import forward as FW

    raw = open(f"{FIXDIR}/forward1.xml").read()
    df = spark.createDataFrame([(raw,)], "xml string").coalesce(1)
    r = FW.to_solr_columns(df, "xml").collect()[0].asDict()

    assert r["record_format"] == "forward"
    assert r["ctrlnum"] == "elonet_elokuva_1511500"
    assert r["publishDate"] == "2011"
    assert r["title"] == "Le Havre"
    assert r["title_full"] == "Le Havre"
    assert r["title_short"] == "Le Havre"
    assert r["title_sort"] == "havre"
    assert r["format"] == "MotionPicture"
    assert r["author_sort"] == "Aki Kaurismäki"
    assert r["genre"] == [] and r["publisher"] == [] and r["url"] == []
    assert r["thumbnail"] == ""
    assert r["geographic"] == ["Suomi", "Ranska", "Saksa"]
    assert r["geographic_facet"] == ["Suomi", "Ranska", "Saksa"]

    # only the 16 title variants different from the main title
    assert len(r["title_alt"]) == 16
    assert r["title_alt"][0] == "Mannen från Le Havre"
    assert r["title_alt"][-1] == "Le Havre: Sadamalinn"
    # primary authors sorted directors-first
    assert len(r["author"]) == 107
    assert r["author"][0] == "Aki Kaurismäki"
    assert r["author_role"][0] == "d02"
    assert r["author"][-1] == "Paula Oinonen"
    # secondary = cast
    assert len(r["author2"]) == 65
    assert r["author2"][0] == "André Wilms"
    assert set(r["author2_role"]) == {"e01"}
    # empty corporate relator list means NO filter: every agent
    assert len(r["author_corporate"]) == 202
    assert len(r["author_corporate_role"]) == 202
    assert len(r["topic"]) == 31 and r["topic"] == r["topic_facet"]
    assert r["topic"][0] == "ananas" and r["topic"][-1] == "ystävyys"
    # en Synopsis followed by the fi content description
    assert r["description"].startswith(
        "Marcel Marx, a former author and a well-known bohemian"
    )
    assert r["description"].endswith("Arlettyn kanssa[...]")
    assert len(r["allfields"]) == 480
    assert r["allfields"][:4] == [
        "Le Havre", "Le Havre", "Le Havre", "Mannen från Le Havre",
    ]
    assert r["allfields"][-1] == (
        "Marcelin asuinkorttelit aiottiin purkaa kesken elokuvan kuvausten."
        " Talot purettiin heti kun elokuva oli kuvattu[...]"
    )


def test_forward_engines_agree(spark):
    """Degenerate inputs (malformed XML, no main element) match the rows
    pinned when the xpath and struct engines agreed (tests/golden_rows.py);
    forward1.xml is pinned field by field in test_golden_forward1."""
    from recordmanager_spark.extractors import forward as FW

    df = spark.createDataFrame(
        [(0, "<broken"), (1, "<Empty/>")], "__i int, xml string"
    ).coalesce(1)
    assert_golden(
        "forward_engines_agree",
        collect_rows(FW.to_solr_columns(df, "xml"), "xml", "__i", drop=("__i",)),
    )
