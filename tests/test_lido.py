"""LIDO extractor golden test."""

from __future__ import annotations

from recordmanager_spark.extractors import lido
from tests.golden_rows import assert_golden, collect_rows

LIDO1 = """<lido xmlns="http://www.lido-schema.org">
  <descriptiveMetadata>
    <objectClassificationWrap>
      <objectWorkTypeWrap><objectWorkType><term>Painting</term></objectWorkType></objectWorkTypeWrap>
    </objectClassificationWrap>
    <objectIdentificationWrap>
      <titleWrap>
        <titleSet><appellationValue>The Starry Meadow</appellationValue></titleSet>
        <titleSet><appellationValue>Alt Title</appellationValue></titleSet>
      </titleWrap>
      <repositoryWrap>
        <repositorySet><repositoryName><legalBodyName><appellationValue>City Museum</appellationValue></legalBodyName></repositoryName></repositorySet>
      </repositoryWrap>
      <objectDescriptionWrap>
        <objectDescriptionSet><descriptiveNoteValue>A lovely meadow scene.</descriptiveNoteValue></objectDescriptionSet>
      </objectDescriptionWrap>
    </objectIdentificationWrap>
    <eventWrap>
      <eventSet><event>
        <eventType><term>Creation</term></eventType>
        <eventActor><actorInRole><actor><nameActorSet><appellationValue>Painter, Paula</appellationValue></nameActorSet></actor></actorInRole></eventActor>
        <eventDate><displayDate>1899</displayDate></eventDate>
        <eventMaterialsTech><materialsTech><termMaterialsTech><term>oil on canvas</term></termMaterialsTech></materialsTech></eventMaterialsTech>
      </event></eventSet>
      <eventSet><event>
        <eventType><term>usage</term></eventType>
        <eventActor><actorInRole><actor><nameActorSet><appellationValue>Not An Author</appellationValue></nameActorSet></actor></actorInRole></eventActor>
        <eventPlace><displayPlace>Helsinki.</displayPlace></eventPlace>
      </event></eventSet>
    </eventWrap>
    <objectRelationWrap>
      <subjectWrap><subjectSet><subject><subjectConcept><term>landscape</term></subjectConcept></subject></subjectSet></subjectWrap>
    </objectRelationWrap>
  </descriptiveMetadata>
  <administrativeMetadata>
    <recordWrap><recordID>LIDO-77</recordID></recordWrap>
    <resourceWrap><resourceSet><resourceRepresentation>
      <linkResource>https://img.example/77.jpg</linkResource>
    </resourceRepresentation></resourceSet></resourceWrap>
  </administrativeMetadata>
</lido>"""


def test_lido_extract(spark):
    df = spark.createDataFrame([(LIDO1,)], "xml string")
    r = lido.to_solr_columns(df).collect()[0]
    # default mergeTitleSets joins same-language titleSets with '; '
    # (Lido.php getTitles; LidoTest testLido1 shows the merged form)
    assert r.title == "The Starry Meadow; Alt Title"
    assert r.title_sort.lower().startswith("starry meadow")  # article stripped
    assert r.title_alt == []
    assert r.format == "Painting"
    assert r.institution == "City Museum"
    assert r.author == ["Painter, Paula"]
    assert r.author_sort == "Painter, Paula"
    assert r.era == ["1899"]
    assert r.geographic == ["Helsinki"]
    assert r.material == ["oil on canvas"]
    assert r.topic == ["landscape"]
    assert r.ctrlnum == []  # getRecordInfoIDs needs typed recordInfoIDs
    assert r.thumbnail == "https://img.example/77.jpg"
    assert r.description == "A lovely meadow scene."


def test_lido_malformed(spark):
    df = spark.createDataFrame([("<lido",), (None,)], "xml string")
    out = lido.to_solr_columns(df).collect()
    assert all(r.title == "" for r in out)


QDC1 = """<qualifieddc>
  <recordID>q-5</recordID>
  <title>Main : with sub</title>
  <title type="alternative">Other Name</title>
  <creator>Maker, M.</creator>
  <identifier type="issn">1234-5678</identifier>
  <identifier>978-0-12-345678-6</identifier>
  <identifier>https://x.example/q5</identifier>
  <description>Primary desc.</description>
  <description>Secondary.</description>
  <type>Text</type>
  <language>eng</language>
</qualifieddc>"""


def test_qdc_extract(spark):
    from recordmanager_spark.extractors import qdc

    df = spark.createDataFrame([(QDC1,)], "xml string")
    r = qdc.to_solr_columns(df).collect()[0]
    assert r.id == "q-5"
    assert r.title == "Main : with sub"
    assert r.title_short == "Main"
    assert r.title_sub == "with sub"
    assert r.title_alt == ["Other Name"]
    assert r.issn == ["1234-5678"]
    assert r.isbn == ["9780123456786"]
    assert r.url == ["https://x.example/q5"]
    assert r.description == "Primary desc."
    assert r.contents == ["Primary desc.", "Secondary."]
    assert r.author == ["Maker, M."]


EACCPF1 = """<eac-cpf xmlns="urn:isbn:1-931666-33-4">
  <control><maintenanceAgency><agencyName>Nat Lib</agencyName></maintenanceAgency></control>
  <cpfDescription>
    <identity>
      <entityType>person</entityType>
      <nameEntry>
        <part localType="TONI1">Author, Alice</part>
        <part localType="TONI4">1880-1950</part>
      </nameEntry>
      <nameEntryParallel><nameEntry>
        <part localType="TONI1">A. Author</part>
      </nameEntry></nameEntryParallel>
      <nameEntryParallel><nameEntry>
        <part localType="TONI4">Alice A.</part>
      </nameEntry></nameEntryParallel>
    </identity>
    <description>
      <existDates><dateSet>
        <date localType="http://rdaregistry.info/Elements/a/P50121" standardDate="1880-01-02">1880</date>
        <date localType="http://rdaregistry.info/Elements/a/P50120" standardDate="1950-03-04">1950</date>
      </dateSet></existDates>
      <occupation><term>Novelist</term></occupation>
      <functions><function localType="TJ37">
        <descriptiveNote><p>Writing</p></descriptiveNote>
      </function></functions>
    </description>
  </cpfDescription>
</eac-cpf>"""


def test_eaccpf_extract(spark):
    from recordmanager_spark.extractors import eaccpf

    df = spark.createDataFrame([(EACCPF1,)], "xml string")
    r = eaccpf.to_solr_columns(df).collect()[0]
    assert r.record_type == "person"
    # TONI1 + TONI4 parts joined with a space (Eaccpf.php getHeading)
    assert r.heading == "Author, Alice 1880-1950"
    assert r.use_for == ["A. Author", "Alice A."]
    assert r.birth_date == "1880"
    assert r.death_date == "1950"
    assert r.occupation == ["Novelist"]
    assert r.field_of_activity == ["Writing"]
    assert r.agency == "Nat Lib"


FORWARD1 = """<ProductionWork>
  <Identifier IDTypeName="fw">1</Identifier>
  <IdentifyingTitle>The Great Film</IdentifyingTitle>
  <Title><TitleText>The Great Film</TitleText></Title>
  <Title><TitleText>Le Grand Film</TitleText></Title>
  <YearOfReference>1972</YearOfReference>
  <HasAgent><AgentName>Director, Dana</AgentName><Activity>D02</Activity></HasAgent>
  <HasAgent><AgentName>Actor, Amy</AgentName><Activity>E01</Activity></HasAgent>
  <HasAgent><AgentName>Grip, Gary</AgentName><Activity>x99</Activity></HasAgent>
  <ContentDescription><DescriptionType>Synopsis</DescriptionType><Language>en</Language><DescriptionText>A film about things.</DescriptionText></ContentDescription>
  <SubjectTerms><Term>drama</Term></SubjectTerms>
  <Genre>feature</Genre>
</ProductionWork>"""


def test_forward_extract(spark):
    from recordmanager_spark.extractors import forward

    df = spark.createDataFrame([(FORWARD1,)], "xml string")
    r = forward.to_solr_columns(df).collect()[0]
    assert r.ctrlnum == "fw_1"  # IDTypeName attr + '_' + Identifier text
    assert r.title == "The Great Film"
    assert r.title_alt == ["Le Grand Film"]
    assert r.publishDate == "1972"
    # relator classification: d02 primary, e01 secondary, x99 neither
    assert r.author == ["Director, Dana"]
    assert r.author_role == ["d02"]
    assert r.author2 == ["Actor, Amy"]
    assert r.author2_role == ["e01"]
    assert r.author_sort == "Director, Dana"
    assert not any("Grip" in (n or "") for n in r.author + r.author2)
    assert r.description == "A film about things."
    assert r.topic == ["drama"]
    # Forward.php getGenres/getPublishers/getUrls are hardwired empty and
    # the Grip agent (x99) lands only in the unfiltered corporate list
    assert r.genre == []
    assert "Grip, Gary" in r.author_corporate
    assert r.format == "MotionPicture"


def test_lido_engines_agree(spark):
    """The golden record, a malformed record and an empty-ish record match
    the rows pinned when the xpath and single-parse engines agreed
    (tests/golden_rows.py)."""
    from recordmanager_spark.extractors import lido as LD

    df = spark.createDataFrame(
        [(0, LIDO1), (1, "<broken"), (2, "<lido/>")], "__i int, xml string"
    ).coalesce(1)
    assert_golden(
        "lido_engines_agree",
        collect_rows(LD.to_solr_columns(df), "xml", "__i", drop=("__i",)),
    )


def test_eaccpf_engines_agree(spark):
    """The fixture, malformed input and an empty doc match the rows pinned
    when the xpath and struct engines agreed (tests/golden_rows.py)."""
    from recordmanager_spark.extractors import eaccpf

    df = spark.createDataFrame(
        [(0, EACCPF1), (1, "<broken"), (2, "<eac-cpf/>")], "__i int, xml string"
    ).coalesce(1)
    assert_golden(
        "eaccpf_engines_agree",
        collect_rows(eaccpf.to_solr_columns(df), "xml", "__i", drop=("__i",)),
    )


def test_local_name_cache_is_bounded():
    """Hostile input can carry a fresh namespace on every element; the
    local-name memo must stay correct and never grow past its cap."""
    import random

    rng = random.Random(7)
    n = 5000
    names = [(f"{{urn:x-{rng.getrandbits(64):016x}}}tag{i}", f"tag{i}")
             for i in range(n)]
    assert len({q for q, _ in names}) == n
    for qname, local in names:
        assert lido._local(qname) == local
    assert lido._local("plain") == "plain"
    assert lido._local.cache_info().currsize <= 4096
