"""Mini-XSLT engine: XPath semantics + all 12 reference stylesheets.

The reference applies ``transformations/*.xsl`` via XSLTProcessor
(Utils/XslTransformation.php); these tests drive the same stylesheets
through the stdlib engine and assert the observable transform results.
"""

from __future__ import annotations

import pathlib
import xml.etree.ElementTree as ET

import pytest

from recordmanager_spark.xsl import (
    MiniXSLT, XPath, XsltError, XslTransformationConfig, parse_xml,
)
from recordmanager_spark.xsl.xpath1 import Context

REF = pathlib.Path("/root/reference/transformations")
HAVE_REF = REF.is_dir()

needs_ref = pytest.mark.skipif(not HAVE_REF, reason="reference stylesheets absent")


def _resolver(href: str) -> str:
    return (REF / href).read_text()


def xp(expr, doc, node=None, nsmap=None, **vars):
    tree = parse_xml(doc)
    ctx = Context(node or tree.children[0], vars=vars, nsmap=nsmap or {})
    return XPath(expr, nsmap).evaluate(ctx)


DOC = """<ead>
<eadheader><eadid mainagencycode="FI-A" identifier="C1"/></eadheader>
<archdesc level="fonds"><did><unitid>F1</unitid></did>
<dsc><c01 level="series" id="s1"><did><unitid>S1</unitid></did>
<c02 level="file"><did><unitid>F2</unitid></did></c02></c01></dsc></archdesc>
</ead>"""


class TestXPath:
    def test_union_and_descendant(self):
        names = [n.name for n in xp("archdesc | archdesc/dsc//*[@level]", DOC)]
        assert names == ["archdesc", "c01", "c02"]

    def test_concat_attributes(self):
        v = xp("concat(eadheader/eadid/@mainagencycode,'__',eadheader/eadid/@identifier)", DOC)
        assert v == "FI-A__C1"

    def test_nearest_ancestor_positional(self):
        tree = parse_xml(DOC)
        c02 = XPath("archdesc/dsc//c02").select(Context(tree.children[0]))[0]
        anc = XPath("ancestor::*[did][1]").select(Context(c02))
        assert [n.name for n in anc] == ["c01"]

    def test_substring_rounding(self):
        assert xp("substring('12345', 1.5, 2.6)", DOC) == "234"
        assert xp("substring('12345', 0, 3)", DOC) == "12"
        assert xp("substring('12345', 2)", DOC) == "2345"

    def test_arithmetic(self):
        assert xp("5 mod 2", DOC) == 1.0
        assert xp("floor(7 div 2)", DOC) == 3.0
        assert xp("ceiling(1.2) + round(2.5)", DOC) == 5.0

    def test_string_functions(self):
        assert xp("normalize-space('  a   b ')", DOC) == "a b"
        assert xp("translate('abcd','abc','AB')", DOC) == "ABd"
        assert xp("substring-before('a__b','__')", DOC) == "a"
        assert xp("substring-after('a__b','__')", DOC) == "b"
        assert xp("contains('.:,;/[ ', ';')", DOC) is True
        assert xp("starts-with('abc','ab')", DOC) is True
        assert xp("string-length('abc')", DOC) == 3.0

    def test_numeric_attribute_comparison(self):
        doc = "<r><f tag='008'>x</f><f tag='500'>y</f></r>"
        assert [n.attrs[0].value for n in xp("f[@tag=8]", doc)] == ["008"]
        got = xp("f[500 <= @tag and @tag <= 599]", doc)
        assert [n.attrs[0].value for n in got] == ["500"]

    def test_nan_detection_idiom(self):
        doc = "<r><d tag='TAR'/><d tag='591'/></r>"
        assert xp("string(number(d[1]/@tag)) != 'NaN'", doc) is False
        assert xp("string(number(d[2]/@tag)) = '591'", doc) is True

    def test_variables_and_booleans(self):
        assert xp("$x != ''", DOC, x="v") is True
        assert xp("not($x)", DOC, x="") is True

    def test_prefixed_names(self):
        doc = "<r xmlns:m='urn:m'><m:a>1</m:a><a>2</a></r>"
        got = xp("m:a", doc, nsmap={"m": "urn:m"})
        assert [n.string_value() for n in got] == ["1"]

    def test_following_sibling(self):
        doc = "<c><main>H</main><sub>S</sub><main>X</main></c>"
        assert xp("local-name(main[1]/following-sibling::*[1])", doc) == "sub"

    def test_unparseable_raises(self):
        from recordmanager_spark.xsl import XPathError

        with pytest.raises(XPathError):
            XPath("foo(")


class TestEngineCore:
    def test_identity_with_attribute_templates(self):
        xsl = """<xsl:stylesheet version="1.0"
          xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:template match="/|node()"><xsl:copy>
            <xsl:apply-templates select="@*|node()"/></xsl:copy></xsl:template>
          <xsl:template match="@*"><xsl:copy/></xsl:template>
        </xsl:stylesheet>"""
        out = MiniXSLT(xsl).transform('<a x="1"><b>t</b></a>')
        assert out == '<a x="1"><b>t</b></a>'

    def test_attribute_last_wins(self):
        xsl = """<xsl:stylesheet version="1.0"
          xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:template match="/"><r a="first">
            <xsl:attribute name="a">second</xsl:attribute></r></xsl:template>
        </xsl:stylesheet>"""
        assert 'a="second"' in MiniXSLT(xsl).transform("<x/>")

    def test_global_params_and_named_templates(self):
        xsl = """<xsl:stylesheet version="1.0"
          xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:param name="p" select="'dflt'"/>
          <xsl:template match="/"><o><xsl:call-template name="emit">
            <xsl:with-param name="v" select="concat($p,'!')"/>
          </xsl:call-template></o></xsl:template>
          <xsl:template name="emit"><xsl:param name="v"/>
            <xsl:value-of select="$v"/></xsl:template>
        </xsl:stylesheet>"""
        t = MiniXSLT(xsl)
        assert t.transform("<x/>") == "<o>dflt!</o>"
        assert t.transform("<x/>", {"p": "run"}) == "<o>run!</o>"

    def test_recursive_named_template(self):
        # the chopPunctuation / replace_all pattern: recursion with params
        xsl = """<xsl:stylesheet version="1.0"
          xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:template match="/"><o><xsl:call-template name="rep">
              <xsl:with-param name="s" select="'a-b-c'"/>
          </xsl:call-template></o></xsl:template>
          <xsl:template name="rep"><xsl:param name="s"/>
            <xsl:choose>
              <xsl:when test="contains($s,'-')">
                <xsl:call-template name="rep">
                  <xsl:with-param name="s"
                    select="concat(substring-before($s,'-'),'+',substring-after($s,'-'))"/>
                </xsl:call-template>
              </xsl:when>
              <xsl:otherwise><xsl:value-of select="$s"/></xsl:otherwise>
            </xsl:choose></xsl:template>
        </xsl:stylesheet>"""
        assert MiniXSLT(xsl).transform("<x/>") == "<o>a+b+c</o>"

    def test_for_each_position(self):
        xsl = """<xsl:stylesheet version="1.0"
          xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:template match="/"><o><xsl:for-each select="r/i">
            <v p="{position()}" l="{last()}"><xsl:value-of select="."/></v>
          </xsl:for-each></o></xsl:template>
        </xsl:stylesheet>"""
        out = MiniXSLT(xsl).transform("<r><i>a</i><i>b</i></r>")
        assert out == '<o><v p="1" l="2">a</v><v p="2" l="2">b</v></o>'

    def test_rtf_variable_to_string(self):
        xsl = """<xsl:stylesheet version="1.0"
          xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:template match="/">
            <xsl:variable name="v"><xsl:value-of select="r/a"/>-suffix</xsl:variable>
            <o><xsl:if test="$v != ''"><xsl:value-of select="$v"/></xsl:if></o>
          </xsl:template>
        </xsl:stylesheet>"""
        assert MiniXSLT(xsl).transform("<r><a>X</a></r>") == "<o>X-suffix</o>"

    def test_mode_dispatch(self):
        xsl = """<xsl:stylesheet version="1.0"
          xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:template match="/"><o>
            <xsl:apply-templates select="r/i"/>
            <xsl:apply-templates select="r/i" mode="m"/></o></xsl:template>
          <xsl:template match="i">[<xsl:value-of select="."/>]</xsl:template>
          <xsl:template match="i" mode="m">(<xsl:value-of select="."/>)</xsl:template>
        </xsl:stylesheet>"""
        assert MiniXSLT(xsl).transform("<r><i>a</i></r>") == "<o>[a](a)</o>"

    def test_unsupported_instruction_raises(self):
        # attribute-set is supported since round 4; an unknown BODY
        # instruction still raises
        xsl = """<xsl:stylesheet version="1.0"
          xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:template match="/"><o><xsl:no-such-thing/></o></xsl:template>
        </xsl:stylesheet>"""
        with pytest.raises(XsltError):
            MiniXSLT(xsl).transform("<r/>")

    def test_transform_to_fields(self):
        xsl = """<xsl:stylesheet version="1.0"
          xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:template match="/"><doc>
            <field name="title"><xsl:value-of select="r/t"/></field>
            <field name="author"><xsl:value-of select="r/a"/></field>
          </doc></xsl:template>
        </xsl:stylesheet>"""
        fields = MiniXSLT(xsl).transform_to_fields("<r><t>T</t><a>A</a></r>")
        assert fields == [("title", "T"), ("author", "A")]


@needs_ref
class TestReferenceStylesheets:
    def test_strip_namespaces(self):
        t = MiniXSLT((REF / "strip_namespaces.xsl").read_text())
        out = t.transform('<a xmlns="u:x" xmlns:b="u:y"><b:c d="1">hi</b:c></a>')
        assert out == '<a><c d="1">hi</c></a>'

    def test_helmet_format_mapping(self):
        t = MiniXSLT((REF / "helmet.xsl").read_text())
        out = t.transform("<record><format>1</format><format>g</format>"
                          "<format>?</format><t>x</t></record>")
        assert ("<type>Book</type>" in out and "<type>DVD</type>" in out
                and "<type>Other</type>" in out and "<t>x</t>" in out)

    def test_elka_type_mapping(self):
        t = MiniXSLT((REF / "elka.xsl").read_text())
        out = t.transform("<r><type>movingImage</type><type>x</type></r>")
        assert "<type>MotionPicture</type>" in out and "<type>Unknown</type>" in out

    def test_sfx_leader_injects_007(self):
        t = MiniXSLT((REF / "sfx.xsl").read_text())
        out = t.transform("<record><leader>00000cam</leader></record>")
        assert '<controlfield tag="007">cr</controlfield>' in out

    def test_lido_term_normalization(self):
        t = MiniXSLT((REF / "lido_normalization.xsl").read_text())
        doc = ("<lido><descriptiveMetadata><objectClassificationWrap>"
               "<objectWorkTypeWrap><objectWorkType><term>Kuva</term>"
               "</objectWorkType></objectWorkTypeWrap>"
               "</objectClassificationWrap></descriptiveMetadata></lido>")
        assert "<term>Image</term>" in MiniXSLT(
            (REF / "lido_normalization.xsl").read_text()).transform(doc)
        assert "<term>Other</term>" in t.transform(
            doc.replace("Kuva", "Other"))

    def test_ese2ese_provider_param(self):
        t = MiniXSLT((REF / "ese2ese.xsl").read_text())
        doc = ('<r xmlns:europeana="http://www.europeana.eu/schemas/ese/">'
               "<europeana:provider>old</europeana:provider></r>")
        out = t.transform(doc, {"provider": "NewP"})
        assert ">NewP<" in out and "old" not in out

    def test_ead_split(self):
        t = MiniXSLT((REF / "EadSplit.xsl").read_text())
        ead = """<ead><eadheader><eadid mainagencycode="FI-A" identifier="C1"/>
          <filedesc><titlestmt><titleproper>Coll</titleproper></titlestmt></filedesc>
          </eadheader><archdesc level="fonds"><did><unitid>F1</unitid>
          <origination>OrgA</origination><repository>RepoX</repository></did>
          <dsc><c01 level="series"><did><unitid>S1</unitid></did>
          <c02 level="file"><did><unitid>F2</unitid></did></c02></c01>
          </dsc></archdesc></ead>"""
        root = ET.fromstring(t.transform(ead))
        NS = "{urn:isbn:1-931666-22-9}"
        assert root.tag == f"{NS}records"
        items = list(root)
        ids = [i.get("id") for i in items]
        assert ids == ["FI-A__C1__F1", "FI-A__C1__S1", "FI-A__C1__F2"]
        assert all(i.get("rep") == "RepoX" for i in items)
        # origination inherits down into each split item's did
        file_item = items[2]
        assert "OrgA" in ET.tostring(file_item, encoding="unicode")
        # parent/child linkage lives under add-data
        add = file_item.find(f"{NS}add-data")
        assert add.find(f"{NS}absolute-parent").get("id") == "FI-A__C1__F1"

    def test_metalib_ird(self):
        t = MiniXSLT((REF / "metalib_ird.xsl").read_text())
        doc = ("<record><controlfield tag=\"001\">db1</controlfield>"
               "<datafield tag=\"CAT\"><subfield code=\"c\">20150607</subfield></datafield>"
               "<datafield tag=\"591\"><subfield code=\"a\">drop</subfield></datafield>"
               "<datafield tag=\"856\" ind1=\"4\" ind2=\"1\">"
               "<subfield code=\"u\">http://db</subfield></datafield>"
               "<datafield tag=\"245\"><subfield code=\"a\">N</subfield></datafield>"
               "</record>")
        out = t.transform(doc)
        assert "<leader>     nai a22     ua 4500</leader>" in out
        assert '<controlfield tag="008">150607uuuuu' in out
        assert "drop" not in out
        assert "Database Interface" in out
        assert '<datafield tag="977">' in out

    def test_metalib_export(self):
        NS = "http://www.loc.gov/standards/marcxml/schema/MARC21slim.xsd"
        t = MiniXSLT((REF / "metalib_export.xsl").read_text())
        doc = (f'<kb xmlns="{NS}"><knowledge_unit><record>'
               '<controlfield tag="001">db1</controlfield>'
               '<datafield tag="CAT"><subfield code="c">20150607</subfield></datafield>'
               "</record><category><main>Hum</main><sub>Hist</sub></category>"
               "</knowledge_unit></kb>")
        out = t.transform(doc)
        assert out.startswith("<collection><record>")
        assert '<datafield tag="976"><subfield code="a">Hum</subfield>' in out
        assert '<subfield code="b">Hist</subfield>' in out

    def test_marc21slim2oaidc_with_import(self):
        t = MiniXSLT((REF / "MARC21slim2OAIDC.xsl").read_text(), resolver=_resolver)
        marc = ('<collection xmlns="http://www.loc.gov/MARC21/slim"><record>'
                "<leader>00000cam a22000004i 4500</leader>"
                '<controlfield tag="008">970101s1999    xxu                 eng d</controlfield>'
                '<datafield tag="020" ind1=" " ind2=" ">'
                '<subfield code="a">0-19-852663-6</subfield></datafield>'
                '<datafield tag="245" ind1="1" ind2="0">'
                '<subfield code="a">A title</subfield></datafield>'
                "</record></collection>")
        out = t.transform(marc)
        assert ">A title<" in out
        assert ">text<" in out  # leader6 'a' -> dc:type text
        assert "URN:ISBN:0-19-852663-6" in out
        assert ">eng<" in out

    def test_marc2ese_full(self):
        t = MiniXSLT((REF / "marc2ese.xsl").read_text(), resolver=_resolver)
        marc = ('<record xmlns="http://www.loc.gov/MARC21/slim">'
                "<leader>00000cam a22000004i 4500</leader>"
                '<controlfield tag="001">r1</controlfield>'
                '<controlfield tag="008">970101s1999    xxu                 eng d</controlfield>'
                '<datafield tag="245" ind1="1" ind2="0">'
                '<subfield code="a">A title</subfield></datafield>'
                '<datafield tag="260" ind1=" " ind2=" ">'
                '<subfield code="c">1999</subfield></datafield></record>')
        out = t.transform(marc, params={
            "source": "S", "data_provider": "DP", "provider": "P",
            "record_address": "http://x/[001]", "id_prefix": "pre:",
        })
        assert ">S<" in out and ">DP<" in out and ">P<" in out
        assert ">pre:r1<" in out
        # replace_all template substitutes [001] with the record id
        assert "http://x/r1" in out

    def test_properties_config(self):
        cfg = XslTransformationConfig(REF, "marc2ese_raita.properties")
        marc = ('<record xmlns="http://www.loc.gov/MARC21/slim">'
                "<leader>00000cam a22000004i 4500</leader>"
                '<controlfield tag="001">viola9</controlfield>'
                '<datafield tag="245" ind1="1" ind2="0">'
                '<subfield code="a">T</subfield></datafield></record>')
        out = cfg.transform(marc)
        assert "FI-Viola:viola9" in out
        assert "bibId=viola9" in out  # [001] substitution from ini params
        assert "Raita collection" in out


@needs_ref
def test_all_reference_stylesheets_compile():
    for path in sorted(REF.glob("*.xsl")):
        MiniXSLT(path.read_text(), resolver=_resolver)


def test_spark_xslt_udf(spark):
    from pyspark.sql import functions as F

    from recordmanager_spark.sources.transforms import apply_xslt

    xsl = """<xsl:stylesheet version="1.0"
      xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/"><out><xsl:value-of select="r/v"/>!</out></xsl:template>
    </xsl:stylesheet>"""
    df = spark.range(50).select(
        F.concat(F.lit("<r><v>"), F.col("id").cast("string"), F.lit("</v></r>")).alias("xml")
    )
    got = apply_xslt(df, "xml", xsl, out_column="res")
    rows = {r.res for r in got.collect()}
    assert "<out>7!</out>" in rows and len(rows) == 50


def test_spark_xslt_udf_entity_bomb(spark):
    """A billion-laughs record (10^9 'lol's once expanded) maps to NULL
    instead of growing the worker, an external entity is never read,
    and the neighbouring record still transforms."""
    from pyspark.sql import functions as F

    from recordmanager_spark.sources.transforms import make_xslt_udf

    xsl = """<xsl:stylesheet version="1.0"
      xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/"><out><xsl:value-of select="r/v"/></out></xsl:template>
    </xsl:stylesheet>"""
    ents = '<!ENTITY l0 "lol">' + "".join(
        f'<!ENTITY l{i} "{("&l%d;" % (i - 1)) * 10}">' for i in range(1, 10)
    )
    bomb = f"<!DOCTYPE r [{ents}]><r><v>&l9;</v></r>"
    external = '<!DOCTYPE r [<!ENTITY x SYSTEM "secret.txt">]><r><v>&x;</v></r>'
    df = spark.createDataFrame(
        [(0, bomb), (1, external), (2, "<r><v>fine</v></r>")],
        "i int, xml string",
    )
    rows = (
        df.select("i", make_xslt_udf(xsl)(F.col("xml")).alias("res"))
        .orderBy("i")
        .collect()
    )
    assert [r.res for r in rows] == [None, None, "<out>fine</out>"]


# --- xsl:sort / xsl:key / xsl:number / strip-space / include -----------------

_SHEET = """<xsl:stylesheet version="1.0"
  xmlns:xsl="http://www.w3.org/1999/XSL/Transform">{body}</xsl:stylesheet>"""


def _t(body: str, xml: str, **params) -> str:
    return MiniXSLT(_SHEET.format(body=body)).transform(xml, params or None)


def test_sort_text_ascending_descending():
    xml = "<r><i>banana</i><i>apple</i><i>cherry</i></r>"
    body = """<xsl:template match="/">
      <xsl:for-each select="r/i"><xsl:sort select="."/>
        <o><xsl:value-of select="."/></o></xsl:for-each></xsl:template>"""
    assert _t(body, xml) == "<o>apple</o><o>banana</o><o>cherry</o>"
    body_d = body.replace('<xsl:sort select="."/>',
                          '<xsl:sort select="." order="descending"/>')
    assert _t(body_d, xml) == "<o>cherry</o><o>banana</o><o>apple</o>"


def test_sort_numeric_and_multi_key():
    xml = ('<r><p><n>10</n><g>b</g></p><p><n>9</n><g>a</g></p>'
           '<p><n>10</n><g>a</g></p></r>')
    body = """<xsl:template match="/">
      <xsl:for-each select="r/p">
        <xsl:sort select="n" data-type="number"/>
        <xsl:sort select="g"/>
        <o><xsl:value-of select="n"/><xsl:value-of select="g"/></o>
      </xsl:for-each></xsl:template>"""
    # text sort would give 10,10,9; numeric gives 9 first; g breaks the tie
    assert _t(body, xml) == "<o>9a</o><o>10a</o><o>10b</o>"


def test_sort_in_apply_templates():
    xml = "<r><i>b</i><i>a</i></r>"
    body = """<xsl:template match="/">
        <xsl:apply-templates select="r/i"><xsl:sort select="."/>
        </xsl:apply-templates></xsl:template>
      <xsl:template match="i"><v><xsl:value-of select="."/></v></xsl:template>"""
    assert _t(body, xml) == "<v>a</v><v>b</v>"


def test_key_and_current():
    xml = ('<lib><book author="a1">B1</book><book author="a2">B2</book>'
           '<book author="a1">B3</book>'
           '<author id="a1">Alice</author><author id="a2">Bob</author></lib>')
    body = """<xsl:key name="auth" match="author" use="@id"/>
      <xsl:template match="/">
        <xsl:for-each select="lib/book">
          <o><xsl:value-of select="key('auth', current()/@author)"/>
             <xsl:text>:</xsl:text><xsl:value-of select="."/></o>
        </xsl:for-each></xsl:template>"""
    assert _t(body, xml) == "<o>Alice:B1</o><o>Bob:B2</o><o>Alice:B3</o>"


def test_key_grouping_muenchian():
    xml = ('<r><e c="x">1</e><e c="y">2</e><e c="x">3</e></r>')
    body = """<xsl:key name="byc" match="e" use="@c"/>
      <xsl:template match="/">
        <xsl:for-each select="r/e[generate-id() =
                               generate-id(key('byc', @c)[1])]">
          <g><xsl:attribute name="c"><xsl:value-of select="@c"/></xsl:attribute>
             <xsl:for-each select="key('byc', @c)">
               <xsl:value-of select="."/></xsl:for-each></g>
        </xsl:for-each></xsl:template>"""
    assert _t(body, xml) == '<g c="x">13</g><g c="y">2</g>'


def test_number_value_and_formats():
    xml = "<r/>"
    body = """<xsl:template match="/">
      <a><xsl:number value="4" format="i"/></a>
      <b><xsl:number value="28" format="A"/></b>
      <c><xsl:number value="7" format="01"/></c></xsl:template>"""
    assert _t(body, xml) == "<a>iv</a><b>AB</b><c>07</c>"


def test_number_level_single_and_multiple():
    xml = ('<doc><ch><s/><s/></ch><ch><s/></ch></doc>')
    body = """<xsl:template match="/">
        <xsl:for-each select="//s">
          <n><xsl:number level="multiple" count="ch|s" format="1.1"/></n>
        </xsl:for-each></xsl:template>"""
    assert _t(body, xml) == "<n>1.1</n><n>1.2</n><n>2.1</n>"
    body_any = """<xsl:template match="/">
        <xsl:for-each select="//s">
          <n><xsl:number level="any" count="s"/></n>
        </xsl:for-each></xsl:template>"""
    assert _t(body_any, xml) == "<n>1</n><n>2</n><n>3</n>"


def test_strip_space():
    xml = "<r>\n  <i>a</i>\n  <i>b</i>\n</r>"
    body = """<xsl:strip-space elements="r"/>
      <xsl:template match="/"><o><xsl:apply-templates/></o></xsl:template>
      <xsl:template match="i"><xsl:value-of select="."/></xsl:template>"""
    assert _t(body, xml) == "<o>ab</o>"
    # without strip-space the whitespace text nodes pass through builtin
    body_ns = body.replace('<xsl:strip-space elements="r"/>', "")
    assert "\n" in _t(body_ns, xml)


def test_include_same_precedence():
    inc = """<xsl:stylesheet version="1.0"
      xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="i"><inc/></xsl:template></xsl:stylesheet>"""
    main = """<xsl:stylesheet version="1.0"
      xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:include href="inc.xsl"/>
      <xsl:template match="/"><xsl:apply-templates select="r/i"/></xsl:template>
    </xsl:stylesheet>"""
    sheet = MiniXSLT(main, resolver=lambda href: inc)
    assert sheet.transform("<r><i/></r>") == "<inc/>"


def test_document_function_with_resolver():
    """document() loads a secondary document through the injected
    resolver; repeated calls hit the per-run cache (resolver called once
    per href)."""
    lookup = """<codes><code id="a">Alpha</code><code id="b">Beta</code></codes>"""
    calls = []

    def resolve(href):
        calls.append(href)
        assert href == "codes.xml"
        return lookup

    body = """<xsl:template match="/">
      <o><xsl:for-each select="r/i">
        <v><xsl:value-of
          select="document('codes.xml')/codes/code[@id=current()/@ref]"/></v>
      </xsl:for-each></o></xsl:template>"""
    sheet = MiniXSLT(_SHEET.format(body=body), document_resolver=resolve)
    out = sheet.transform('<r><i ref="b"/><i ref="a"/></r>')
    assert out == "<o><v>Beta</v><v>Alpha</v></o>"
    assert calls == ["codes.xml"]


def test_document_function_without_resolver_raises():
    body = """<xsl:template match="/">
      <xsl:value-of select="document('x.xml')"/></xsl:template>"""
    with pytest.raises(XsltError, match="document_resolver"):
        MiniXSLT(_SHEET.format(body=body)).transform("<r/>")


def test_document_href_from_nodeset():
    docs = {"d1.xml": "<d>one</d>", "d2.xml": "<d>two</d>"}
    body = """<xsl:template match="/">
      <o><xsl:for-each select="document(r/f/@href)">
        <v><xsl:value-of select="d"/></v>
      </xsl:for-each></o></xsl:template>"""
    sheet = MiniXSLT(_SHEET.format(body=body), document_resolver=docs.__getitem__)
    out = sheet.transform('<r><f href="d1.xml"/><f href="d2.xml"/></r>')
    assert out == "<o><v>one</v><v>two</v></o>"


def test_strip_space_namespace_nametest_forms():
    # prefix:* strips every element in that namespace; unprefixed names
    # match NULL-namespace elements only (XPath 1.0 NameTest rules)
    xml = ('<r xmlns:x="urn:x">\n'
           "  <x:i>\n  <x:j>a</x:j>\n  </x:i>\n"
           "  <i>\n  <j>b</j>\n  </i>\n</r>")
    body = (
        '<xsl:template match="/"><o><xsl:copy-of select="r"/></o>'
        "</xsl:template>"
    )
    sheet_ns = MiniXSLT(
        """<xsl:stylesheet version="1.0"
          xmlns:xsl="http://www.w3.org/1999/XSL/Transform" xmlns:x="urn:x">
          <xsl:strip-space elements="x:*"/>{body}</xsl:stylesheet>""".format(body=body)
    )
    assert sheet_ns.transform(xml) == (
        '<o><r>\n  <i xmlns="urn:x"><j>a</j></i>\n'
        "  <i>\n  <j>b</j>\n  </i>\n</r></o>"
    )
    sheet_plain = MiniXSLT(
        """<xsl:stylesheet version="1.0"
          xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
          <xsl:strip-space elements="i"/>{body}</xsl:stylesheet>""".format(body=body)
    )
    assert sheet_plain.transform(xml) == (
        '<o><r>\n  <i xmlns="urn:x">\n  <j>a</j>\n  </i>\n'
        "  <i><j>b</j></i>\n</r></o>"
    )


def test_fallback_is_noop_under_supported_instructions():
    body = """<xsl:template match="/">
      <o><xsl:value-of select="'x'"/><xsl:fallback><bad/></xsl:fallback></o>
    </xsl:template>"""
    assert _t(body, "<r/>") == "<o>x</o>"


def test_apply_imports():
    imported = """<xsl:stylesheet version="1.0"
      xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="i"><base><xsl:value-of select="."/></base></xsl:template>
    </xsl:stylesheet>"""
    main = """<xsl:stylesheet version="1.0"
      xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:import href="base.xsl"/>
      <xsl:template match="/"><xsl:apply-templates select="r/i"/></xsl:template>
      <xsl:template match="i"><wrap><xsl:apply-imports/></wrap></xsl:template>
    </xsl:stylesheet>"""
    sheet = MiniXSLT(main, resolver=lambda href: imported)
    assert sheet.transform("<r><i>v</i></r>") == "<wrap><base>v</base></wrap>"


def test_attribute_sets():
    body = """<xsl:attribute-set name="std">
        <xsl:attribute name="class">c1</xsl:attribute>
        <xsl:attribute name="id"><xsl:value-of select="r/@id"/></xsl:attribute>
      </xsl:attribute-set>
      <xsl:attribute-set name="more" use-attribute-sets="std">
        <xsl:attribute name="role">x</xsl:attribute>
      </xsl:attribute-set>
      <xsl:template match="/">
        <a xsl:use-attribute-sets="more" class="own"/>
        <xsl:element name="b" use-attribute-sets="std"/>
        <xsl:copy use-attribute-sets="std"/>
      </xsl:template>"""
    out = _t(body, '<r id="r7"/>')
    # literal element's OWN class overrides the set's
    assert '<a class="own" id="r7" role="x"/>' in out
    assert '<b class="c1" id="r7"/>' in out


def test_format_number():
    body = """<xsl:template match="/">
      <o>
        <a><xsl:value-of select="format-number(1234.567, '#,##0.00')"/></a>
        <b><xsl:value-of select="format-number(-3.5, '0.0')"/></b>
        <c><xsl:value-of select="format-number(0.25, '0%')"/></c>
        <d><xsl:value-of select="format-number(-7, '0;(0)')"/></d>
        <e><xsl:value-of select="format-number(42, '000')"/></e>
        <f><xsl:value-of select="format-number(0 div 0, '0')"/></f>
      </o></xsl:template>"""
    out = _t(body, "<r/>")
    assert "<a>1,234.57</a>" in out
    assert "<b>-3.5</b>" in out
    assert "<c>25%</c>" in out
    assert "<d>(7)</d>" in out
    assert "<e>042</e>" in out
    assert "<f>NaN</f>" in out


def test_format_number_decimal_format_decl():
    body = """<xsl:decimal-format name="eu" decimal-separator=","
        grouping-separator="." minus-sign="~" NaN="n/a"/>
      <xsl:template match="/">
        <o><xsl:value-of select="format-number(-1234.5, '#.##0,0', 'eu')"/>
        |<xsl:value-of select="format-number(0 div 0, '0', 'eu')"/></o>
      </xsl:template>"""
    out = _t(body, "<r/>")
    assert "~1.234,5" in out
    assert "n/a" in out


def test_namespace_alias():
    main = """<xsl:stylesheet version="1.0"
      xmlns:xsl="http://www.w3.org/1999/XSL/Transform"
      xmlns:axsl="urn:alias-xsl">
      <xsl:namespace-alias stylesheet-prefix="axsl" result-prefix="xsl"/>
      <xsl:template match="/">
        <axsl:template match="x"/>
      </xsl:template>
    </xsl:stylesheet>"""
    out = MiniXSLT(main).transform("<r/>")
    assert 'xmlns="http://www.w3.org/1999/XSL/Transform"' in out
    assert "template" in out and "urn:alias-xsl" not in out


def test_apply_xslt_document_resolver_on_spark(spark):
    """document() works through the executor closure: the {href: xml}
    mapping ships with the UDF, no filesystem/network access."""
    from recordmanager_spark.sources.transforms import apply_xslt

    xsl = """<xsl:stylesheet version="1.0"
      xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/">
        <o><xsl:value-of
          select="document('lut.xml')/codes/code[@id=current()/r/@ref]"/></o>
      </xsl:template>
    </xsl:stylesheet>"""
    lut = '<codes><code id="a">Alpha</code><code id="b">Beta</code></codes>'
    df = spark.createDataFrame(
        [('<r ref="a"/>',), ('<r ref="b"/>',)], "xml string"
    )
    rows = apply_xslt(
        df, "xml", xsl, out_column="out", documents={"lut.xml": lut},
    ).orderBy("xml").collect()
    assert [r.out for r in rows] == ["<o>Alpha</o>", "<o>Beta</o>"]


def test_registered_extension_functions():
    """php_function analogue: caller-registered Python callables are
    visible to stylesheet XPath (args and result as strings)."""
    sheet = MiniXSLT(
        _SHEET.format(
            body="""<xsl:template match="/">
              <o><xsl:value-of select="rot13(r/t)"/></o></xsl:template>"""
        ),
        extensions={
            "rot13": lambda s: __import__("codecs").encode(s, "rot13")
        },
    )
    assert sheet.transform("<r><t>uryyb</t></r>") == "<o>hello</o>"


def test_sort_case_order():
    xml = "<r><i>apple</i><i>Apple</i><i>banana</i><i>APPLE</i></r>"
    body_u = """<xsl:template match="/">
      <xsl:for-each select="r/i"><xsl:sort select="." case-order="upper-first"/>
        <o><xsl:value-of select="."/></o></xsl:for-each></xsl:template>"""
    assert _t(body_u, xml) == "<o>APPLE</o><o>Apple</o><o>apple</o><o>banana</o>"
    body_l = body_u.replace("upper-first", "lower-first")
    assert _t(body_l, xml) == "<o>apple</o><o>Apple</o><o>APPLE</o><o>banana</o>"


def test_sort_lang_with_injected_collator():
    """xsl:sort lang routes through the injected collator: a Swedish
    collation orders å/ä/ö AFTER z (codepoint order would interleave
    them); lang is an AVT resolved per sort."""
    sv_order = "abcdefghijklmnopqrstuvwxyzåäö"

    def collator(lang):
        assert lang == "sv"
        return lambda s: [sv_order.find(ch) for ch in s.lower()]

    xsl = _SHEET.format(
        body="""<xsl:template match="/">
          <xsl:for-each select="r/i"><xsl:sort select="." lang="{concat('s','v')}"/>
            <o><xsl:value-of select="."/></o></xsl:for-each></xsl:template>"""
    )
    xml = "<r><i>ärlig</i><i>zebra</i><i>apa</i><i>öga</i><i>åka</i></r>"
    out = MiniXSLT(xsl, collator=collator).transform(xml)
    assert out == "<o>apa</o><o>zebra</o><o>åka</o><o>ärlig</o><o>öga</o>"


def test_sort_lang_default_icu_collator():
    """Without an injected collator, xsl:sort lang falls back to the
    system ICU collator (PyICU or the ctypes libicui18n binding) — the
    reference transforms under PHP's XSLTProcessor, whose locale sort
    is ICU collation. Swedish: å/ä/ö sort AFTER z (codepoint order
    would interleave them with a/o)."""
    xsl = _SHEET.format(
        body="""<xsl:template match="/">
          <xsl:for-each select="r/i"><xsl:sort select="." lang="sv"/>
            <o><xsl:value-of select="."/></o></xsl:for-each></xsl:template>"""
    )
    xml = "<r><i>ärlig</i><i>zebra</i><i>apa</i><i>öga</i><i>åka</i></r>"
    out = MiniXSLT(xsl).transform(xml)
    assert out == "<o>apa</o><o>zebra</o><o>åka</o><o>ärlig</o><o>öga</o>"


def test_sort_lang_without_any_collator_raises(monkeypatch):
    """When no collator is injected AND neither PyICU nor libicui18n
    can load, the seam still fails loudly instead of silently sorting
    by codepoint."""
    import sys

    import recordmanager_spark.functions.icu_ctypes as IC

    monkeypatch.setitem(IC._state, "lib", None)
    monkeypatch.setitem(sys.modules, "icu", None)
    xsl = _SHEET.format(
        body="""<xsl:template match="/">
          <xsl:for-each select="r/i"><xsl:sort select="." lang="sv"/>
            <o><xsl:value-of select="."/></o></xsl:for-each></xsl:template>"""
    )
    with pytest.raises(XsltError, match="collator"):
        MiniXSLT(xsl).transform("<r><i>a</i></r>")


def test_document_two_argument_base_uri_form():
    """document(href, node-set): the base of the second argument's first
    node (= the href its own document was loaded from) reaches a
    two-parameter resolver, so relative hrefs resolve against the
    document that mentioned them — XSLT 1.0 §12.1's base-URI rule with
    URI semantics delegated to the caller."""
    seen = []

    def resolver(href, base):
        seen.append((href, base))
        if href == "index.xml":
            return '<index><entry href="leaf.xml"/></index>'
        if href == "leaf.xml" and base == "index.xml":
            return "<leaf>FOUND</leaf>"
        return "<missing/>"

    xsl = _SHEET.format(
        body="""<xsl:template match="/">
          <xsl:variable name="idx" select="document('index.xml')"/>
          <o><xsl:value-of
            select="document($idx/index/entry/@href, $idx)/leaf"/></o>
        </xsl:template>"""
    )
    out = MiniXSLT(xsl, document_resolver=resolver).transform("<r/>")
    assert out == "<o>FOUND</o>"
    assert ("index.xml", "") in seen
    assert ("leaf.xml", "index.xml") in seen


def test_document_one_argument_nodeset_uses_node_base():
    """document(node-set) one-arg: each href resolves against the base
    of the node that carried it."""
    def resolver(href, base):
        if href == "a.xml":
            return '<a><ref>b.xml</ref></a>'
        if href == "b.xml":
            return f"<b>from:{base}</b>"
        return "<missing/>"

    xsl = _SHEET.format(
        body="""<xsl:template match="/">
          <o><xsl:value-of
            select="document(document('a.xml')/a/ref)/b"/></o>
        </xsl:template>"""
    )
    out = MiniXSLT(xsl, document_resolver=resolver).transform("<r/>")
    assert out == "<o>from:a.xml</o>"


def test_document_single_arg_one_param_resolver_still_works():
    """Back-compat: a one-parameter resolver keeps working for every
    document() call (it simply never sees the base)."""
    out = MiniXSLT(
        _SHEET.format(
            body="""<xsl:template match="/">
              <o><xsl:value-of select="document('x.xml')/v"/></o>
            </xsl:template>"""
        ),
        document_resolver=lambda href: "<v>ok</v>",
    ).transform("<r/>")
    assert out == "<o>ok</o>"
