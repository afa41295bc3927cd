"""Presence/absence lattice sweep of the XML extractors.

The round-3 LRMI bug (``language`` emptied whenever ``<material>`` was
absent, via F.concat null-propagation over a missing element's NULL
array) was a present/absent element combination no fixture covered — the
oracle fixture always emitted ``<material>``, so a green driver row
masked the bug. The sweep closes the class mechanically: for each
extractor it enumerates the FULL subset lattice of its optional elements
(2^n combinations) plus a malformed row, and pins every output row to a
stored digest (tests/golden_rows.py). The digests were taken where the
extractors' former xpath engines agreed with them on every column.

Fixtures keep multi-valued elements at the root level (the reference's
own record shape): the extractors read DIRECT children like the
reference's SimpleXML chains.
"""

from __future__ import annotations

import importlib
from typing import Callable

import pytest

from tests.golden_rows import assert_golden, collect_rows


def lattice(wrapper: str | Callable[[str], str], elements: dict[str, str]) -> list[str]:
    """Every subset of ``elements`` spliced into ``wrapper``, plus a
    malformed row. ``wrapper`` is a format string with ``{body}`` or a
    callable assembling a document from the chosen element snippets."""
    names = list(elements)
    assert len(names) <= 8, "keep the sweep bounded (2^n combos)"
    combos = []
    for mask in range(2 ** len(names)):
        body = "".join(
            elements[names[i]] for i in range(len(names)) if mask >> i & 1
        )
        if callable(wrapper):
            combos.append(wrapper(body))
        else:
            combos.append(wrapper.format(body=body))
    combos.append("<broken")
    return combos


_DC_ELEMENTS = {
    "title": '<title>Main : sub</title><title type="alternative">Alt</title>',
    "identifier": (
        '<identifier type="issn">1234-5679</identifier>'
        "<identifier>urn:isbn:978-0-12-345678-6</identifier>"
        "<identifier>https://x.example/r1</identifier>"
    ),
    "description": (
        '<description lang="en">Primary one.</description>'
        "<description>Secondary two.</description>"
    ),
    "type": '<type type="material">Book</type>',
    "creator": "<creator>Author, A.</creator>",
    "contributor": "<contributor>Helper, H.</contributor>",
    "language": "<language>en fi</language>",
    "date": "<date>1999-05</date>",
}

_LRMI_ELEMENTS = {
    "title": "<title>Fractions : one</title>",
    "material": (
        "<material><inLanguage>FI</inLanguage>"
        "<url>https://material.example/1</url></material>"
    ),
    "inLanguage": "<inLanguage>sv</inLanguage>",
    "author": (
        "<author><person><name>Person, P.</name></person>"
        "<organization><legalName>Org Oy</legalName></organization></author>"
    ),
    "about": (
        "<about><thing><name>topic A</name>"
        "<identifier>https://ont/a</identifier></thing></about>"
        "<about><thing><identifier>https://no-name/skip</identifier></thing></about>"
    ),
    "identifier": "<identifier>urn:isbn:978-0-12-345678-6</identifier>",
    "description": "<description>Plain words.</description>",
    "language": "<language>en fi</language>",
}

_DOAJ_ELEMENTS = {
    "title": "<title>Open access : survey /</title>",
    "authors": (
        "<authors><author><name>First, F.</name></author>"
        "<author><name>Second, S.</name></author></authors>"
    ),
    "keywords": "<keywords><keyword>kw1</keyword><keyword>kw2</keyword></keywords>",
    "language": "<language>engfinswe</language>",
    "publisher": "<publisher>OA Press.</publisher>",
    "publicationDate": "<publicationDate>2012-05-01</publicationDate>",
    "fullTextUrl": "<fullTextUrl>https://doaj.example/a/1</fullTextUrl>",
    "issn": "<issn>1234-5679</issn>",
}

_FORWARD_ELEMENTS = {
    "identifier": '<Identifier IDTypeName="fw">1</Identifier>',
    "identifying_title": "<IdentifyingTitle>The Great Film</IdentifyingTitle>",
    "titles": (
        "<Title><TitleText>The Great Film</TitleText></Title>"
        "<Title><TitleText>Le Grand Film</TitleText></Title>"
    ),
    "year": "<YearOfReference>1972</YearOfReference>",
    "director": (
        "<HasAgent><AgentName>Director, Dana</AgentName>"
        "<Activity>D02</Activity></HasAgent>"
    ),
    "other_agents": (
        "<HasAgent><AgentName>Actor, Amy</AgentName>"
        "<Activity>E01</Activity></HasAgent>"
        "<HasAgent><AgentName>Grip, Gary</AgentName>"
        "<Activity>x99</Activity></HasAgent>"
    ),
    "description": (
        "<ContentDescription><DescriptionType>Synopsis</DescriptionType>"
        "<Language>en</Language>"
        "<DescriptionText>A film about things.</DescriptionText>"
        "</ContentDescription>"
    ),
    "subjects": "<SubjectTerms><Term>drama</Term></SubjectTerms>",
}

# occupations-wrapped BEFORE bare occupation: the extractor concatenates
# wrapped-then-bare terms, which is document order only in this layout.
_EACCPF_ELEMENTS = {
    "agency": (
        "<control><maintenanceAgency><agencyName>Nat Lib</agencyName>"
        "</maintenanceAgency></control>"
    ),
    "name_entry": (
        '<nameEntry><part localType="TONI1">Author, Alice</part>'
        '<part localType="TONI4">1880-1950</part></nameEntry>'
    ),
    "name_parallel": (
        "<nameEntryParallel><nameEntry>"
        '<part localType="TONI1">A. Author</part>'
        "</nameEntry></nameEntryParallel>"
    ),
    "exist_dates": (
        "<existDates><dateSet>"
        '<date localType="http://rdaregistry.info/Elements/a/P50121"'
        ' standardDate="1880-01-02">1880</date>'
        '<date localType="http://rdaregistry.info/Elements/a/P50120"'
        ' standardDate="1950-03-04">1950</date>'
        "</dateSet></existDates>"
    ),
    "occupations": (
        "<occupations><occupation><term>Poet</term></occupation></occupations>"
    ),
    "occupation": "<occupation><term>Novelist</term></occupation>",
    "biog": "<biogHist><p>Lived.</p><p>Wrote.</p></biogHist>",
    "functions": (
        '<functions><function localType="TJ37">'
        "<descriptiveNote><p>Writing</p></descriptiveNote>"
        "</function></functions>"
    ),
}

_EAD_ELEMENTS = {
    "unittitle": "<unittitle>Papers of A</unittitle>",
    "origination": "<origination><corpname>Orig Corp</corpname></origination>",
    "repository": "<repository><corpname>Repo Corp</corpname></repository>",
    "langmaterial": (
        '<langmaterial><language langcode="fin">Finnish</language></langmaterial>'
    ),
    "physdesc": "<physdesc><extent>3 boxes</extent><extent>-</extent></physdesc>",
    "controlaccess": (
        "<controlaccess><persname>Person, P.</persname>"
        "<corpname>CA Corp</corpname><subject>archives</subject>"
        "</controlaccess>"
    ),
    "scopecontent": "<scopecontent><p>About stuff.</p></scopecontent>",
}

# origination-without-controlaccess is the round-3 advice repro:
# authors concatenates controlaccess parts with origination parts.
_EAD3_ELEMENTS = {
    "unittitle": "<unittitle>Papers of B</unittitle>",
    "unitid": "<unitid>X:1</unitid>",
    "origination": (
        "<origination><persname><part>Orig Person</part></persname>"
        "<corpname><part>Orig Corp</part></corpname></origination>"
    ),
    "repository": (
        "<repository><corpname><part>Repo Corp</part></corpname></repository>"
    ),
    "langmaterial": '<langmaterial><language langcode="swe"/></langmaterial>',
    "physdesc": "<physdesc><extent>2 m</extent></physdesc>",
    "controlaccess": (
        "<controlaccess><persname><part>CA Person</part></persname>"
        "<corpname><part>CA Corp</part></corpname>"
        '<subject identifier="https://ont/s"><part>archives</part></subject>'
        "<geogname><part>Helsinki</part></geogname>"
        "<genreform><part>letters</part></genreform>"
        "</controlaccess>"
    ),
    "scopecontent": "<scopecontent><p>About B.</p></scopecontent>",
}


def _wrap_eaccpf(body: str) -> str:
    ident = "".join(
        v
        for k, v in _EACCPF_ELEMENTS.items()
        if k in ("name_entry", "name_parallel") and v in body
    )
    desc = "".join(
        v
        for k, v in _EACCPF_ELEMENTS.items()
        if k in ("exist_dates", "occupations", "occupation", "biog", "functions")
        and v in body
    )
    ctrl = _EACCPF_ELEMENTS["agency"] if _EACCPF_ELEMENTS["agency"] in body else ""
    return (
        f"<eac-cpf>{ctrl}<cpfDescription>"
        f"<identity><entityType>person</entityType>{ident}</identity>"
        f"<description>{desc}</description>"
        f"</cpfDescription></eac-cpf>"
    )


def _wrap_ead(elements: dict[str, str], did_keys: tuple[str, ...]):
    def wrap(body: str) -> str:
        did = "".join(v for k, v in elements.items() if k in did_keys and v in body)
        rest = "".join(
            v for k, v in elements.items() if k not in did_keys and v in body
        )
        return f'<c id="c1" level="file"><did>{did}</did>{rest}</c>'

    return wrap


# driver name -> (extractor module name, wrapper, elements, xml_col,
#                 extra kwargs)
DRIVERS: dict[str, tuple] = {
    "dc": ("dc", "<dc><recordID>r</recordID>{body}</dc>", _DC_ELEMENTS, "xml", {}),
    "qdc": ("qdc", "<dc><recordID>r</recordID>{body}</dc>", _DC_ELEMENTS, "xml", {}),
    "ese": ("ese", "<dc><recordID>r</recordID>{body}</dc>", _DC_ELEMENTS, "xml", {}),
    "lrmi": (
        "lrmi",
        "<lrmi><recordID>r</recordID>{body}</lrmi>",
        _LRMI_ELEMENTS,
        "xml",
        {},
    ),
    "doaj": (
        "doaj",
        "<record>{body}</record>",
        _DOAJ_ELEMENTS,
        "xml",
        {"oai_id_col": "oai_id"},
    ),
    "forward": (
        "forward",
        "<ProductionWork>{body}</ProductionWork>",
        _FORWARD_ELEMENTS,
        "xml",
        {},
    ),
    "eaccpf": ("eaccpf", _wrap_eaccpf, _EACCPF_ELEMENTS, "xml", {}),
    "ead": (
        "ead",
        _wrap_ead(
            _EAD_ELEMENTS,
            ("unittitle", "origination", "repository", "langmaterial", "physdesc"),
        ),
        _EAD_ELEMENTS,
        "part_xml",
        {},
    ),
    "ead3": (
        "ead3",
        _wrap_ead(
            _EAD3_ELEMENTS,
            (
                "unittitle",
                "unitid",
                "origination",
                "repository",
                "langmaterial",
                "physdesc",
            ),
        ),
        _EAD3_ELEMENTS,
        "part_xml",
        {},
    ),
}


@pytest.mark.parametrize("driver", sorted(DRIVERS))
def test_sweep(spark, driver):
    mod_name, wrapper, elements, xml_col, kwargs = DRIVERS[driver]
    mod = importlib.import_module(f"recordmanager_spark.extractors.{mod_name}")
    xmls = lattice(wrapper, elements)
    if "oai_id_col" in kwargs:
        rows = [(i, x, "oai:x:loc") for i, x in enumerate(xmls)]
        schema = f"__i int, {xml_col} string, oai_id string"
    else:
        rows = [(i, x) for i, x in enumerate(xmls)]
        schema = f"__i int, {xml_col} string"
    df = spark.createDataFrame(rows, schema).coalesce(4)
    out = mod.to_solr_columns(df, xml_col, **kwargs)
    pairs = collect_rows(out, xml_col, "__i", drop=("__i",))
    assert len(pairs) == len(xmls)
    assert_golden(f"sweep/{driver}", pairs)
