"""Record splitters: one harvested XML document → N component records.

Behavioral spec (reference, NOT code):
- Splitter/File.php:106-152 — generic ``recordXPath`` / ``oaiIDXPath``
  extraction of repeated record elements from one file.
- Splitter/Ead.php:150-244 — EAD finding aids split on
  ``archdesc | archdesc/dsc//*[@level]``; every component inherits ancestor
  ``did`` blocks (minus configured non-inherited fields), gets the archive
  id/title and a zero-padded sequence number, and derives its identifier
  from its unitid (prefixed with the archive id when different).

Spark-first: splitting is a per-document flatMap — an Arrow-batched pandas
UDF parses the XML once and emits an ``array<struct<...>>`` which callers
``explode`` into component rows. The parse is embarrassingly parallel (one
document at a time, no shuffle); downstream extraction operates on the
emitted XML strings with the normal extractor expressions.
"""

from __future__ import annotations

import copy
import re
import urllib.parse
import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf


def _strip_ns(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _findall_local(root: ET.Element, name: str) -> list[ET.Element]:
    return [e for e in root.iter() if _strip_ns(e.tag) == name]


_COMPONENT_TAG = re.compile(r"^c\d*$")


def _component_xml(el: ET.Element) -> str:
    """Serialize a component WITHOUT nested c/cNN sub-components.

    The reference's appendXMLFiltered (Splitter/Ead.php:333-342) skips
    children named ``c`` or ``c<number>`` at every depth, so an archive or
    series record does not carry its descendants' metadata.
    """
    clone = copy.deepcopy(el)

    def prune(node: ET.Element) -> None:
        for child in list(node):
            if _COMPONENT_TAG.match(_strip_ns(child.tag)):
                node.remove(child)
            else:
                prune(child)

    prune(clone)
    return ET.tostring(clone, encoding="unicode")


def make_tag_splitter(record_tag: str, id_tag: str | None = None):
    """JVM fast path for the generic file splitter: streaming-tag matching
    with regexp_extract_all — the same trick Hadoop's XmlInputFormat uses
    to split XML at scale without parsing.

    Whole pipeline stays in whole-stage codegen (no Python, no Arrow).
    Correct when ``record_tag`` elements do not nest inside each other and
    attribute values do not contain ``>`` — the overwhelmingly common
    shape of harvested record streams (OAI-PMH ListRecords, export dumps).
    For hierarchy-aware splitting (EAD/EAD3) or exotic layouts use the
    parsing splitters below.

    Returns an array of (part_xml = raw source fragment, part_id = first
    ``id_tag`` text or 1-based position, sequence)."""
    tag = re.escape(record_tag)
    ns = r"(?:\w+:)?"  # local-name match: optional namespace prefix
    frag_pat = (
        f"(?s)<{ns}{tag}\\b[^>]*/>|<{ns}{tag}\\b[^>]*>.*?</{ns}{tag}\\s*>"
    )
    id_pat = (
        f"(?s)<{ns}{re.escape(id_tag)}\\b[^>]*>\\s*(.*?)\\s*</" if id_tag else None
    )

    def split(xml: Column) -> Column:
        parts = F.regexp_extract_all(xml, F.lit(frag_pat), F.lit(0))

        def mk(p: Column, i: Column) -> Column:
            pos = (i + 1).cast("string")
            if id_pat:
                pid = F.regexp_extract(p, id_pat, 1)
                pid = F.when(pid != "", pid).otherwise(pos)
            else:
                pid = pos
            return F.struct(
                p.alias("part_xml"),
                pid.alias("part_id"),
                (i + 1).cast("int").alias("sequence"),
            )

        return F.transform(parts, mk)

    return split


EAD_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("part_xml", T.StringType()),
            T.StructField("part_id", T.StringType()),
            T.StructField("archive_id", T.StringType()),
            T.StructField("archive_title", T.StringType()),
            T.StructField("sequence", T.StringType()),
            T.StructField("level", T.StringType()),
            T.StructField("inherited_titles", T.ArrayType(T.StringType())),
        ]
    )
)


def _ead_components(doc: str | None, non_inherited: set | None = None):
    """One EAD document → component tuples per Splitter/Ead.php:150-244.

    ``non_inherited`` is the recordSplitterParams ``nonInheritedFields``
    set (Ead.php:132-140): listing ``unittitle`` stops ancestor-title
    inheritance (the repo surfaces inheritance as the
    ``inherited_titles`` column rather than appended did XML)."""
    non_inherited = non_inherited if non_inherited is not None else set()
    if not doc:
        return []
    try:
        root = ET.fromstring(doc)
    except ET.ParseError:
        return []

    # eadheader/eadid: agency + archive id/title
    archive_id = ""
    archive_title = ""
    for eadid in _findall_local(root, "eadid"):
        archive_id = urllib.parse.quote(
            eadid.get("identifier") or (eadid.text or "").strip()
        )
        break
    for tp in _findall_local(root, "titleproper"):
        archive_title = (tp.text or "").strip()
        break

    # components: archdesc + every descendant with a @level, in doc order,
    # tracking ancestor did unittitles for inheritance
    comps = []
    archdescs = _findall_local(root, "archdesc")
    if not archdescs:
        return []
    arch = archdescs[0]

    def walk(el, ancestors_titles):
        is_component = el is arch or el.get("level") is not None
        my_titles = ancestors_titles
        if is_component:
            comps.append((el, list(ancestors_titles)))
            own = (
                []
                if "unittitle" in non_inherited
                else [
                    (t.text or "").strip()
                    for did in el
                    if _strip_ns(did.tag) == "did"
                    for t in did
                    if _strip_ns(t.tag) == "unittitle"
                ]
            )
            my_titles = ancestors_titles + own
        for child in el:
            walk(child, my_titles)

    walk(arch, [])

    out = []
    for seq, (el, inherited) in enumerate(comps, start=1):
        unit_id = None
        for did in el:
            if _strip_ns(did.tag) != "did":
                continue
            for uid in did:
                if _strip_ns(uid.tag) == "unitid":
                    unit_id = urllib.parse.quote(
                        uid.get("identifier") or (uid.text or "").strip()
                    )
                    break
            break
        if unit_id:
            if unit_id != archive_id:
                unit_id = f"{archive_id}_{unit_id}"
        else:
            unit_id = f"{archive_id}_{seq}"
        out.append(
            (
                _component_xml(el),
                unit_id,
                archive_id,
                archive_title,
                str(seq).zfill(7),
                _strip_ns(el.tag) if el.get("level") is None else el.get("level"),
                inherited,
            )
        )
    return out


@pandas_udf(EAD_SCHEMA)
def split_ead(xml: pd.Series) -> pd.Series:
    return xml.map(_ead_components)


# ---------------------------------------------------------------------------
# EAD3 splitter (Splitter/Ead3.php:50-326)
# ---------------------------------------------------------------------------

EAD3_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("part_xml", T.StringType()),
            T.StructField("part_id", T.StringType()),
            T.StructField("archive_id", T.StringType()),
            T.StructField("archive_title", T.StringType()),
            T.StructField("sequence", T.StringType()),
            T.StructField("level", T.StringType()),
            T.StructField("parent_id", T.StringType()),
            T.StructField("parent_title", T.StringType()),
            T.StructField("parent_level", T.StringType()),
            T.StructField("inherited_titles", T.ArrayType(T.StringType())),
        ]
    )
)


def _first_unitid(el, unit_id_label: str | None) -> str:
    """@identifier of the unitid matching the label (first id fallback),
    per Splitter/Ead3.php:150-174."""
    first = ""
    for did in el:
        if _strip_ns(did.tag) != "did":
            continue
        for uid in did:
            if _strip_ns(uid.tag) != "unitid":
                continue
            ident = uid.get("identifier")
            if ident is None:
                continue
            ident = urllib.parse.quote(ident)
            if not first:
                first = ident
            if not unit_id_label or uid.get("label") == unit_id_label:
                return ident
        break
    return first


def _ead3_components(
    doc: str | None,
    unit_id_label: str | None = None,
    prepend_parent_title_with_unitid: bool = False,
):
    """One EAD3 document → component tuples (Splitter/Ead3.php:91-303).

    Differences from EAD: the archive id comes from archdesc/did/
    unitid@identifier (not eadid); parent id/title/level are emitted for
    every non-root component (the reference injects them as ``add-data``
    XML; we surface them as columns for the extractor's hierarchy
    fields); only dao/daoset are non-inherited.
    """
    if not doc:
        return []
    try:
        root = ET.fromstring(doc)
    except ET.ParseError:
        return []

    archdescs = _findall_local(root, "archdesc")
    if not archdescs:
        return []
    arch = archdescs[0]

    archive_id = _first_unitid(arch, unit_id_label)
    archive_title = ""
    for did in arch:
        if _strip_ns(did.tag) == "did":
            for t in did:
                if _strip_ns(t.tag) == "unittitle":
                    archive_title = (t.text or "").strip()
                    break
            break
    archive_title = archive_title or archive_id

    # components in document order: archdesc + dsc descendants with @level
    comps: list[tuple[ET.Element, ET.Element | None, list[str]]] = []

    def walk(el, parent_comp, titles):
        is_comp = el is arch or el.get("level") is not None
        my_titles = titles
        if is_comp:
            comps.append((el, parent_comp, list(titles)))
            own = [
                (t.text or "").strip()
                for did in el
                if _strip_ns(did.tag) == "did"
                for t in did
                if _strip_ns(t.tag) == "unittitle"
            ]
            my_titles = titles + own
            parent_comp = el
        for child in el:
            walk(child, parent_comp, my_titles)

    walk(arch, None, [])

    def _unitid_text(el) -> str:
        """Plain text of the first did's first unitid
        (Ead3.php:322-325 getParentUnitId) — feeds the
        prependParentTitleWithUnitId option."""
        for did in el:
            if _strip_ns(did.tag) != "did":
                continue
            for uid in did:
                if _strip_ns(uid.tag) == "unitid":
                    return (uid.text or "").strip()
            break
        return ""

    ids: dict[int, str] = {}
    titles_by_el: dict[int, str] = {}
    out = []
    for seq, (el, parent, inherited) in enumerate(comps, start=1):
        if el is arch:
            unit_id = archive_id
        else:
            unit_id = _first_unitid(el, unit_id_label)
            if not unit_id:
                unit_id = f"{archive_id}_{seq}"
            elif unit_id != archive_id:
                unit_id = f"{archive_id}_{unit_id}"
        ids[id(el)] = unit_id

        own_title = ""
        for did in el:
            if _strip_ns(did.tag) == "did":
                for t in did:
                    if _strip_ns(t.tag) == "unittitle":
                        own_title = (t.text or "").strip() or t.get("label", "")
                        break
                break
        titles_by_el[id(el)] = own_title

        parent_id = parent_title = parent_level = ""
        if parent is not None:
            parent_id = ids.get(id(parent), archive_id)
            parent_title = titles_by_el.get(id(parent), "") or parent_id
            if prepend_parent_title_with_unitid:
                pid_text = _unitid_text(parent)
                if pid_text:
                    parent_title = f"{pid_text} {parent_title}"
            parent_level = (
                "archive" if parent is arch else (parent.get("level") or "")
            )
        out.append(
            (
                _component_xml(el),
                unit_id,
                archive_id,
                archive_title,
                str(seq).zfill(7),
                "archdesc" if el is arch else (el.get("level") or ""),
                parent_id,
                parent_title,
                parent_level,
                inherited,
            )
        )
    return out


@pandas_udf(EAD3_SCHEMA)
def split_ead3(xml: pd.Series) -> pd.Series:
    return xml.map(_ead3_components)


def make_ead_splitter(params: dict | None = None):
    """EAD splitter honoring recordSplitterParams
    (StoreRecordTrait.php:91-103 → Ead.php:127-141):
    ``nonInheritedFields`` as a list or comma string."""
    params = params or {}
    ni = params.get("nonInheritedFields") or []
    if isinstance(ni, str):
        ni = [f.strip() for f in ni.split(",") if f.strip()]
    ni_set = set(ni)

    @pandas_udf(EAD_SCHEMA)
    def split(xml: pd.Series) -> pd.Series:
        return xml.map(lambda d: _ead_components(d, ni_set))

    return split


def make_ead3_splitter(params: dict | None = None):
    """EAD3 splitter honoring recordSplitterParams (Ead3.php:81,259):
    ``unitIdLabel`` and ``prependParentTitleWithUnitId``."""
    params = params or {}
    label = params.get("unitIdLabel") or None
    prepend = str(
        params.get("prependParentTitleWithUnitId", "")
    ).strip().lower() in ("1", "true", "yes", "on")

    @pandas_udf(EAD3_SCHEMA)
    def split(xml: pd.Series) -> pd.Series:
        return xml.map(lambda d: _ead3_components(d, label, prepend))

    return split


def explode_parts(df: DataFrame, parts_col: Column, keep: list[str]) -> DataFrame:
    """Explode a split result into one row per component part."""
    exploded = df.select(*keep, F.explode(parts_col).alias("__part"))
    part_fields = exploded.schema["__part"].dataType.names
    return exploded.select(*keep, *[F.col(f"__part.{f}").alias(f) for f in part_fields])


SPLIT_TRANSFORMED_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("part_xml", T.StringType()),
            T.StructField("part_id", T.StringType()),
            T.StructField("sequence", T.IntegerType()),
        ]
    )
)


@pandas_udf(SPLIT_TRANSFORMED_SCHEMA)
def split_transformed_records(xml: pd.Series) -> pd.Series:
    """Split the OUTPUT of a splitting transformation (the
    ``recordSplitter = EadSplit.xsl`` path, StoreRecordTrait.php:85-90):
    the stylesheet emits one wrapper whose children are the records,
    each carrying its id in an ``id`` attribute (1-based position when
    absent)."""

    def one(doc):
        if not doc:
            return []
        try:
            root = ET.fromstring(doc)
        except ET.ParseError:
            return []
        out = []
        for i, child in enumerate(root, start=1):
            pid = child.get("id") or str(i)
            out.append((_component_xml(child), pid, i))
        return out

    return xml.map(one)
