"""MARC extractor: MARC-in-JSON parsing + fieldspec engine as Spark expressions.

Reference behavior (NOT code) from NatLibFi/RecordManager:
- MARC-in-JSON shape: Marc/Serialization/MarcInJson.php (tests/fixtures/Base/
  record/marc_empty_field.json) — ``{"leader": str, "fields": [{"001": str} |
  {"245": {"ind1": " ", "ind2": " ", "subfields": [{"a": str}, ...]}}]}``.
- Fieldspec selection engine: Marc/Marc.php:110-230
  (getFieldsSubfieldsBySpecs) — select fields by tag, optionally require
  subfields, join selected subfield codes with spaces or split them, and
  optionally append alt-script values linked via 880 $6 occurrence numbers.
- Solr projection: Record/Marc.php:267-596 (toSolrArray).

Spark-first design: the irregular JSON (dynamic tag keys, heterogeneous
values) is normalized ONCE into a typed struct column by an Arrow-batched
pandas UDF; every downstream fieldspec operation is a JVM-side higher-order
array expression (filter/transform/flatten/exists) — no per-row Python in
the hot path after parse. Higher-order functions are ``CodegenFallback``
in Spark 4.1: generated code calls their interpreted ``eval``, so these
trees are not compiled and cost in proportion to their size. A value a
tree reads more than once is therefore written once, bound through
``keys.let1``.

At 100 TB scale: parse happens at ingest and the struct column is stored in
parquet, so analytic queries never re-parse; field selection is a narrow
per-row expression with no shuffle.
"""

from __future__ import annotations

import json
import re
from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from .. import sqlalg, sqltwin
from ..functions import geo as GEOF
from ..functions import keys as K
from .format_calculator import format_col
from recordmanager_spark.sparkcompat import try_element_at

# Normalized MARC struct: control fields carry `value`, data fields carry
# `subfields`. One array keeps original field order (MARC order matters for
# firstOnly semantics).
MARC_FIELD = StructType(
    [
        StructField("tag", StringType()),
        StructField("ind1", StringType()),
        StructField("ind2", StringType()),
        StructField("value", StringType()),
        StructField(
            "subfields",
            ArrayType(
                StructType(
                    [
                        StructField("code", StringType()),
                        StructField("value", StringType()),
                    ]
                )
            ),
        ),
    ]
)

MARC_SCHEMA = StructType(
    [
        StructField("leader", StringType()),
        StructField("fields", ArrayType(MARC_FIELD)),
    ]
)


def _parse_one(raw: str | None):
    """MARC-in-JSON or any of the reference's legacy storage formats →
    the normalized struct (Marc/Serialization/MarcInJson.php plus the
    legacy v1/v2/v3 readers exercised by
    tests/RecordManagerTest/Base/Marc/MarcTest.php::testLegacySerialization)."""
    if not raw:
        return None
    try:
        doc = json.loads(raw)
    except (ValueError, TypeError):
        return None
    if not isinstance(doc, dict):
        return None
    if "leader" in doc or "fields" in doc:
        out = []
        for fld in doc.get("fields") or []:
            if not isinstance(fld, dict) or not fld:
                continue
            tag, val = next(iter(fld.items()))
            if isinstance(val, dict):
                subs = []
                for sf in val.get("subfields") or []:
                    if isinstance(sf, dict) and sf:
                        code, sval = next(iter(sf.items()))
                        subs.append(
                            (str(code), None if sval is None else str(sval))
                        )
                out.append((str(tag), val.get("ind1"), val.get("ind2"), None, subs))
            else:
                out.append(
                    (str(tag), None, None, None if val is None else str(val), None)
                )
        return (doc.get("leader"), out)
    if doc.get("v") in (2, 3):
        # legacy v2/v3: {'v': N, 'f': {tag: ...}}; '000' carries the
        # leader; data fields are {'i1','i2','s': [...]} with v2
        # subfields {'c': code, 'v': value} and v3 {code: value}
        fdict = doc.get("f") or {}
        leader = fdict.get("000")
        if isinstance(leader, list):
            leader = leader[0] if leader else None
        out = []
        for tag, vals in fdict.items():
            if tag == "000":
                continue
            if not isinstance(vals, list):
                vals = [vals]
            for val in vals:
                if isinstance(val, dict):
                    subs = []
                    for sf in val.get("s") or []:
                        if not isinstance(sf, dict) or not sf:
                            continue
                        if "c" in sf and "v" in sf:
                            subs.append((str(sf["c"]), str(sf["v"])))
                        else:
                            code, sval = next(iter(sf.items()))
                            subs.append(
                                (str(code), None if sval is None else str(sval))
                            )
                    out.append(
                        (str(tag), val.get("i1"), val.get("i2"), None, subs)
                    )
                else:
                    out.append((str(tag), None, None, str(val), None))
        return (leader, out)
    if doc and all(
        isinstance(k, str) and len(k) == 3 for k in doc
    ):
        # legacy v1: {tag: ['<i1><i2>\x1fa...', ...]}; '000' = leader
        leader_vals = doc.get("000")
        leader = (
            leader_vals[0]
            if isinstance(leader_vals, list) and leader_vals
            else (leader_vals if isinstance(leader_vals, str) else None)
        )
        out = []
        for tag, vals in doc.items():
            if tag == "000":
                continue
            if not isinstance(vals, list):
                vals = [vals]
            for val in vals:
                val = "" if val is None else str(val)
                if "\x1f" in val:
                    head, *pieces = val.split("\x1f")
                    ind1 = head[0] if len(head) > 0 else " "
                    ind2 = head[1] if len(head) > 1 else " "
                    subs = [(p[:1], p[1:]) for p in pieces if p]
                    out.append((str(tag), ind1, ind2, None, subs))
                else:
                    out.append((str(tag), None, None, val, None))
        return (leader, out)
    return None


@pandas_udf(MARC_SCHEMA)
def parse_marc_in_json(raw: pd.Series) -> pd.DataFrame:
    parsed = raw.map(_parse_one)
    return pd.DataFrame(
        {
            "leader": parsed.map(lambda p: p[0] if p else None),
            "fields": parsed.map(lambda p: p[1] if p else None),
        }
    )


def _parse_one_xml(raw: str | None):
    """One MARCXML <record> (LOC slim schema) → the normalized struct.

    Accepts a bare <record> or a <collection> wrapper (first record).
    Namespace-agnostic: tests and real harvests mix the MARC21/slim
    namespace with none at all.
    """
    if not raw:
        return None
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(raw)
    except ET.ParseError:
        return None

    def local(el):
        return el.tag.rsplit("}", 1)[-1]

    rec = root
    if local(root) != "record":
        rec = next((el for el in root.iter() if local(el) == "record"), None)
        if rec is None:
            return None
    leader = None
    out = []
    for el in rec:
        name = local(el)
        if name == "leader":
            leader = el.text or ""
        elif name == "controlfield":
            out.append((el.get("tag", ""), None, None, el.text or "", None))
        elif name == "datafield":
            subs = [
                (sf.get("code", ""), sf.text or "")
                for sf in el
                if local(sf) == "subfield"
            ]
            out.append(
                (el.get("tag", ""), el.get("ind1"), el.get("ind2"), None, subs)
            )
    return (leader, out)


# ---------------------------------------------------------------------------
# Fieldspec engine — pure JVM expressions over the parsed struct
# ---------------------------------------------------------------------------


def fields_by_tag(marc: Column, tag: str) -> Column:
    """All fields with the given tag, in record order."""
    return F.filter(marc["fields"], lambda f: f["tag"] == tag)


def control_value(marc: Column, tag: str) -> Column:
    """First control-field value for the tag ('' if absent)."""
    vals = F.filter(
        marc["fields"], lambda f: (f["tag"] == tag) & f["value"].isNotNull()
    )
    return F.coalesce(try_element_at(vals, 1)["value"], F.lit(""))


def control_values(marc: Column, tag: str) -> Column:
    """All control-field values for a (repeatable) tag, e.g. 007."""
    return F.transform(
        F.filter(marc["fields"], lambda f: (f["tag"] == tag) & f["value"].isNotNull()),
        lambda f: f["value"],
    )


def _sub_values(field: Column, codes: Sequence[str] | None) -> Column:
    subs = F.coalesce(field["subfields"], F.array())
    if codes:
        lit_codes = F.array(*[F.lit(c) for c in codes])
        subs = F.filter(subs, lambda s: F.array_contains(lit_codes, s["code"]))
    return F.transform(subs, lambda s: F.coalesce(s["value"], F.lit("")))


def subfield_join(field: Column, codes: Sequence[str] | None = None) -> Column:
    """Space-joined selected subfield values of one field (Marc.php:158-186)."""
    return F.array_join(F.filter(_sub_values(field, codes), lambda v: v != ""), " ")


def first_subfield(marc: Column, tag: str, code: str) -> Column:
    """First value of `code` in the first `tag` field ('' if absent)."""
    return F.coalesce(
        try_element_at(F.flatten(
            F.transform(fields_by_tag(marc, tag), lambda f: _sub_values(f, [code]))
        ), 1),
        F.lit(""),
    )


def get_field_subfields(marc: Column, tag: str, codes: Sequence[str] | None = None) -> Column:
    """Space-joined subfields of the FIRST matching field (getFieldSubfields)."""
    return F.coalesce(
        try_element_at(
            F.filter(
                F.transform(fields_by_tag(marc, tag), lambda f: subfield_join(f, codes)),
                lambda v: v != "",
            ),
            1,
        ),
        F.lit(""),
    )


def _occurrence(link_value: Column) -> Column:
    # $6 is "<tag>-<occurrence>[/...]"; occurrence "00" = non-specific link
    return F.regexp_extract(link_value, "^[0-9]{3}-([0-9]{2})", 1)


def _field_link_occ(field: Column) -> Column:
    return _occurrence(
        F.coalesce(try_element_at(_sub_values(field, ["6"]), 1), F.lit(""))
    )


def linked_alt_values(
    marc: Column,
    tag: str,
    codes: Sequence[str] | None = None,
    split_subfields: bool = False,
    fields880: Column | None = None,
) -> Column:
    """Alt-script values from 880 fields linked to `tag` via $6 occurrences.

    Parity with Marc/Marc.php getLinkedSubfieldsFrom880 / parseLinkageField:
    an 880 belongs to (tag, occurrence) when its own $6 is "tag-occ..." and
    some original field of `tag` carries $6 "880-occ...". Pure array exprs.
    The 880s are looked for in ``fields880`` when given (the record's 880s,
    bound once by a caller that looks up several tags), else in every field.
    """
    # occurrences referenced by original fields of this tag
    occs = F.transform(
        F.filter(
            fields_by_tag(marc, tag), lambda f: _field_link_occ(f) != ""
        ),
        _field_link_occ,
    )
    linked = F.filter(
        marc["fields"] if fields880 is None else fields880,
        lambda f: (f["tag"] == "880")
        & F.exists(
            F.coalesce(f["subfields"], F.array()),
            lambda s: (s["code"] == "6")
            & s["value"].startswith(tag + "-")
            & F.array_contains(occs, _occurrence(s["value"])),
        ),
    )
    if split_subfields:
        return F.flatten(F.transform(linked, lambda f: _sub_values(f, list(codes) if codes else None)))
    return F.filter(
        F.transform(linked, lambda f: subfield_join(f, codes)), lambda v: v != ""
    )


GET_NORMAL = "normal"
GET_ALT = "alt"
GET_BOTH = "both"


def get_fields_subfields(
    marc: Column,
    specs: Iterable[tuple],
    first_only: bool = False,
    split_subfields: bool = False,
) -> Column:
    """Array of values for a list of fieldspecs (Marc/Marc.php:110-230).

    Each spec: (type, tag, codes) or (type, tag, codes, required_codes).
    type GET_NORMAL collects from the fields themselves; GET_ALT from linked
    880s only; GET_BOTH from both.
    """
    parts: list[Column] = []
    for spec in specs:
        stype, tag, codes = spec[0], spec[1], spec[2]
        required = spec[3] if len(spec) > 3 else None
        flds = fields_by_tag(marc, tag)
        flds = F.filter(flds, lambda f: F.size(F.coalesce(f["subfields"], F.array())) > 0)
        if required:
            req = list(required)
            flds = F.filter(
                flds,
                lambda f: F.forall(
                    F.array(*[F.lit(c) for c in req]),
                    lambda c: F.exists(f["subfields"], lambda s: s["code"] == c),
                ),
            )
        if stype in (GET_NORMAL, GET_BOTH):
            if split_subfields:
                vals = F.flatten(
                    F.transform(flds, lambda f: _sub_values(f, list(codes) if codes else None))
                )
                vals = F.filter(vals, lambda v: v != "")
            else:
                vals = F.filter(
                    F.transform(flds, lambda f: subfield_join(f, list(codes) if codes else None)),
                    lambda v: v != "",
                )
            parts.append(vals)
        if stype in (GET_ALT, GET_BOTH):
            parts.append(
                linked_alt_values(marc, tag, codes, split_subfields=split_subfields)
            )
    out = F.concat(*parts) if len(parts) > 1 else parts[0]
    if first_only:
        out = F.slice(out, 1, 1)
    return out


# ---------------------------------------------------------------------------
# Solr-array accessors (Record/Marc.php:267-596 and helpers)
# ---------------------------------------------------------------------------


def _field_title(field: Column, for_filing: bool) -> Column:
    """One field's title per getTitle (Record/Marc.php:799-844): start from
    $a (non-filing ind2 chars dropped when filing), then append accepted
    subfields in field order with code-specific punctuation glue unless the
    accumulated title already ends in punctuation."""
    a = F.coalesce(try_element_at(_sub_values(field, ["a"]), 1), F.lit(""))
    if for_filing:
        nf = F.coalesce(field["ind2"], F.lit(" "))
        nfn = F.when(nf.rlike("^[1-9]$"), nf.cast("int")).otherwise(F.lit(0))
        a = F.when(nfn > 0, F.substr(a, nfn + 1, F.length(a))).otherwise(a)
    accept = ("b", "n", "p", "c") if for_filing else ("b", "n", "p")

    def step(acc, s):
        code = s["code"]
        glue = F.when(K.has_trailing_punctuation(acc), F.lit(" ")).otherwise(
            F.when(code == "b", " : ")
            .when(code.isin("n", "p"), ". ")
            .otherwise(" ")
        )
        return F.when(
            code.isin(*accept),
            F.concat(acc, glue, F.coalesce(s["value"], F.lit(""))),
        ).otherwise(acc)

    return F.aggregate(F.coalesce(field["subfields"], F.array()), a, step)


def marc_title(marc: Column, for_filing: bool = False) -> Column:
    """getTitle: 245 with 240 fallback, punctuation-glued subfields; the
    filing variant drops non-filing chars, strips punctuation and
    lowercases; an all-punctuation title survives as the raw fallback."""

    def one(tag: str) -> Column:
        """struct(t, c) for one tag — the raw title tree and the
        punctuation-stripped fan-out each let-bound so the (large)
        _field_title/strip chains appear in the plan once, not the
        ~17x an inlined build multiplied them to (opt r12)."""
        fld = try_element_at(fields_by_tag(marc, tag), 1)
        raw = _field_title(fld, for_filing)

        def mk_t(v: Column) -> Column:
            t = F.lower(K.strip_punctuation(v)) if for_filing else v
            return F.when(fld.isNotNull(), t).otherwise(F.lit(None))

        return K.let1(
            K.let1(raw, mk_t),
            lambda t: F.struct(
                t.alias("t"), K.strip_trailing_punctuation(t).alias("c")
            ),
        )

    return K.let1(
        one("245"),
        lambda s1: K.let1(
            one("240"),
            lambda s2: (
                F.when(F.coalesce(s1["c"], F.lit("")) != "", s1["c"])
                .when(F.coalesce(s2["c"], F.lit("")) != "", s2["c"])
                .otherwise(F.coalesce(s1["t"], s2["t"], F.lit("")))
            ),
        ),
    )


def marc_languages(marc: Column) -> Column:
    """008/35-37 plus 041 $a/$d/$h/$j split values, trimmed + lowercased,
    empties dropped — and NOT deduplicated: the reference keeps the 008
    code and an identical 041 code as separate entries (getLanguages,
    Marc.php:2188-2205 → normalizeLanguageStrings, MetadataUtils.php:
    1056-1069; per-field dedup happens downstream in normalize_fields,
    as in SolrUpdater)."""
    base = F.lower(F.trim(F.substring(control_value(marc, "008"), 36, 3)))
    extra = F.transform(
        get_fields_subfields(
            marc,
            [
                (GET_NORMAL, "041", ["a"]),
                (GET_NORMAL, "041", ["d"]),
                (GET_NORMAL, "041", ["h"]),
                (GET_NORMAL, "041", ["j"]),
            ],
            split_subfields=True,
        ),
        lambda v: F.lower(F.trim(v)),
    )
    all_codes = F.concat(
        F.when(base.isNotNull() & (base != ""), F.array(base)).otherwise(
            F.array()
        ),
        extra,
    )
    return F.filter(all_codes, lambda c: c.isNotNull() & (c != ""))


def marc_full_title(marc: Column) -> Column:
    """245 $a-$s join with trailing punctuation stripped; the original
    string wins if stripping leaves nothing (getFullTitle, Marc.php:
    1756-1766 — stripTrailingPunctuation's preservePunctuationOnly)."""
    full = get_field_subfields(
        marc, "245", ["a", "b", "c", "f", "g", "h", "k", "n", "p", "s"]
    )
    stripped = K.strip_trailing_punctuation(full)
    return F.when(stripped == "", full).otherwise(stripped)


def marc_publishers(marc: Column) -> Column:
    """260 $b (with linked 880, trailing punctuation stripped); when that
    yields nothing, the first 264 with ind2=1 contributes its $b
    (Marc.php:430-450)."""
    p260 = _stripped(get_fields_subfields(marc, [(GET_BOTH, "260", ["b"])]))
    f264 = F.filter(
        marc["fields"],
        lambda f: (f["tag"] == "264")
        & (F.coalesce(f["ind2"], F.lit("")) == "1"),
    )
    first_b = try_element_at(
        F.flatten(F.transform(f264, lambda f: _sub_values(f, ["b"]))), 1
    )
    p264 = K.let1(
        first_b,
        lambda b: F.when(
            b.isNotNull(), F.array(K.strip_trailing_punctuation(b))
        ).otherwise(F.array().cast("array<string>")),
    )
    return K.let1(p260, lambda p: F.when(F.size(p) > 0, p).otherwise(p264))


def marc_isbns(marc: Column) -> Column:
    """020 $a + host-item 773 $z normalized to ISBN-13 (the reference's
    isbnFields spec, Marc.php:135-144 — 'combined' type: invalid host
    values drop silently)."""
    raw = get_fields_subfields(
        marc,
        [(GET_NORMAL, "020", ["a"]), (GET_NORMAL, "773", ["z"])],
        split_subfields=True,
    )
    norm = F.transform(raw, lambda v: K.normalize_isbn(v))
    return F.array_distinct(F.filter(norm, lambda v: v.isNotNull() & (v != "")))


def marc_publish_year(marc: Column) -> Column:
    """008/7-10 year, fallback 260 $c digits (getPublicationYear)."""
    y008 = F.substring(control_value(marc, "008"), 8, 4)
    y260 = F.regexp_extract(get_field_subfields(marc, "260", ["c"]), "(\\d{4})", 1)
    y264 = F.regexp_extract(get_field_subfields(marc, "264", ["c"]), "(\\d{4})", 1)
    return F.when(y008.rlike("^\\d{4}$"), y008).otherwise(
        F.when(y260 != "", y260).otherwise(F.when(y264 != "", y264))
    )


def marc_page_count(marc: Column) -> Column:
    """First number in 300 $a (getPageCount → MetadataUtils extract)."""
    digits = F.regexp_extract(get_field_subfields(marc, "300", ["a"]), "(\\d+)", 1)
    return F.when(digits != "", digits.cast("int"))


def marc_allfields(marc: Column) -> Column:
    """Search-field union (getAllFields, Marc.php:1946-1974): data fields
    with 100 <= tag < 841 plus 856/880; control subfields excluded per tag
    (650: $0$2$6$8, 773: $6$7$8$w, 856: $6$8$q, default: $0$6$8); each
    value stripped of leading then trailing punctuation; first-occurrence
    unique, empties dropped."""

    def tagn(f):
        return f["tag"].cast("int")

    fields = F.filter(
        marc["fields"],
        lambda f: f["subfields"].isNotNull()
        & (
            ((tagn(f) >= 100) & (tagn(f) < 841))
            | f["tag"].isin("856", "880")
        ),
    )

    def keep(f, s):
        return ~(
            F.when(f["tag"] == "650", s["code"].isin("0", "2", "6", "8"))
            .when(f["tag"] == "773", s["code"].isin("6", "7", "8", "w"))
            .when(f["tag"] == "856", s["code"].isin("6", "8", "q"))
            .otherwise(s["code"].isin("0", "6", "8"))
        )

    vals = F.flatten(
        F.transform(
            fields,
            lambda f: F.transform(
                F.filter(f["subfields"], lambda s: keep(f, s)),
                lambda s: s["value"],
            ),
        )
    )
    cleaned = F.transform(
        vals,
        lambda v: K.strip_trailing_punctuation(
            K.strip_leading_punctuation(v, preserve_punctuation_only=False)
        ),
    )
    return F.array_distinct(
        F.filter(cleaned, lambda v: v.isNotNull() & (v != ""))
    )


# ---------------------------------------------------------------------------
# Authors by relator (Record/Marc.php:2236-2400)
# ---------------------------------------------------------------------------

# Default primary author relator codes (Marc.php:69-71; config-overridable).
PRIMARY_AUTHOR_RELATORS = ("adp", "aut", "cmp", "cre", "dub", "inv")
# Personal (100/700: primary by relator, or bare 100; secondary is the
# rest) and corporate (110/111/710/711, relators ignored) author fields,
# in priority order.
_PERSONAL_TAGS = ("100", "700")
_CORPORATE_TAGS = ("110", "111", "710", "711")


def normalize_relator(v: Column) -> Column:
    """trim + strip punctuation + lowercase (MetadataUtils.php:1078-1084)."""
    return F.lower(F.regexp_replace(F.trim(v), "\\p{P}+", ""))


def _linked_terms_for_field(marc: Column, field: Column, codes) -> Column:
    """880 terms linked to THIS field via its $6 occurrence — the reference
    appends them to the same name string (Marc.php:2270-2280)."""
    occ = _field_link_occ(field)
    prefix = F.concat(field["tag"], F.lit("-"))
    linked = F.filter(
        marc["fields"],
        lambda f: (f["tag"] == "880")
        & (occ != "")
        & F.exists(
            F.coalesce(f["subfields"], F.array()),
            lambda s: (s["code"] == "6")
            & s["value"].startswith(prefix)
            & (_occurrence(s["value"]) == occ),
        ),
    )
    return F.filter(
        F.transform(linked, lambda f: subfield_join(f, list(codes))),
        lambda v: v != "",
    )


def classified_authors(
    marc: Column,
    tags: Sequence[str],
    codes: Sequence[str],
    relators: Sequence[str],
    no_relator_required: Sequence[str],
) -> Column:
    """getAuthorsByRelator's per-field step: every field of ``tags``, in
    record order, as struct(tag, m, name, rel, a).

    ``m``: the field's normalized $4/$e relators intersect ``relators``,
    or it has none and its tag is in ``no_relator_required`` (empty
    ``relators`` matches everything). ``name`` is the ``codes`` join with
    the 880 alt-script terms linked to the field appended; ``rel`` the
    first relator; ``a`` the first $a. Each field is classified once,
    whichever author sets (:func:`author_set`) read it."""

    def classify(field):
        # the relators, the joined terms and the 880-linked terms are
        # each read 2-3x below
        frel0 = F.array_distinct(
            F.filter(
                F.transform(_sub_values(field, ["4", "e"]), normalize_relator),
                lambda v: v != "",
            )
        )

        def build(b):
            frel, terms, linked = b["f"], b["t"], b["l"]
            if relators:
                lit_rel = F.array(*[F.lit(r) for r in relators])
                match = (F.size(F.array_intersect(lit_rel, frel)) > 0) | (
                    (F.size(frel) == 0) & field["tag"].isin(*no_relator_required)
                )
            else:
                match = F.lit(True)
            full = F.when(
                F.size(linked) > 0,
                F.concat(terms, F.lit(" "), F.array_join(linked, " ")),
            ).otherwise(terms)
            return F.struct(
                field["tag"].alias("tag"),
                match.alias("m"),
                K.strip_trailing_punctuation(F.trim(full)).alias("name"),
                F.coalesce(try_element_at(frel, 1), F.lit("")).alias("rel"),
                F.coalesce(
                    try_element_at(_sub_values(field, ["a"]), 1), F.lit("")
                ).alias("a"),
            )

        return K.let1(
            F.struct(
                frel0.alias("f"),
                subfield_join(field, list(codes)).alias("t"),
                _linked_terms_for_field(marc, field, codes).alias("l"),
            ),
            build,
        )

    return F.transform(
        F.filter(marc["fields"], lambda f: f["tag"].isin(*tags)), classify
    )


def author_set(
    entries: Column, tags: Sequence[str], matched: bool = True
) -> Column:
    """getAuthorsByRelator's result as struct(names, relators, variants):
    the :func:`classified_authors` entries whose ``m`` equals ``matched``
    (False gives the secondary authors) and whose name is not empty, tag
    by tag in the priority order of ``tags``. Variants are author-initial
    forms of $a (getAuthorVariants)."""

    def of_tag(es, tag):
        return F.filter(
            es,
            lambda e: (e["tag"] == tag)
            & (e["m"] if matched else ~e["m"])
            & (e["name"] != ""),
        )

    return K.let1(
        K.let1(entries, lambda es: F.concat(*[of_tag(es, t) for t in tags])),
        lambda e: F.struct(
            F.transform(e, lambda s: s["name"]).alias("names"),
            F.transform(e, lambda s: s["rel"]).alias("relators"),
            F.filter(
                F.transform(e, lambda s: K.author_initials(s["a"])),
                lambda v: v != "",
            ).alias("variants"),
        ),
    )


def personal_authors(marc: Column) -> Column:
    return classified_authors(
        marc, _PERSONAL_TAGS, ("a", "b", "c", "q", "d"),
        PRIMARY_AUTHOR_RELATORS, ("100",),
    )


def corporate_authors(marc: Column) -> Column:
    return author_set(
        classified_authors(
            marc, _CORPORATE_TAGS, ("a", "b"), (), _CORPORATE_TAGS
        ),
        _CORPORATE_TAGS,
    )


# ---------------------------------------------------------------------------
# Identifier / facet / misc accessors (Record/Marc.php:465-595, 1693-1796)
# ---------------------------------------------------------------------------


def marc_dois(marc: Column) -> Column:
    """024 $a where $2=doi (case-insensitive) + DOIs inside 856 $u
    (getDOIs, Marc.php:1773-1797)."""
    f024 = F.filter(
        fields_by_tag(marc, "024"),
        lambda f: F.lower(
            F.coalesce(try_element_at(_sub_values(f, ["2"]), 1), F.lit(""))
        )
        == "doi",
    )
    from_024 = F.filter(
        F.transform(
            f024,
            lambda f: F.trim(
                F.coalesce(try_element_at(_sub_values(f, ["a"]), 1), F.lit(""))
            ),
        ),
        lambda v: v != "",
    )
    urls = get_fields_subfields(marc, [(GET_NORMAL, "856", ["u"])], split_subfields=True)
    from_856 = F.filter(
        F.transform(
            urls,
            lambda u: F.url_decode(
                F.regexp_extract(
                    u, "(urn:doi:|https?://doi.org/|https?://dx.doi.org/)([^?#]+)", 2
                )
            ),
        ),
        lambda v: v != "",
    )
    return F.concat(from_024, from_856)


_OCLC_PATTERNS = (
    "\\([Oo][Cc][Oo][Ll][Cc]\\)[^0-9]*[0]*([0-9]+)",
    "ocm[0]*([0-9]+)[ ]*[0-9]*",
    "ocn[0]*([0-9]+).*",
    "on[0]*([0-9]+).*",
)


def marc_oclc_numbers(marc: Column) -> Column:
    """035 $a control numbers with OCLC prefixes → bare numbers
    (getOclcNumbers, Marc.php:2489-2516; first matching pattern wins)."""
    nums = get_fields_subfields(marc, [(GET_NORMAL, "035", ["a"])])

    def extract(v):
        low = F.lower(v)
        prefixed = (
            low.startswith("(ocolc)") | low.startswith("ocm")
            | low.startswith("ocn") | low.startswith("on")
        )
        first = F.coalesce(
            *[
                F.nullif(F.regexp_extract(v, p, 1), F.lit(""))
                for p in _OCLC_PATTERNS
            ]
        )
        return F.when(prefixed, first)

    return F.filter(F.transform(nums, extract), lambda v: v.isNotNull())


_ILLUSTRATED_CODES = "abcdefghijklmop"


def marc_illustrated(marc: Column) -> Column:
    """'Illustrated' / 'Not Illustrated' from 008/18-21, 006/1-4 (language
    material only) and 300 $b strings (getIllustrated, Marc.php:1697-1750)."""
    rtype = F.lower(F.substring(F.coalesce(marc["leader"], F.lit("")), 7, 1))
    f008 = control_value(marc, "008")
    pos_hits_008 = F.exists(
        F.sequence(F.lit(19), F.lit(22)),
        lambda i: F.substring(f008, i, 1).rlike(f"[{_ILLUSTRATED_CODES}]"),
    )
    pos_hits_006 = F.exists(
        control_values(marc, "006"),
        lambda v: F.exists(
            F.sequence(F.lit(2), F.lit(5)),
            lambda i: F.substring(v, i, 1).rlike(f"[{_ILLUSTRATED_CODES}]"),
        ),
    )
    by_fixed = rtype.isin("a", "t") & (pos_hits_008 | pos_hits_006)
    subs_300b = get_fields_subfields(
        marc, [(GET_NORMAL, "300", ["b"])], split_subfields=True
    )
    by_300 = F.exists(
        subs_300b,
        lambda v: F.lower(v).contains("ill.") | F.lower(v).contains("illus."),
    )
    return F.when(by_fixed | by_300, F.lit("Illustrated")).otherwise(
        F.lit("Not Illustrated")
    )


def _stripped(col: Column) -> Column:
    """getFieldsSubfields strips trailing punctuation on results by
    default — applied per element for facet-style outputs."""
    return F.transform(col, lambda v: K.strip_trailing_punctuation(v))


# System-control-number prefixes accepted as unique ids (Marc.php:119-124)
_SCN_RE = (
    "^\\((CONSER|DLC|OCoLC)\\).+|^\\(EXLCZ\\).+|^\\(EXLNZ-.+\\).+"
    "|^\\(\\w\\w-\\w+\\).+"
)


def create_linking_id(
    marc: Column, id_col: Column, prepend_003: bool = False
) -> Column:
    """createLinkingId (Record/Marc.php:1561-1578): under the
    ``003InLinkingID`` driver param a non-empty id gains the record's 003
    agency wrapped in parentheses — "(FI-NL)961827"."""
    if not prepend_003:
        return id_col
    src = K.strip_trailing_punctuation(F.trim(control_value(marc, "003")))
    return F.when(
        (id_col != "") & (src != ""),
        F.concat(F.lit("("), src, F.lit(")"), id_col),
    ).otherwise(id_col)


def linking_ids(
    marc: Column, prepend_003: bool = False, id_in_999: bool = False
) -> Column:
    """getLinkingIDs (Record/Marc.php:619-640): the record's own id (001,
    with a Koha-style 999$c fallback under ``idIn999``), run through
    createLinkingId, followed by every 035$a system control number —
    the array other records' $w links resolve against
    (resolve_links(..., target_linking=...) explodes it)."""
    rid = F.trim(control_value(marc, "001"))
    if id_in_999:
        f999 = try_element_at(fields_by_tag(marc, "999"), 1)
        c999 = F.coalesce(try_element_at(_sub_values(f999, ["c"]), 1), F.lit(""))
        rid = F.when(rid != "", rid).otherwise(F.trim(c999))
    rid = create_linking_id(marc, rid, prepend_003)
    cns = get_fields_subfields(marc, [(GET_NORMAL, "035", ["a"])])
    return F.concat(F.array(rid), cns)


def marc_unique_ids(marc: Column) -> Column:
    """getUniqueIDs (Record/Marc.php:887-985): dedup hard-accept ids from
    010 (lccn/nucmc), 015/016 ($2-qualified national numbers), the first
    024 (source by ind1; IAN truncates at the first space, invalid ISMNs
    drop), and 035 system control numbers matching the accepted prefixes.
    All values pass normalizeKey. Note the (nucmc) entry carries the LCCN
    value — the reference does exactly that."""
    def first_field(tag):
        return try_element_at(fields_by_tag(marc, tag), 1)

    def sub1(field, code):
        return F.coalesce(
            try_element_at(_sub_values(field, [code]), 1), F.lit("")
        )

    f010, f015, f016, f024 = (
        first_field(t) for t in ("010", "015", "016", "024")
    )
    # 035 values with an accepted system-control-number prefix
    scns = F.filter(
        F.transform(fields_by_tag(marc, "035"), lambda f: sub1(f, "a")),
        lambda a: a.rlike(_SCN_RE),
    )

    def with_keys(x: Column) -> Column:
        raw, ind1 = x["raw"], x["i"]
        ian_nr = F.when(
            F.instr(raw, " ") > 1, F.substring(raw, 1, F.instr(raw, " ") - 1)
        ).otherwise(raw)
        src24 = (
            F.when(ind1 == "0", "istc")
            .when(ind1 == "1", "upc")
            .when(ind1 == "2", "ismn")
            .when(ind1 == "3", "ian")
            .when(ind1 == "4", "sici")
            .when(ind1 == "7", x["s2"])
            .otherwise("")
        )
        # every value that passes normalizeKey, folded by ONE transform:
        # normalize_key is a multi-KB tree (its kana map alone 1.5 KB)
        unkeyed = F.concat(
            F.array(
                sub1(f010, "a"), sub1(f010, "b"), sub1(f015, "a"),
                sub1(f016, "a"), F.when(ind1 == "3", ian_nr).otherwise(raw),
            ),
            scns,
        )
        return K.let1(
            F.struct(
                F.transform(unkeyed, K.normalize_key).alias("k"),
                src24.alias("src"),
            ),
            lambda y: _unique_ids_of(y["k"], y["src"], x),
        )

    return K.let1(
        F.struct(
            sub1(f024, "a").alias("raw"),
            F.coalesce(f024["ind1"], F.lit(" ")).alias("i"),
            sub1(f024, "2").alias("s2"),
            sub1(f015, "2").alias("s15"),
            sub1(f016, "2").alias("s16"),
        ),
        with_keys,
    )


def _unique_ids_of(k: Column, src24: Column, x: Column) -> Column:
    """The id list of :func:`marc_unique_ids` from its normalized keys
    ``k`` (010 $a and $b, 015 $a, 016 $a, 024 $a, then the 035 system
    control numbers), the 024 source and the 015/016 $2 sources."""
    lccn, nucmc = try_element_at(k, 1), try_element_at(k, 2)
    nr0 = try_element_at(k, 5)
    nr24 = F.when(
        (src24 == "ismn") & ~nr0.rlike("[0-9]{13}"), F.lit("")
    ).otherwise(nr0)

    def qualified(nr, src):
        return F.when(
            (nr != "") & (src != ""), F.concat(F.lit("("), src, F.lit(")"), nr)
        )

    fixed = F.array(
        F.when(lccn != "", F.concat(F.lit("(lccn)"), lccn)),
        F.when(
            (nucmc != "") & (lccn != ""), F.concat(F.lit("(nucmc)"), lccn)
        ),
        qualified(try_element_at(k, 3), x["s15"]),
        qualified(try_element_at(k, 4), x["s16"]),
        qualified(nr24, src24),
    )
    return F.concat(
        F.filter(fixed, lambda v: v.isNotNull()), F.slice(k, 6, F.size(k))
    )


def marc_geographic_locations(marc: Column) -> Column:
    """034 $d/$e/$f/$g → WKT ENVELOPE/POINT array (getGeographicLocations,
    Marc.php:2422-2487): DMS-or-decimal coordinates decoded, out-of-range
    values discarded, degenerate boxes collapse to POINT, and weird
    coordinate order is coped with by swapping (ENVELOPE is minX, maxX,
    maxY, minY).

    Two chained ``transform``s: the first DECODES each 034 into an array
    of its four decimals ($d $e $f $g), the second formats WKT from the
    lambda-bound array. The DMS cascade is ~4.5 KB of tree and the WKT
    step reads each coordinate ~8 times, so the decode runs as one
    ``transform`` over the four values, and the number formatting as one
    over the six printed values: each is written once."""

    def decode(field):
        return F.transform(
            F.array(
                *[
                    F.coalesce(
                        try_element_at(_sub_values(field, [c]), 1), F.lit("")
                    )
                    for c in "defg"
                ]
            ),
            GEOF.coordinate_to_decimal,
        )

    def one(d):
        w, e, n, s = (try_element_at(d, i) for i in (1, 2, 3, 4))
        w_ok = ~F.isnan(w) & (w >= -180) & (w <= 180)
        n_ok = ~F.isnan(n) & (n >= -90) & (n <= 90)
        e_ok = ~F.isnan(e) & (e >= -180) & (e <= 180)
        s_ok = ~F.isnan(s) & (s >= -90) & (s <= 90)
        has_box = ~F.isnan(e) & ~F.isnan(s) & ((e != w) | (n != s))
        box_ok = e_ok & s_ok
        # the printed numbers, formatted by one transform; the envelope's
        # only when it can print (formatting casts to long, which fails on
        # NaN or a huge value)
        shown = F.concat(
            F.array(w, n),
            F.when(
                box_ok,
                F.array(
                    F.least(w, e), F.greatest(w, e),
                    F.greatest(n, s), F.least(n, s),
                ),
            ).otherwise(F.array().cast("array<double>")),
        )

        def wkt(t):
            env = F.concat(
                F.lit("ENVELOPE("), try_element_at(t, 3), F.lit(", "),
                try_element_at(t, 4), F.lit(", "), try_element_at(t, 5),
                F.lit(", "), try_element_at(t, 6), F.lit(")"),
            )
            point = F.concat(
                F.lit("POINT("), try_element_at(t, 1), F.lit(" "),
                try_element_at(t, 2), F.lit(")"),
            )
            return F.when(has_box, F.when(box_ok, env)).otherwise(point)

        return F.when(
            w_ok & n_ok, K.let1(F.transform(shown, GEOF._fmt), wkt)
        )

    vals = F.transform(F.transform(fields_by_tag(marc, "034"), decode), one)
    return F.filter(vals, lambda v: v.isNotNull())


def _callnumber_pure_exprs(marc: Column) -> dict[str, Column]:
    """The pure-expression half of the call-number columns — everything
    except the pandas-UDF wraps, so the SQL-text twin can compile these
    argument trees (the UDFs themselves have no scalar SQL form and wrap
    at runtime in :func:`marc_callnumber_columns`)."""
    # '' (not NULL) when absent — toSolrArray assigns these unconditionally
    cn_first = F.coalesce(
        *[
            F.nullif(get_field_subfields(marc, t, ["a"]), F.lit(""))
            for t in ("099", "090", "050")
        ],
        F.lit(""),
    )
    subj_src = F.coalesce(
        F.nullif(get_field_subfields(marc, "090", ["a"]), F.lit("")),
        F.nullif(get_field_subfields(marc, "050", ["a"]), F.lit("")),
    )
    cn_subject = F.nullif(
        F.regexp_extract(F.upper(subj_src), "^([A-Z]+)", 1), F.lit("")
    )
    cn_label = F.when(
        subj_src.isNotNull(), F.upper(try_element_at(F.split(subj_src, "\\."), 1))
    )
    cn_raw = F.transform(
        get_fields_subfields(
            marc,
            [
                (GET_NORMAL, "080", ["a", "b"]),
                (GET_NORMAL, "084", ["a", "b"]),
                (GET_NORMAL, "050", ["a", "b"]),
            ],
        ),
        F.upper,
    )
    # getFieldsSubfields strips trailing punctuation by default, so the
    # dewey values feeding DeweyCallNumber are period-less ('330.903')
    dewey = _stripped(
        get_fields_subfields(
            marc,
            [(GET_NORMAL, "082", ["a"]), (GET_NORMAL, "083", ["a"])],
            split_subfields=True,
        )
    )
    return {
        "callnumber_first": cn_first,
        "callnumber_subject": cn_subject,
        "callnumber_label": cn_label,
        "callnumber_raw": cn_raw,
        "__dewey": dewey,
    }


def marc_callnumber_columns(marc_col: str) -> dict[str, Column]:
    """callnumber-* and dewey-* columns (Record/Marc.php:493-586) over
    the parsed-MARC column named ``marc_col``.

    callnumber-first: first of 099$a/090$a/050$a; callnumber-subject: the
    leading letters of 090$a|050$a uppercased; callnumber-label: the
    pre-dot part uppercased; callnumber-raw: 080ab/084ab/050ab uppercased;
    callnumber-sort: first VALID LC sort key, else the first sort key at
    all. Dewey from 082$a/083$a: the LAST field wins for hundreds/tens/
    ones/full/raw (reference loop overwrites), dewey-sort keeps the first.

    The pure argument trees compile through the SQL-text twin (one
    ``F.expr`` parse each); only the pandas-UDF wraps build through the
    Column API.
    """
    from ..functions import callnumbers as CN

    pure = {
        k: F.expr(str(v))
        for k, v in sqltwin.marc_twin()
        ._callnumber_pure_exprs(sqlalg.col(marc_col))
        .items()
    }
    cn_raw = pure.pop("callnumber_raw")
    dewey = pure.pop("__dewey")
    # pandas UDF over the whole array (UDFs cannot run inside transform
    # lambdas): first valid CN's sort key, else first non-empty key
    cn_sort = CN.lc_sort_key_first_valid(cn_raw)
    dewey_last = try_element_at(dewey, -1)
    dewey_first = try_element_at(dewey, 1)
    built = {
        **pure,
        "callnumber_raw": cn_raw,
        "callnumber_sort": cn_sort,
        "dewey_hundreds": CN.dewey_number_udf(100)(dewey_last),
        "dewey_tens": CN.dewey_number_udf(10)(dewey_last),
        "dewey_ones": CN.dewey_number_udf(1)(dewey_last),
        "dewey_full": CN.dewey_search_string(dewey_last),
        "dewey_sort": CN.dewey_sort_key(dewey_first),
        "dewey_raw": dewey_last,
    }
    # _CALLNUMBER_COLS names the outputs and their order for
    # to_solr_columns; a column built here but not named there would
    # never be output
    assert built.keys() == set(_CALLNUMBER_COLS), built.keys() ^ set(_CALLNUMBER_COLS)
    return {n: built[n] for n in _CALLNUMBER_COLS}


def marc_topic_facets(marc: Column) -> Column:
    return _stripped(get_fields_subfields(
        marc,
        [
            (GET_NORMAL, "600", ["x"]), (GET_NORMAL, "610", ["x"]),
            (GET_NORMAL, "611", ["x"]), (GET_NORMAL, "630", ["x"]),
            (GET_NORMAL, "648", ["x"]), (GET_NORMAL, "650", ["a"]),
            (GET_NORMAL, "650", ["x"]), (GET_NORMAL, "651", ["x"]),
            (GET_NORMAL, "655", ["x"]),
        ],
        split_subfields=True,
    ))


def marc_genre_facets(marc: Column) -> Column:
    vals = _stripped(get_fields_subfields(
        marc,
        [
            (GET_NORMAL, "600", ["v"]), (GET_NORMAL, "610", ["v"]),
            (GET_NORMAL, "611", ["v"]), (GET_NORMAL, "630", ["v"]),
            (GET_NORMAL, "648", ["v"]), (GET_NORMAL, "650", ["v"]),
            (GET_NORMAL, "651", ["v"]), (GET_NORMAL, "655", ["a"]),
            (GET_NORMAL, "655", ["v"]),
        ],
        split_subfields=True,
    ))
    # ucFirst per value (MetadataUtils::ucFirst applied to genre facets)
    return F.transform(
        vals, lambda v: F.concat(F.upper(F.substring(v, 1, 1)), F.substring(v, 2, 100000))
    )


def marc_geographic_facets(marc: Column) -> Column:
    return _stripped(get_fields_subfields(
        marc,
        [
            (GET_NORMAL, "600", ["z"]), (GET_NORMAL, "610", ["z"]),
            (GET_NORMAL, "611", ["z"]), (GET_NORMAL, "630", ["z"]),
            (GET_NORMAL, "648", ["z"]), (GET_NORMAL, "650", ["z"]),
            (GET_NORMAL, "651", ["a"]), (GET_NORMAL, "651", ["z"]),
            (GET_NORMAL, "655", ["z"]),
        ],
        split_subfields=True,
    ))


def marc_era_facets(marc: Column) -> Column:
    return _stripped(get_fields_subfields(
        marc,
        [
            (GET_NORMAL, "630", ["y"]), (GET_NORMAL, "648", ["a"]),
            (GET_NORMAL, "648", ["y"]), (GET_NORMAL, "650", ["y"]),
            (GET_NORMAL, "651", ["y"]), (GET_NORMAL, "655", ["y"]),
        ],
        split_subfields=True,
    ))


# Each column's twin SQL renders in pure Python in milliseconds, but its
# ``F.expr`` parse and the analysis of the projection that uses it are
# JVM work that is seconds per process while the parser is cold
# (PERFORMANCE.md, "Twin SQL parenthesization"), so construction is LAZY
# per column name and memoized per (marc_col, id_prefix): a query that
# selects six columns builds six expressions. Each state holds the
# built Columns, their SQL text and ONE builder memo (shared subtrees
# and the hidden-column texts). Column objects are immutable and
# reusable across DataFrames in the JVM.
_SOLR_COLS_CACHE: dict = {}

# The call-number columns pass through pandas UDFs, which have no scalar
# SQL form: :func:`marc_callnumber_columns` builds them all at once, in
# this order, after the columns of :func:`_solr_col_builders`.
_CALLNUMBER_COLS = (
    "callnumber_first", "callnumber_subject", "callnumber_label",
    "callnumber_raw", "callnumber_sort", "dewey_hundreds", "dewey_tens",
    "dewey_ones", "dewey_full", "dewey_sort", "dewey_raw",
)


def _maybe_hide(memo: dict, name: str, v):
    """Swap a big shared twin subtree for a named placeholder at MEMO
    INSERTION time (ADVICE r6): consumers built afterwards embed the
    placeholder name naturally, replacing the former post-hoc substring
    replacement over rendered SQL — which relied on the memoized text
    never occurring inside a string literal or partially overlapping
    another token, and could silently diverge ``state['sqls']`` from
    already-built ``state['cols']`` entries. Because the swap happens
    the moment the entry is created, every consumer of the entry (all
    of which are built at-or-after its creation) sees the placeholder,
    so no rendered SQL is ever rewritten after the fact.

    The full text lands in ``memo['__hidden__']`` (reserved key) for
    :func:`to_solr_columns` to materialize as hidden companion columns.
    A hidden text may read placeholders created before it (``pa`` and
    ``sa`` read ``pers``), so insertion order is dependency order.

    Opt-in via ``memo['__hide__']``: only :func:`to_solr_columns`, which
    materializes the companion columns, sets it. Standalone builds (the
    parity tests' Column reference among them) keep fully inline trees
    that evaluate without any companion column."""
    if not memo.get("__hide__"):
        return v
    text = str(v)
    if len(text) < 1024:
        return v
    hname = f"__rm_{memo.get('__src', 'm')}_{name}"
    memo.setdefault("__hidden__", {})[hname] = text
    return type(v)(hname)


def _solr_col_builders(m: Column, id_prefix: str | None, memo: dict) -> dict:
    """name → zero-arg builder for every Solr column (Record/Marc.php
    :267-596) but the :data:`_CALLNUMBER_COLS`. ``memo`` shares the
    expensive sub-expressions (author structs, publish year) between
    related columns."""

    def shared(name, fn):
        if name not in memo:
            memo[name] = _maybe_hide(memo, name, fn())
        return memo[name]

    # pa and sa read one classification of the 100/700 fields
    pers = lambda: shared("pers", lambda: personal_authors(m))  # noqa: E731
    pa = lambda: shared(  # noqa: E731
        "pa", lambda: author_set(pers(), _PERSONAL_TAGS)
    )
    sa = lambda: shared(  # noqa: E731
        "sa", lambda: author_set(pers(), _PERSONAL_TAGS, matched=False)
    )
    ca = lambda: shared("ca", lambda: corporate_authors(m))  # noqa: E731
    pubyear = lambda: shared("pubyear", lambda: marc_publish_year(m))  # noqa: E731
    local_id = lambda: control_value(m, "001")  # noqa: E731

    return {
        "id": lambda: (
            F.concat(F.lit(id_prefix + "."), local_id()) if id_prefix else local_id()
        ),
        "record_format": lambda: F.lit("marc"),
        "lccn": lambda: F.trim(get_field_subfields(m, "010", ["a"])),
        "ctrlnum": lambda: get_fields_subfields(m, [(GET_NORMAL, "035", ["a"])]),
        "isbn": lambda: marc_isbns(m),
        "issn": lambda: get_fields_subfields(
            m, [(GET_NORMAL, "022", ["a"])], split_subfields=True
        ),
        "language": lambda: marc_languages(m),
        # Full FormatCalculator.php decision tree as pure Column exprs
        # over record-level cues (086, 502, 111/711, 773$g, 245$h,
        # 336/338); higher-order functions, so it runs interpreted
        "format": lambda: format_col(m),
        # relator-classified authors (getAuthorsByRelator): 100/700 with
        # primary relators (or bare 100) are primary; the inverse set is
        # secondary; 110/111/710/711 are corporate
        "author": lambda: pa()["names"],
        "author_role": lambda: pa()["relators"],
        "author_variant": lambda: pa()["variants"],
        "author2": lambda: sa()["names"],
        "author2_role": lambda: sa()["relators"],
        "author2_variant": lambda: sa()["variants"],
        "author_corporate": lambda: ca()["names"],
        "author_corporate_role": lambda: ca()["relators"],
        "author_additional": lambda: get_fields_subfields(
            m, [(GET_BOTH, "505", ["r"])], first_only=True
        ),
        "author_sort": lambda: F.coalesce(
            try_element_at(pa()["names"], 1),
            try_element_at(sa()["names"], 1),
        ),
        "title": lambda: marc_title(m),
        "title_short": lambda: K.strip_trailing_punctuation(
            get_field_subfields(m, "245", ["a"])
        ),
        "title_sub": lambda: K.strip_trailing_punctuation(
            get_field_subfields(m, "245", ["b", "n", "p"])
        ),
        "title_full": lambda: marc_full_title(m),
        # getAltTitles (Marc.php:1670-1690): alt-script 245ab first, then
        # 130/240/246/730/740, trailing-stripped, first-occurrence unique
        "title_alt": lambda: F.array_distinct(
            _stripped(
                get_fields_subfields(
                    m,
                    [
                        (GET_ALT, "245", ["a", "b"]),
                        (
                            GET_BOTH,
                            "130",
                            ["a", "d", "f", "g", "k", "l", "n", "p", "s", "t"],
                        ),
                        (GET_BOTH, "240", ["a"]),
                        (GET_BOTH, "246", ["a", "b", "n", "p"]),
                        (
                            GET_BOTH,
                            "730",
                            ["a", "d", "f", "g", "k", "l", "n", "p", "s", "t"],
                        ),
                        (GET_BOTH, "740", ["a"]),
                    ],
                )
            )
        ),
        # getTitle(true): non-filing ind2 chars dropped, punctuation
        # stripped, lowercased (the reference does NOT article-strip here —
        # records carry the non-filing count)
        "title_sort": lambda: marc_title(m, for_filing=True),
        "publisher": lambda: marc_publishers(m),
        "publish_year": pubyear,
        "publishDate": lambda: F.when(
            pubyear().isNotNull(), F.array(pubyear())
        ).otherwise(F.array()),
        "physical": lambda: _stripped(
            get_fields_subfields(
                m, [(GET_NORMAL, "300", ["a", "b", "c", "e", "f", "g"])]
            )
        ),
        "page_count": lambda: marc_page_count(m),
        "edition": lambda: K.strip_trailing_punctuation(
            get_field_subfields(m, "250", ["a"])
        ),
        "series": lambda: get_fields_subfields(
            m,
            [
                (GET_BOTH, "440", ["a"]),
                (GET_BOTH, "490", ["a"]),
                (GET_BOTH, "800", ["a", "b", "c", "d", "f", "p", "q", "t"]),
                (GET_BOTH, "830", ["a", "p"]),
            ],
        ),
        # getFieldsSubfields strips trailing punctuation by default —
        # subject chains end period-less ('Capitalisme Histoire', not
        # 'Capitalisme Histoire.')
        "topic": lambda: _stripped(
            get_fields_subfields(
                m,
                [
                    (GET_BOTH, "600", list("abcdefghjklmnopqrstuvxyz")),
                    (GET_BOTH, "610", list("abcdefghklmnoprstuvxyz")),
                    (GET_BOTH, "611", list("acdefghjklnpqstuvxyz")),
                    (GET_BOTH, "630", list("adefghklmnoprstvxyz")),
                    (GET_BOTH, "650", list("abcdevxyz")),
                ],
            )
        ),
        "genre": lambda: _stripped(
            get_fields_subfields(m, [(GET_BOTH, "655", list("abcvxyz"))])
        ),
        "geographic": lambda: _stripped(
            get_fields_subfields(m, [(GET_BOTH, "651", list("aevxyz"))])
        ),
        "era": lambda: _stripped(
            get_fields_subfields(m, [(GET_BOTH, "648", list("avxyz"))])
        ),
        # raw enrichment ids (Marc.php:1481-1494 getRawTopicIds /
        # getRawGeographicTopicIds): the $0 URIs feeding Skosmos
        "topic_id_str_mv": lambda: get_fields_subfields(
            m, [(GET_NORMAL, "650", ["0"])], split_subfields=True
        ),
        "geographic_id_str_mv": lambda: get_fields_subfields(
            m, [(GET_NORMAL, "651", ["0"])], split_subfields=True
        ),
        "topic_facet": lambda: marc_topic_facets(m),
        "genre_facet": lambda: marc_genre_facets(m),
        "geographic_facet": lambda: marc_geographic_facets(m),
        "era_facet": lambda: marc_era_facets(m),
        "title_old": lambda: _stripped(
            get_fields_subfields(m, [(GET_BOTH, "780", ["a", "s", "t"])])
        ),
        "title_new": lambda: _stripped(
            get_fields_subfields(m, [(GET_BOTH, "785", ["a", "s", "t"])])
        ),
        "contents": lambda: get_fields_subfields(
            m, [(GET_BOTH, "505", ["a"]), (GET_BOTH, "505", ["t"])]
        ),
        "dateSpan": lambda: get_fields_subfields(m, [(GET_BOTH, "362", ["a"])]),
        "doi_str_mv": lambda: marc_dois(m),
        "oclc_num": lambda: marc_oclc_numbers(m),
        "illustrated": lambda: marc_illustrated(m),
        "url": lambda: get_fields_subfields(
            m, [(GET_NORMAL, "856", ["u"])], split_subfields=True
        ),
        "building": lambda: get_fields_subfields(
            m, [(GET_NORMAL, "852", ["b"])], split_subfields=True
        ),
        "allfields": lambda: marc_allfields(m),
        # serialized form of the stored record (getFullRecord analogue)
        "fullrecord": lambda: F.to_json(m),
        "long_lat": lambda: marc_geographic_locations(m),
        "unique_ids": lambda: marc_unique_ids(m),
    }


def to_solr_columns(
    df: DataFrame,
    marc_col: str = "marc",
    id_prefix: str | None = None,
    only: Sequence[str] | None = None,
) -> DataFrame:
    """Project a parsed-MARC DataFrame into the wide Solr-array schema.

    Columns follow Record/Marc.php:267-596; each is a JVM expression over
    the struct column. Every column compiles through the SQL-text twin
    (one ``F.expr`` parse each); the call-number columns add their
    pandas-UDF wraps on top (:func:`marc_callnumber_columns`). Pass
    ``only`` with the column names a caller will actually use — Catalyst
    would prune unused columns anyway, but every built column is parsed
    and analysed in the JVM (seconds per process while the parser is
    cold), so pruning at construction time is the real win. Names that
    MARC does not produce are ignored.
    """
    state = _SOLR_COLS_CACHE.setdefault(
        (marc_col, id_prefix),
        {"sqls": {}, "cols": {}, "memo": {"__src": marc_col, "__hide__": True}},
    )
    builders = sqltwin.marc_twin()._solr_col_builders(
        sqlalg.col(marc_col), id_prefix, state["memo"]
    )
    names = [*builders, *_CALLNUMBER_COLS]
    if only is not None:
        names = [n for n in names if n in set(only)]
    for n in names:
        if n in state["cols"]:
            continue
        if n in builders:
            state["sqls"][n] = str(builders[n]())
            state["cols"][n] = F.expr(state["sqls"][n])
        else:
            state["cols"].update(marc_callnumber_columns(marc_col))
    # Big shared subtrees (the author structs, publish year) became
    # hidden placeholders at memo insertion (_maybe_hide), so the
    # analyzer sees each once instead of once per consuming column. A
    # hidden text reads only placeholders inserted before it: walk them
    # newest first to find every one the columns need, then add them
    # one projection per dependency level.
    hidden = state["memo"].get("__hidden__", {})
    need = " ".join(state["sqls"].get(n, "") for n in names)
    level: dict[str, int] = {}
    for h in reversed(hidden):
        if re.search(rf"\b{h}\b", need):
            level[h] = 0
            need += " " + hidden[h]
    for h in level:
        for d in level:
            if d != h and re.search(rf"\b{d}\b", hidden[h]):
                level[d] = max(level[d], level[h] + 1)
    cols = {n: state["cols"][n] for n in names}
    for depth in sorted(set(level.values()), reverse=True):
        df = df.withColumns(
            {h: F.expr(hidden[h]) for h in level if level[h] == depth}
        )
    out = df.withColumns(cols)
    return out.drop(*level) if level else out


# ---------------------------------------------------------------------------
# Work identification keys (Record/Marc.php:1173-1361 + SolrUpdater:2172-2233)
# ---------------------------------------------------------------------------

_WORK_AUTHOR_SPECS = [
    ("100", ["a", "b"], False),
    ("110", ["a", "b"], False),
    ("111", ["a", "c"], False),
    ("700", ["a", "b"], True),
    ("710", ["a", "b"], True),
    ("711", ["a", "c"], True),
]

_WORK_TITLE_SPECS = {
    # tag -> (extra subfields, non-filing indicator: 1|2|None)
    "130": (["n", "p"], 1),
    "730": (["n", "p"], 1),
    "240": (["n", "p", "m", "r"], 2),
    "245": (["b", "n"], 2),
    "246": (["b", "n"], None),
    "247": (["b", "n"], 2),
}


def _work_authors(marc: Column, alt: Column | None) -> Column:
    """Array of author values: of the main fields when ``alt`` is None,
    else of the 880s linked to them, ``alt`` being the record's 880s
    (:func:`fields_by_tag` ``(marc, "880")``)."""
    parts = []
    for tag, subs, skip_analytical in _WORK_AUTHOR_SPECS:
        flds = fields_by_tag(marc, tag)
        if skip_analytical:
            # analytical entries (ind2 == '2') form separate work-id sets;
            # excluded by default like work_keys_from_analytical_entries=false
            flds = F.filter(flds, lambda f: F.coalesce(f["ind2"], F.lit(" ")) != "2")
        if alt is not None:
            vals = linked_alt_values(marc, tag, subs, fields880=alt)
        else:
            vals = F.filter(
                F.transform(flds, lambda f: subfield_join(f, subs)),
                lambda v: v != "",
            )
        parts.append(vals)
    return F.concat(*parts)


def _work_titles(marc: Column, alt: Column | None) -> Column:
    """Array of struct(uniform boolean, value string) title entries, of
    the main fields or (``alt`` as in :func:`_work_authors`) their 880s.

    The per-tag title and its non-filing indicator are bound once
    (``keys.let1``) before the stripped/original fan-out, which reads
    the title ~6x."""
    parts = []
    for tag, (extra, nonfiling_ind) in _WORK_TITLE_SPECS.items():
        uniform = tag in ("130", "730")
        if alt is not None:
            vals = F.slice(
                linked_alt_values(marc, tag, ["a"] + extra, fields880=alt), 1, 1
            )
        else:
            fld = try_element_at(fields_by_tag(marc, tag), 1)
            a = F.coalesce(try_element_at(_sub_values(fld, ["a"]), 1), F.lit(""))
            rest = subfield_join(fld, extra)
            title = F.when(rest != "", F.concat(a, F.lit(" "), rest)).otherwise(a)
            if nonfiling_ind is not None:
                ind = F.coalesce(
                    fld["ind1" if nonfiling_ind == 1 else "ind2"], F.lit(" ")
                )
            else:
                ind = F.lit(" ")

            def fan_out(p):
                t = p["t"]
                nf = F.when(p["i"].rlike("^[1-9]$"), p["i"].cast("int")).otherwise(0)
                stripped = F.when(
                    nf > 0, F.substring(t, nf + 1, 100000)
                ).otherwise(t)
                # stripped first, original too when they differ
                return F.filter(
                    F.when(
                        stripped != t, F.array(stripped, t)
                    ).otherwise(F.array(stripped)),
                    lambda v: v != "",
                )

            vals = K.let1(F.struct(title.alias("t"), ind.alias("i")), fan_out)
        parts.append(
            F.transform(
                vals,
                lambda v: F.struct(
                    F.lit(uniform).alias("uniform"), v.alias("value")
                ),
            )
        )
    return F.concat(*parts)


def work_keys(marc_col: str) -> Column:
    """'UT <title>' / 'AT <author> <title>' work keys, main + alt-script,
    of the parsed-MARC column named ``marc_col``.

    Uniform titles key alone; other titles cross with every author
    (work_keys_from_all_authors default). All values pass normalizeKey.
    Pure array expressions — the cross product happens per record in the
    JVM with no join. The tree (:func:`_work_keys`) compiles through the
    SQL-text twin — one ``F.expr`` parse instead of ~25k py4j round
    trips (~11 s of driver time at the round-5 census).
    """
    return F.expr(str(sqltwin.marc_twin()._work_keys(sqlalg.col(marc_col))))


def _work_keys(marc: Column) -> Column:
    """The work-key tree behind :func:`work_keys`: one ``keys_for`` over
    the main and the alt-script (authors, titles) pair, so the key
    assembly and its normalize_key are written once."""

    def keys_for(e: Column) -> Column:
        # every author and title value, normalized by ONE transform
        # (normalize_key is a multi-KB tree), then split back
        authors, titles = e["a"], e["t"]
        n_a = F.size(authors)
        values = F.concat(authors, F.transform(titles, lambda t: t["value"]))
        return K.let1(
            F.transform(values, K.normalize_key),
            lambda nk: _keys_from(
                F.slice(nk, 1, n_a),
                F.zip_with(
                    titles,
                    F.slice(nk, n_a + 1, F.size(titles)),
                    lambda t, v: F.struct(
                        t["uniform"].alias("uniform"), v.alias("value")
                    ),
                ),
            ),
        )

    def engine(alt: Column | None) -> Column:
        return F.struct(
            _work_authors(marc, alt).alias("a"),
            _work_titles(marc, alt).alias("t"),
        )

    # the alt-script pass binds the record's 880s once: its twelve
    # per-tag lookups then scan those instead of every field
    engines = F.array(
        engine(None), K.let1(fields_by_tag(marc, "880"), engine)
    )
    return F.array_distinct(F.flatten(F.transform(engines, keys_for)))


def _keys_from(authors: Column, titles: Column) -> Column:
    """'UT <title>' for uniform titles, 'AT <author> <title>' for every
    other title with every author, from normalized values."""
    ut = F.transform(
        F.filter(titles, lambda t: t["uniform"]),
        lambda t: F.concat(F.lit("UT "), t["value"]),
    )
    at = F.flatten(
        F.transform(
            F.filter(titles, lambda t: ~t["uniform"]),
            lambda t: F.transform(
                authors,
                lambda a: F.concat(F.lit("AT "), a, F.lit(" "), t["value"]),
            ),
        )
    )
    return F.concat(ut, at)


def marc_main_author(marc: Column) -> Column:
    """getMainAuthor (Record/Marc.php:851-870): 100$a, falling back to
    the first 700$a; when ind1 == '0' and the name carries no comma it
    is flipped last-first; trailing punctuation stripped. '' when
    neither field exists — the dedup candidate-key author input."""

    def author_of(tag: str) -> Column:
        fld = try_element_at(fields_by_tag(marc, tag), 1)
        a = F.coalesce(try_element_at(_sub_values(fld, ["a"]), 1), F.lit(""))
        flipped = F.when(
            (F.coalesce(fld["ind1"], F.lit(" ")) == "0")
            & ~a.contains(","),
            K.convert_author_last_first(a),
        ).otherwise(a)
        return F.when(fld.isNotNull(), K.strip_trailing_punctuation(flipped))

    return F.coalesce(
        F.nullif(author_of("100"), F.lit("")),
        F.nullif(author_of("700"), F.lit("")),
        F.lit(""),
    )


def marc_host_record_ids(marc: Column, prepend_003: bool = False) -> Column:
    """getHostRecordIDs (Record/Marc.php:658-705): a 941$a host id wins
    outright; otherwise every 773$w (control characters stripped). Under
    the ``003InLinkingID`` driver param, ids not already carrying a
    parenthesized agency gain the record's own 003 as "(agency)id".
    Empty array = not a component part."""
    f941 = try_element_at(fields_by_tag(marc, "941"), 1)
    id941 = K.strip_control_characters(
        F.coalesce(try_element_at(_sub_values(f941, ["a"]), 1), F.lit(""))
    )
    w773 = F.transform(
        get_fields_subfields(
            marc, [(GET_NORMAL, "773", ["w"])], split_subfields=True
        ),
        K.strip_control_characters,
    )
    ids = F.when(f941.isNotNull(), F.array(id941)).otherwise(w773)
    if prepend_003:
        agency = K.strip_control_characters(
            F.coalesce(F.trim(control_value(marc, "003")), F.lit(""))
        )
        ids = F.transform(
            ids,
            lambda i: F.when(
                ~i.startswith("(") & (agency != ""),
                F.concat(F.lit("("), agency, F.lit(")"), i),
            ).otherwise(i),
        )
    return F.filter(ids, lambda i: i != "")


def _marc_structs_to_py(norm_col) -> list:
    """Arrow parsed-MARC struct column → list of ``(leader, fields)``
    tuples (``None`` for a null struct; fields as ``(tag, ind1, ind2,
    value, subfields)`` tuples, subfields as ``(code, value)`` tuples —
    exactly the tuple shapes :func:`_serialize_one` unpacks).

    Replaces ``norm_col.to_pylist()``: Arrow's nested ``as_py`` walks
    one StructScalar object per field per record (profiled ~1.9x
    slower); this fetches each leaf as one C-level flat ``to_pylist``
    and reassembles rows with list-offset cursors. Cursor rule: a
    row's flattened elements are consumed whenever its LIST is
    non-null — including rows whose outer struct is null, since
    ``pc.list_flatten`` masks only list-level validity. Parity with
    ``to_pylist`` is pinned in tests/test_marc_structs_to_py.py over
    adversarial null placements."""
    import pyarrow.compute as pc

    valid = norm_col.is_valid().to_pylist() if norm_col.null_count else None
    leaders = norm_col.field("leader").to_pylist()
    fields_arr = norm_col.field("fields")
    f_lens = pc.list_value_length(fields_arr).to_pylist()
    f_flat = pc.list_flatten(fields_arr)
    tags = f_flat.field("tag").to_pylist()
    i1 = f_flat.field("ind1").to_pylist()
    i2 = f_flat.field("ind2").to_pylist()
    fv = f_flat.field("value").to_pylist()
    subs_arr = f_flat.field("subfields")
    s_lens = pc.list_value_length(subs_arr).to_pylist()
    s_flat = pc.list_flatten(subs_arr)
    codes = s_flat.field("code").to_pylist()
    svals = s_flat.field("value").to_pylist()
    out = []
    pos = spos = 0
    for i in range(len(norm_col)):
        nf = f_lens[i]
        if valid is not None and not valid[i]:
            if nf:
                for k in range(pos, pos + nf):
                    ns = s_lens[k]
                    if ns:
                        spos += ns
                pos += nf
            out.append(None)
            continue
        if nf is None:
            out.append((leaders[i], None))
            continue
        flds = []
        for k in range(pos, pos + nf):
            ns = s_lens[k]
            if ns is None:
                subs = None
            else:
                subs = list(zip(codes[spos:spos + ns], svals[spos:spos + ns]))
                spos += ns
            flds.append((tags[k], i1[k], i2[k], fv[k], subs))
        pos += nf
        out.append((leaders[i], flds))
    return out


def _serialize_one(parsed) -> str | None:
    """Parsed struct → MARC-in-JSON text (Marc/Serialization/
    MarcInJson.php behavioral spec: {"leader": ..., "fields": [{tag:
    value} | {tag: {"ind1","ind2","subfields":[{code: value}]}}]},
    compact separators, unicode unescaped — round-trips bit-exact
    through :func:`_parse_one`)."""
    if parsed is None:
        return None
    leader, fields = parsed

    # Arrow hands struct elements back as dicts or plain tuples
    # depending on the batch shape — accept both.
    def unpack(fld):
        if isinstance(fld, dict):
            return (
                fld["tag"], fld["ind1"], fld["ind2"], fld["value"],
                fld["subfields"],
            )
        return tuple(fld)

    def unpack_sf(sf):
        if isinstance(sf, dict):
            return sf["code"], sf["value"]
        return tuple(sf)

    out_fields = []
    # `fields` may be a numpy array (mapInPandas Arrow batches) — no
    # truthiness, length-check explicitly
    for fld in (fields if fields is not None else []):
        tag, ind1, ind2, value, subs = unpack(fld)
        if subs is None:
            out_fields.append({tag: value})
        else:
            out_fields.append(
                {
                    tag: {
                        "ind1": ind1 if ind1 is not None else " ",
                        "ind2": ind2 if ind2 is not None else " ",
                        "subfields": [
                            dict([unpack_sf(sf)]) for sf in subs
                        ],
                    }
                }
            )
    return json.dumps(
        {"leader": leader if leader is not None else "", "fields": out_fields},
        separators=(",", ":"),
        ensure_ascii=False,
    )


def _parse_any(raw: str | None):
    """Storage-format autodetect: MARCXML when the payload leads with
    '<', else MARC-in-JSON (incl. the legacy v1/v2/v3 shapes)."""
    if not raw:
        return None
    return (
        _parse_one_xml(raw) if raw.lstrip()[:1] == "<" else _parse_one(raw)
    )


@pandas_udf(MARC_SCHEMA)
def parse_marc_any(raw: pd.Series) -> pd.DataFrame:
    """Format-sniffing parse for tables whose ``original_data`` mixes
    MARCXML imports with MARC-in-JSON storage rows (the renormalize
    pass re-reads whatever the harvester stored)."""
    parsed = raw.map(_parse_any)
    return pd.DataFrame(
        {
            "leader": parsed.map(lambda p: p[0] if p else None),
            "fields": parsed.map(lambda p: p[1] if p else None),
        }
    )
