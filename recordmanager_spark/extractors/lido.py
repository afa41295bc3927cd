"""LIDO (museum object) extractor — XML → wide columns.

Behavioral spec (reference, NOT code): Record/Lido.php:143-210 (toSolrArray)
with the event-type machinery :55-85, :722-805, :1101-1160:

- events are selected BY TYPE with priority: main events are design(0) then
  creation(1); place events are usage(0) (getEventNodes matches event
  type terms case-insensitively)
- authors = actors of main events (first appellation value per role node,
  getActors :722-749)
- era = subject display dates, falling back to the first main-event
  display date (getDisplayDates :1418-1425)
- geographic = usage-event display places + subject display places +
  repository locations (getDisplayPlaces :1432-1441); geographic_facet
  additionally carries subject place appellations (toSolrArray :171-176)
- topic = subject concept terms with iconclass-type subjects excluded
  (getSubjectTerms :844-857, getSubjectNodes :1161-1175)
- materials = main-event materialsTech terms, falling back to the display
  terms (getEventMaterials :952-970)
- collection = related work display object for collection-ish relation
  types (getCollection, relatedWorkRelationTypes :93-95)

One Arrow-batched Python pass per record (ElementTree, namespace-
agnostic local names) extracts every field; event-type priority is one
pass per type, concatenated in priority order.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from ..functions import keys as K
from recordmanager_spark.sparkcompat import try_element_at

# Event type vocabularies (Lido.php:61-85; config-overridable per source)
MAIN_EVENTS = ("design", "creation")
PLACE_EVENTS = ("usage",)
RELATED_WORK_RELATION_TYPES = (
    "Collection", "belongs to collection", "collection",
)


def _trimmed(arr: Column) -> Column:
    return F.filter(F.transform(arr, lambda v: F.trim(v)), lambda v: v != "")


def _stripped(arr: Column) -> Column:
    """trim + stripTrailingPunctuation(str, '.') — the form the reference
    applies to display places/dates."""
    return F.filter(
        F.transform(
            arr,
            lambda v: F.trim(K.strip_trailing_punctuation(F.trim(v), additional=".")),
        ),
        lambda v: v != "",
    )


# getAllFields skips these subtrees entirely (Lido.php:982-1005)
_ALLFIELDS_IGNORED = (
    "conceptID", "eventType", "legalBodyWeblink", "linkResource",
    "objectMeasurementsWrap", "recordMetadataDate", "recordType",
    "resourceWrap", "relatedWorksWrap", "rightsType", "roleActor",
)


@functools.lru_cache(maxsize=4096)
def _local(tag: str) -> str:
    # memoized: _local runs once per element per traversal — profiled
    # at 6.3 s core-time of rsplit churn per 2 k records before the r13
    # index pass. Bounded: hostile input can mint unlimited namespaces,
    # and a LIDO schema's real tag vocabulary fits well within the cap
    return tag.rsplit("}", 1)[-1]


def _index_tree(root):
    """ONE pre-order traversal -> ({local name: [elements, document
    order]}, {child: parent}). Every per-record extraction helper reads
    these instead of re-iterating the tree (the r13 single-traversal
    rewrite: anywhere()/find_all()/inherited() each walked the whole
    document per call)."""
    by_local: dict[str, list] = {}
    parent: dict = {}
    for el in root.iter():
        lp = _local(el.tag)
        lst = by_local.get(lp)
        if lst is None:
            by_local[lp] = [el]
        else:
            lst.append(el)
        for c in el:
            parent[c] = el
    return by_local, parent


def _lido_titles_from_root(
    root, index, merge_values, merge_sets, fmt_in_title, default_lang
):
    """getTitles + getAltTitles + getDescription (Lido.php:442-594,
    651-669): per-titleSet, per-language appellation grouping with pref
    and inherited lang attributes, optional value/set merging with '; ',
    work-type fallback to the description, and the description column's
    don't-repeat-the-title rule. Genuinely nested grouped state — the one
    LIDO computation that is not a relational expression."""
    by_local, parent = index

    def inherited(node, attr, default):
        cur = node
        while cur is not None:
            v = cur.get(attr)
            if v:
                return v
            cur = parent.get(cur)
        return default

    def find_all(path_locals):
        """All elements matching a local-name path anywhere in the doc.
        Root-match semantics preserved from the per-call scan: a root
        whose local name matches the head yields ONLY the root."""
        hits = (
            [root]
            if _local(root.tag) == path_locals[0]
            else by_local.get(path_locals[0], [])
        )
        for name in path_locals[1:]:
            hits = [c for h in hits for c in h if _local(c.tag) == name]
        return hits

    preferred_titles: dict[str, list[str]] = {}
    alternate_titles: dict[str, list[str]] = {}
    for tset in find_all(["titleWrap", "titleSet"]):
        pref_parts: dict[str, list[str]] = {}
        alt_parts: dict[str, list[str]] = {}
        for av in (c for c in tset if _local(c.tag) == "appellationValue"):
            title = (av.text or "").strip()
            if not title:
                continue
            pref = av.get("pref") or "preferred"
            lang = inherited(av, "lang", default_lang)
            (pref_parts if pref == "preferred" else alt_parts).setdefault(
                lang, []
            ).append(title)
        for lang, parts in pref_parts.items():
            if merge_values and lang in alt_parts:
                parts = parts + alt_parts.pop(lang)
            preferred_titles.setdefault(lang, []).append("; ".join(parts))
        for lang, parts in alt_parts.items():
            alternate_titles.setdefault(lang, []).append("; ".join(parts))

    if merge_sets:
        for lang in preferred_titles:
            preferred_titles[lang] = [
                "; ".join(dict.fromkeys(preferred_titles[lang]))
            ]
        for lang in alternate_titles:
            alternate_titles[lang] = [
                "; ".join(dict.fromkeys(alternate_titles[lang]))
            ]

    if default_lang in preferred_titles:
        preferred = preferred_titles[default_lang].pop(0)
        if not preferred_titles[default_lang]:
            del preferred_titles[default_lang]
    elif preferred_titles:
        first = next(iter(preferred_titles))
        preferred = preferred_titles[first].pop(0)
        if not preferred_titles[first]:
            del preferred_titles[first]
    elif default_lang in alternate_titles:
        preferred = alternate_titles[default_lang].pop(0)
    elif alternate_titles:
        first = next(iter(alternate_titles))
        preferred = alternate_titles[first].pop(0)
    else:
        preferred = ""

    for lang, titles in preferred_titles.items():
        for title in titles:
            alternate_titles.setdefault(lang, []).insert(0, title)
    alternate = list(
        dict.fromkeys(v[0] for v in alternate_titles.values() if v)
    )

    work_type = ""
    for wt in find_all(["objectWorkTypeWrap", "objectWorkType", "term"]):
        if (wt.text or "").strip():
            work_type = (wt.text or "").strip()
            break

    def descriptions(exclude_types=()):
        out = []
        for dset in find_all(["objectDescriptionWrap", "objectDescriptionSet"]):
            if exclude_types and (dset.get("type") or "") in exclude_types:
                continue
            for note in (
                c for c in dset if _local(c.tag) == "descriptiveNoteValue"
            ):
                if (note.text or "").strip():
                    out.append((note.text or "").strip())
        return out

    if not fmt_in_title and work_type.casefold() == preferred.casefold():
        fallback = descriptions(exclude_types=("provenance",))
        if fallback:
            preferred = "; ".join(fallback)

    all_descs = descriptions()
    description = (
        "" if preferred == "; ".join(all_descs) else " ".join(all_descs).strip()
    )
    return (preferred, alternate, description)


# One ElementTree parse per record feeds every field: title grouping is
# genuinely nested state, and the other per-record extractions fold into
# the same Python pass. All array post-processing (trim/strip/isbn
# normalization/fallback whens) stays JVM-side. Path semantics follow
# XPath: `//` descendant chains, [1] positional steps, ASCII-only case
# folds.

_ASCII_LOWER = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)


def _norm_space(s: str) -> str:
    return " ".join(s.split())


def _chain(bases, names):
    """Child chain by local names; a name suffixed [1] takes the first
    matching child per parent (xpath positional predicate)."""
    cur = list(bases)
    for name in names:
        first_only = name.endswith("[1]")
        if first_only:
            name = name[:-3]
        nxt = []
        for el in cur:
            kids = [c for c in el if _local(c.tag) == name]
            nxt.extend(kids[:1] if first_only else kids)
        cur = nxt
    return cur


def _texts(els):
    return [el.text for el in els if el.text]


def _string_value(el) -> str:
    return "".join(el.itertext())


def _lido_extract_one(raw, merge_values, merge_sets, fmt_in_title, default_lang):
    nulls = (None,) * (len(_LIDO_FIELDS) - 3)
    empty_titles = ("", [], "")
    if not raw:
        return empty_titles + nulls
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(raw)
    except ET.ParseError:
        return empty_titles + nulls

    index = _index_tree(root)
    by_local = index[0]

    titles = _lido_titles_from_root(
        root, index, merge_values, merge_sets, fmt_in_title, default_lang
    )

    def anywhere(name):
        return by_local.get(name, [])

    def search(path):
        """//a/b/c equivalent: chain rooted at every <a> in the doc."""
        names = path.split("/")
        return _chain(anywhere(names[0]), names[1:])

    def first_text(path) -> str:
        vals = _texts(search(path))
        return vals[0] if vals else ""

    # events by type, priority order (one pass per type keeps ordering)
    events = anywhere("event")
    ev_cache: dict[str, list] = {}

    def ev_of(et):
        got = ev_cache.get(et)
        if got is not None:
            return got
        out = []
        for ev in events:
            for term in _chain([ev], ["eventType", "term"]):
                if _norm_space(_string_value(term)).translate(_ASCII_LOWER) == et:
                    out.append(ev)
                    break
        ev_cache[et] = out
        return out

    def ev_values(types, subpath):
        vals = []
        for et in types:
            for ev in ev_of(et):
                vals.extend(_texts(_chain([ev], subpath.split("/"))))
        return vals

    subjects = anywhere("subject")
    subjects_unclassified = [
        s
        for s in subjects
        if not s.get("type")
        or s.get("type").translate(_ASCII_LOWER) != "iconclass"
    ]

    def subj_values(base, subpath):
        return _texts(_chain(base, subpath.split("/")))

    # collection: first displayObject of a relatedWorkSet whose relType
    # term's normalized string value matches (case-sensitive)
    coll = ""
    for rws in anywhere("relatedWorkSet"):
        if any(
            _norm_space(_string_value(t)) in RELATED_WORK_RELATION_TYPES
            for t in _chain([rws], ["relatedWorkRelType", "term"])
        ):
            vals = _texts(_chain([rws], ["relatedWork", "displayObject"]))
            if vals:
                coll = vals[0]
                break

    # repositoryWrap workID identifiers by @type (getIdentifiersByType,
    # Lido.php:1282-1303)
    def work_ids(id_type):
        return [
            el.text
            for el in _chain(
                anywhere("repositoryWrap"), ["repositorySet", "workID"]
            )
            if el.get("type") == id_type and el.text
        ]

    # ctrlnum "(type)value" (getRecordInfoIDs, :1258-1272): the @type of
    # ALL typed recordInfoIDs zipped with the text of the typed ones THAT
    # HAVE text, null-padded on pathological docs
    info_ids = _chain(anywhere("recordInfoSet"), ["recordInfoID"])
    types_list = [el.get("type") for el in info_ids if el.get("type")]
    vals_list = [el.text for el in info_ids if el.get("type") and el.text]
    ctrlnum = [
        None if (t is None or v is None) else f"({t}){v.strip()}"
        for t, v in __import__("itertools").zip_longest(types_list, vals_list)
    ]

    ignored = set(_ALLFIELDS_IGNORED)
    allfields = []

    def walk(el, ig):
        ig = ig or _local(el.tag) in ignored
        kids = list(el)
        if not kids and not ig and el.text:
            allfields.append(el.text)
        for c in kids:
            walk(c, ig)

    walk(root, False)

    return titles + (
        _texts(search("linkResource")),
        subj_values(subjects, "subjectDate/displayDate"),
        ev_values(MAIN_EVENTS, "eventDate/displayDate"),
        ev_values(PLACE_EVENTS, "eventPlace/displayPlace"),
        subj_values(subjects, "subjectPlace/displayPlace"),
        _texts(
            search("repositorySet/repositoryLocation/namePlaceSet/appellationValue")
        ),
        subj_values(subjects, "subjectPlace/place/namePlaceSet/appellationValue"),
        ev_values(
            MAIN_EVENTS,
            "eventMaterialsTech/materialsTech/termMaterialsTech/term",
        ),
        ev_values(MAIN_EVENTS, "eventMaterialsTech/displayMaterialsTech"),
        ev_values(
            MAIN_EVENTS,
            "eventActor/actorInRole/actor/nameActorSet/appellationValue[1]",
        ),
        coll,
        work_ids("isbn"),
        work_ids("issn"),
        ctrlnum,
        first_text("objectWorkTypeWrap/objectWorkType/term"),
        first_text("legalBodyName/appellationValue"),
        subj_values(subjects_unclassified, "subjectConcept/term"),
        allfields,
    )


_LIDO_FIELDS = [
    ("preferred", "string"),
    ("alternate", "array<string>"),
    ("description", "string"),
    ("urls", "array<string>"),
    ("subj_dates", "array<string>"),
    ("main_dates", "array<string>"),
    ("event_places", "array<string>"),
    ("subj_display_places", "array<string>"),
    ("repo_locations", "array<string>"),
    ("subj_places", "array<string>"),
    ("materials", "array<string>"),
    ("display_materials", "array<string>"),
    ("authors", "array<string>"),
    ("collection", "string"),
    ("isbn_raw", "array<string>"),
    ("issn_raw", "array<string>"),
    ("ctrlnum", "array<string>"),
    ("format_raw", "string"),
    ("institution_raw", "string"),
    ("topics", "array<string>"),
    ("allfields_raw", "array<string>"),
]


def lido_extract_udf(
    merge_title_values: bool = True,
    merge_title_sets: bool = True,
    allow_title_to_match_format: bool = False,
    default_display_language: str = "en",
):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(
                n,
                T.ArrayType(T.StringType()) if t.startswith("array") else T.StringType(),
            )
            for n, t in _LIDO_FIELDS
        ]
    )

    @pandas_udf(schema)
    def _f(raw: pd.Series) -> pd.DataFrame:
        vals = raw.map(
            lambda r: _lido_extract_one(
                r,
                merge_title_values,
                merge_title_sets,
                allow_title_to_match_format,
                default_display_language,
            )
        )
        return pd.DataFrame(
            {n: vals.map(lambda v, i=i: v[i]) for i, (n, _) in enumerate(_LIDO_FIELDS)}
        )

    return _f


def to_solr_columns(
    df: DataFrame,
    xml_col: str = "xml",
    merge_title_values: bool = True,
    merge_title_sets: bool = True,
    allow_title_to_match_format: bool = False,
    default_display_language: str = "en",
) -> DataFrame:
    df = df.withColumn(
        "__lido",
        lido_extract_udf(
            merge_title_values=merge_title_values,
            merge_title_sets=merge_title_sets,
            allow_title_to_match_format=allow_title_to_match_format,
            default_display_language=default_display_language,
        )(F.col(xml_col)),
    )
    p = F.col("__lido")
    title = F.coalesce(p["preferred"], F.lit(""))
    urls = _trimmed(p["urls"])
    subj_dates = _stripped(p["subj_dates"])
    main_date = F.coalesce(try_element_at(_trimmed(p["main_dates"]), 1), F.lit(""))
    era = F.when(F.size(subj_dates) > 0, subj_dates).otherwise(
        F.filter(F.array(main_date), lambda v: v != "")
    )
    geographic = F.concat(
        _stripped(p["event_places"]),
        _stripped(p["subj_display_places"]),
        _trimmed(p["repo_locations"]),
    )
    materials = _trimmed(p["materials"])
    display_materials = _trimmed(p["display_materials"])
    isbn_norm = F.transform(
        _trimmed(p["isbn_raw"]),
        lambda v: K.normalize_isbn(
            F.regexp_extract(
                F.regexp_replace(v, "-", ""), "^([0-9]{9,12}[0-9xX])", 1
            )
        ),
    )
    topics = _trimmed(p["topics"])
    cols: dict[str, Column] = {
        "record_format": F.lit("lido"),
        "title": title,
        "title_short": title,
        "title_full": title,
        "title_sort": K.create_sort_title(title),
        "title_alt": p["alternate"],
        "description": p["description"],
        "format": F.trim(F.coalesce(p["format_raw"], F.lit(""))),
        "institution": F.trim(F.coalesce(p["institution_raw"], F.lit(""))),
        # actors of MAIN events only; first appellation value per role node
        "author": _trimmed(p["authors"]),
        "topic": topics,
        "topic_facet": topics,
        "material": F.when(F.size(materials) > 0, materials).otherwise(
            display_materials
        ),
        "material_str_mv": F.when(F.size(materials) > 0, materials).otherwise(
            display_materials
        ),
        "era": era,
        "era_facet": era,
        "geographic": geographic,
        "geographic_facet": F.concat(geographic, _stripped(p["subj_places"])),
        "collection": F.coalesce(p["collection"], F.lit("")),
        "ctrlnum": p["ctrlnum"],
        "isbn": F.array_distinct(
            F.filter(isbn_norm, lambda v: v.isNotNull() & (v != ""))
        ),
        "issn": _trimmed(p["issn_raw"]),
        "url": urls,
        "thumbnail": F.coalesce(try_element_at(urls, 1), F.lit("")),
        "allfields": F.filter(
            F.transform(p["allfields_raw"], lambda v: F.trim(v)),
            lambda v: v != "",
        ),
    }
    out = df.withColumns(cols).drop("__lido")
    return out.withColumn(
        "author_sort", F.coalesce(try_element_at(F.col("author"), 1), F.lit(""))
    )

