"""Forward (EN15907 film record) extractor — agents classified by relator.

Behavioral spec (reference, NOT code): Record/Forward.php:59-532 —
- ctrlnum/getID: the Identifier element's text, prefixed with its
  IDTypeName attribute and '_' when present
- title from IdentifyingTitle; every Title/TitleText different from it
  becomes title_alt (duplicates kept, as in the reference)
- agents (HasAgent: AgentName + Activity) classify by normalized
  relator: primary d02/a00/a03/a06/a50/a99 with DIRECTORS (d02) sorted
  first; secondary d01/e01/f01/f02; corporate = the empty relator list,
  which in the reference means NO filter — every agent
- description = Synopsis-type ContentDescriptions in the primary
  language (en), falling back to all languages, followed by
  'Content description'-type ones with the same fallback, joined ' '
- geographic from CountryOfReference/Country/RegionName; genres,
  publishers, urls and thumbnail are hardwired empty; format is the
  constant 'MotionPicture'
- allfields: every element text under the main element except the
  Identifier/RecordSource/TitleRelationship/Activity/AgentIdentifier/
  ProductionEventType/DescriptionType/Language subtrees, trailing
  punctuation stripped.

Replayed against the reference's forward1.xml golden fixture in
tests/test_golden_authority.py.
"""

from __future__ import annotations

import xml.etree.ElementTree as _ET

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..functions import keys as K
from .dc import _strip_ns_prefixes
from recordmanager_spark.sparkcompat import try_element_at

PRIMARY_RELATORS = ("d02", "a00", "a03", "a06", "a50", "a99")
SECONDARY_RELATORS = ("d01", "e01", "f01", "f02")

# getAllFields skips these subtrees (Forward.php:85-88)
_ALLFIELDS_IGNORED = (
    "Identifier", "RecordSource", "TitleRelationship", "Activity",
    "AgentIdentifier", "ProductionEventType", "DescriptionType", "Language",
)

_PRIMARY_LANGUAGE = "en"


def _by_relators(agents: Column, relators: tuple[str, ...], field: str) -> Column:
    lits = F.array(*[F.lit(r) for r in relators])
    return F.transform(
        F.filter(agents, lambda a: F.array_contains(lits, a["relator"])),
        lambda a: a[field],
    )


# One Python pass per record does what from_xml cannot express: scoping
# to the main element and the exact document-order allfields. One JVM
# StAX parse (from_xml) of the main element follows, and every field is
# then a cheap struct access inside codegen.

_FW_STRUCT_SCHEMA = (
    "Identifier array<struct<_IDTypeName string, _VALUE string>>, "
    "IdentifyingTitle array<string>, "
    "Title array<struct<TitleText array<string>>>, "
    "YearOfReference array<string>, "
    "HasAgent array<struct<AgentName array<string>, Activity array<string>>>, "
    "ContentDescription array<struct<DescriptionType array<string>, "
    "Language array<string>, DescriptionText array<string>>>, "
    "SubjectTerms array<struct<Term array<string>>>, "
    "CountryOfReference array<struct<Country array<struct<"
    "RegionName array<string>>>>>, "
    "_corrupt_record string"
)


def _fw_local(tag) -> str:
    return tag.rsplit("}", 1)[-1] if isinstance(tag, str) else ""


# DataType object, not a DDL string: DDL parsing needs an active
# SparkContext, which doesn't exist when executors import this module
_FW_MAIN_SCHEMA = StructType(
    [
        StructField("main_xml", StringType()),
        StructField("allfields", ArrayType(StringType())),
    ]
)


@pandas_udf(_FW_MAIN_SCHEMA)
def _fw_main_and_allfields(xml: pd.Series) -> pd.DataFrame:
    """Main-element scoping + document-order allfields, one parse per row.

    The main element (getMainElement, Forward.php:281-287) is the root
    when it carries an IdentifyingTitle, else the root's FIRST child when
    that one does: a Forward dump carries the film plus sibling related
    works/persons that must NOT contribute fields.

    Returns (None, None) for malformed/empty input, ('<__nomain/>', [])
    for well-formed XML without a main element (empty fields there, not
    nulls), else the serialized main element plus its leaf text outside
    ignored subtrees (getAllFields, Forward.php:295-315). Caveat:
    ElementTree drops comments/PIs, so text split around a comment inside
    a leaf loses the post-comment chunk — not a shape Forward exports.
    """
    ignored = set(_ALLFIELDS_IGNORED)

    def one(s):
        if not s:
            return None, None
        try:
            root = _ET.fromstring(s)
        except _ET.ParseError:
            return None, None

        def has_title(el):
            return any(_fw_local(c.tag) == "IdentifyingTitle" for c in el)

        if has_title(root):
            main = root
        else:
            kids = list(root)
            main = kids[0] if kids and has_title(kids[0]) else None
        if main is None:
            return "<__nomain/>", []
        texts: list[str] = []
        # an ignored root or main element hides everything below it
        base_ig = _fw_local(root.tag) in ignored or (
            main is not root and _fw_local(main.tag) in ignored
        )

        def walk(el, ig):
            ig = ig or _fw_local(el.tag) in ignored
            kids = list(el)
            if not kids and not ig and el.text:
                texts.append(el.text)
            for c in kids:
                walk(c, ig)

        for c in main:
            walk(c, base_ig)
        return _ET.tostring(main, encoding="unicode"), texts

    pairs = [one(s) for s in xml]
    return pd.DataFrame(
        {"main_xml": [p[0] for p in pairs], "allfields": [p[1] for p in pairs]}
    )


def _s1(arr: Column) -> Column:
    """First element of an array field, trimmed; '' when missing/null
    (also for malformed input)."""
    return F.trim(F.coalesce(try_element_at(arr, 1), F.lit("")))


def to_solr_columns(df: DataFrame, xml_col: str = "xml") -> DataFrame:
    # Materialize the Python pass and the from_xml parse each ONCE in their
    # own projections; inlining a multiply-referenced from_xml would
    # re-parse per consuming field (same hazard dc_struct documents).
    df = df.withColumn("__fw_main", _fw_main_and_allfields(F.col(xml_col)))
    df = df.withColumn(
        "__fw_parsed",
        F.from_xml(
            _strip_ns_prefixes(F.col("__fw_main.main_xml")),
            _FW_STRUCT_SCHEMA,
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    p = F.col("__fw_parsed")
    ok = F.col("__fw_main.main_xml").isNotNull()

    def arr(field_expr: Column, elem_type: str = "string") -> Column:
        # malformed -> NULL; well-formed but missing -> []
        return F.when(
            ok, F.coalesce(field_expr, F.array().cast(f"array<{elem_type}>"))
        )

    # agents feeds six output columns; materialize it once rather than
    # inlining the transform+filter chain into each
    df = df.withColumn(
        "__fw_agents",
        F.filter(
            arr(
                F.transform(
                    p["HasAgent"],
                    lambda h: F.struct(
                        _s1(h["AgentName"]).alias("name"),
                        K.normalize_relator(_s1(h["Activity"])).alias("relator"),
                    ),
                ),
                "struct<name:string,relator:string>",
            ),
            lambda s: s["name"] != "",
        ),
    )
    agents = F.col("__fw_agents")
    directors = F.filter(agents, lambda a: a["relator"] == "d02")
    other_primary = F.filter(
        agents,
        lambda a: F.array_contains(
            F.array(*[F.lit(r) for r in PRIMARY_RELATORS if r != "d02"]),
            a["relator"],
        ),
    )
    # getPrimaryAuthorsSorted: directors first, then the other primary
    # relators, both in document order
    primary_sorted = F.concat(directors, other_primary)

    title = _s1(p["IdentifyingTitle"])
    all_titles = arr(
        F.flatten(
            F.transform(
                p["Title"],
                lambda t: F.transform(
                    F.coalesce(t["TitleText"], F.array().cast("array<string>")),
                    lambda v: F.trim(v),
                ),
            )
        )
    )
    first_ident = try_element_at(p["Identifier"], 1)
    id_text = F.trim(F.coalesce(first_ident["_VALUE"], F.lit("")))
    id_type = F.coalesce(first_ident["_IDTypeName"], F.lit(""))

    def descriptions(desc_type: str) -> Column:
        # DescriptionTexts of the given type in the primary language,
        # falling back to every language (Forward.php:177-184, 422-466)
        def of(lang: str | None) -> Column:
            matches = F.filter(
                F.coalesce(
                    p["ContentDescription"],
                    F.array().cast(
                        "array<struct<DescriptionType:array<string>,"
                        "Language:array<string>,DescriptionText:array<string>>>"
                    ),
                ),
                lambda c: F.array_contains(
                    F.coalesce(
                        c["DescriptionType"], F.array().cast("array<string>")
                    ),
                    desc_type,
                )
                & (
                    F.array_contains(
                        F.coalesce(
                            c["Language"], F.array().cast("array<string>")
                        ),
                        lang,
                    )
                    if lang
                    else F.lit(True)
                ),
            )
            return F.flatten(
                F.transform(
                    matches,
                    lambda c: F.coalesce(
                        c["DescriptionText"], F.array().cast("array<string>")
                    ),
                )
            )

        primary = of(_PRIMARY_LANGUAGE)
        return F.when(ok, F.when(F.size(primary) > 0, primary).otherwise(of(None)))

    description = F.array_join(
        F.concat(descriptions("Synopsis"), descriptions("Content description")),
        " ",
    )
    topics = F.filter(
        arr(
            F.flatten(
                F.transform(
                    p["SubjectTerms"],
                    lambda s: F.transform(
                        F.coalesce(s["Term"], F.array().cast("array<string>")),
                        lambda v: F.trim(v),
                    ),
                )
            )
        ),
        lambda v: v != "",
    )
    geographic = F.filter(
        arr(
            F.flatten(
                F.transform(
                    p["CountryOfReference"],
                    lambda cr: F.flatten(
                        F.transform(
                            F.coalesce(
                                cr["Country"],
                                F.array().cast(
                                    "array<struct<RegionName:array<string>>>"
                                ),
                            ),
                            lambda c: F.transform(
                                F.coalesce(
                                    c["RegionName"],
                                    F.array().cast("array<string>"),
                                ),
                                lambda v: F.trim(v),
                            ),
                        )
                    ),
                )
            )
        ),
        lambda v: v != "",
    )
    empty = F.array().cast("array<string>")
    out = df.withColumns(
        {
            "record_format": F.lit("forward"),
            "title": title,
            "title_short": title,
            "title_full": title,
            "title_sort": K.create_sort_title(title),
            "title_alt": F.filter(all_titles, lambda v: (v != title) & (v != "")),
            "publishDate": _s1(p["YearOfReference"]),
            "author": F.transform(primary_sorted, lambda a: a["name"]),
            "author_role": F.transform(primary_sorted, lambda a: a["relator"]),
            "author2": _by_relators(agents, SECONDARY_RELATORS, "name"),
            "author2_role": _by_relators(agents, SECONDARY_RELATORS, "relator"),
            # corporateAuthorRelators defaults to [], and an empty relator
            # list means NO filter in getAuthorsByRelator — every agent
            "author_corporate": F.transform(agents, lambda a: a["name"]),
            "author_corporate_role": F.transform(agents, lambda a: a["relator"]),
            "author_sort": F.coalesce(
                try_element_at(
                    F.transform(primary_sorted, lambda a: a["name"]), 1
                ),
                F.lit(""),
            ),
            "description": description,
            "topic": topics,
            "topic_facet": topics,
            "geographic": geographic,
            "geographic_facet": geographic,
            "genre": empty,
            "genre_facet": empty,
            "format": F.lit("MotionPicture"),
            "publisher": empty,
            "url": empty,
            "thumbnail": F.lit(""),
            "ctrlnum": F.when(
                id_type != "", F.concat(id_type, F.lit("_"), id_text)
            ).otherwise(id_text),
            "allfields": F.filter(
                F.transform(
                    F.col("__fw_main.allfields"),
                    lambda v: K.strip_trailing_punctuation(F.trim(v)),
                ),
                lambda v: v != "",
            ),
        }
    )
    return out.drop("__fw_main", "__fw_parsed", "__fw_agents")

