"""EAD3 (archival finding aid, v3) extractor — component XML → wide columns.

Behavioral spec (reference, NOT code): Record/Ead3.php:125-589 —
- EAD3 wraps displayed values in <part>: authors from controlaccess
  name/persname parts + did/origination name/persname parts; corporate
  from controlaccess/origination corpname parts (Ead3.php:337-382)
- topics/geographic from controlaccess subject/geogname first <part>;
  @identifier values become enrichment topic ids (Ead3.php:385-430)
- format: controlaccess/genreform/part, else the component @level
  (Ead3.php:181-188)
- institution from did/repository/corpname/part (Ead3.php:432-439)
- language from did/langmaterial/language/@langcode only (Ead3.php:444-459)
- physical from did/physdesc/extent, '-' placeholders dropped
- thumbnail: first dao with @localtype='thumbnail' href under did or
  did/daoset (Ead3.php:478-496)
- title: title_sub = unitid (suppressed for fonds/collection formats,
  inherited from Ead.php:403-414); the default prependTitleWithSubtitle
  makes title = 'unitid unittitle' when they differ; sort title is the
  lowercase punctuation-stripped title
- series = parent title when a non-archive parent exists and the format
  is not fonds/collection/series/subseries/undefined (Ead.php:421-450)
- hierarchy fields (top/parent id+title, sequence, title_in_hierarchy)
  come from the EAD3 splitter's columns (Ead3.php:518-567); the
  reference injects them as <add-data> XML, we carry columns.

One JVM from_xml parse per component plus one gated xpath for the
document-order allfields leaf walk; the from_xml corrupt-record marker
doubles as the validity gate, so there is no Python round trip. Struct
field access mirrors Ead3.php's DIRECT-child addressing
(``$this->doc->controlaccess->persname``); description reads the FIRST
scopecontent only (Ead3.php:287-298).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import keys as K
from .dc import _strip_ns_prefixes
from recordmanager_spark.sparkcompat import try_element_at

_NO_SUBTITLE_FORMATS = ("fonds", "collection")
_NON_SERIES_FORMATS = ("fonds", "collection", "series", "subseries", "")


_E3_NAMED = "array<struct<part:array<string>>>"
_E3_DAO = "array<struct<_localtype:string,_href:string>>"
_E3_ORIG = (
    f"array<struct<name:{_E3_NAMED},persname:{_E3_NAMED},corpname:{_E3_NAMED}>>"
)
_EAD3_STRUCT_SCHEMA = (
    "_id string, _level string, "
    "did array<struct<"
    "unittitle array<string>, unitid array<string>, "
    f"origination {_E3_ORIG}, "
    f"repository array<struct<corpname:{_E3_NAMED}>>, "
    "langmaterial array<struct<language:array<struct<_langcode:string>>>>, "
    "physdesc array<struct<extent:array<string>>>, "
    f"dao {_E3_DAO}, daoset array<struct<dao:{_E3_DAO}>>"
    ">>, "
    "controlaccess array<struct<"
    f"name {_E3_NAMED}, persname {_E3_NAMED}, corpname {_E3_NAMED}, "
    "subject array<struct<_identifier:string,part:array<string>>>, "
    f"geogname {_E3_NAMED}, genreform {_E3_NAMED}"
    ">>, "
    "scopecontent array<struct<p:array<string>,_VALUE:string>>, "
    "_corrupt_record string"
)


def _empty(typ: str) -> Column:
    return F.expr(f"cast(array() as {typ})")


def _seg(arr: Column, name: str, typ: str) -> Column:
    """Flattened <name> children across an array of structs.

    Null-safe on the OUTER array too: when the enclosing element is absent
    entirely, ``arr`` is NULL and flatten(transform(NULL,…)) would be NULL,
    which then null-propagates through F.concat chains (e.g. authors from
    controlaccess+origination must survive a missing controlaccess —
    Ead3.php:337-382 iterates each source independently).
    """
    return F.coalesce(
        F.flatten(F.transform(arr, lambda c: F.coalesce(c[name], _empty(typ)))),
        _empty(typ),
    )


def _struct_columns(p: Column, gated_xml: Column, ok: Column) -> dict[str, Column]:
    es = F.array().cast("array<string>")

    def parts(arr: Column, *steps: tuple[str, str]) -> Column:
        cur = arr
        for name, typ in steps:
            cur = _seg(cur, name, typ)
        return F.filter(F.transform(cur, lambda v: F.trim(v)), lambda v: v != "")

    def arr_out(col: Column) -> Column:
        # malformed -> NULL, valid-but-missing -> []
        return F.when(ok, F.coalesce(col, es))

    def first(col: Column) -> Column:
        return F.coalesce(try_element_at(col, 1), F.lit(""))

    ca = p["controlaccess"]
    did = p["did"]
    orig = _seg(did, "origination", _E3_ORIG)
    gf_first = F.trim(
        first(parts(ca, ("genreform", _E3_NAMED), ("part", "array<string>")))
    )
    fmt = F.when(gf_first != "", gf_first).otherwise(
        F.coalesce(p["_level"], F.lit(""))
    )
    title_short = F.trim(first(_seg(did, "unittitle", "array<string>")))
    unit_id = F.trim(first(_seg(did, "unitid", "array<string>")))
    title_sub = F.when(fmt.isin(*_NO_SUBTITLE_FORMATS), F.lit("")).otherwise(
        unit_id
    )
    title = F.when(
        (title_sub != "") & (title_sub != title_short),
        F.concat(title_sub, F.lit(" "), title_short),
    ).otherwise(title_short)
    authors = arr_out(
        F.concat(
            parts(ca, ("name", _E3_NAMED), ("part", "array<string>")),
            parts(ca, ("persname", _E3_NAMED), ("part", "array<string>")),
            parts(orig, ("name", _E3_NAMED), ("part", "array<string>")),
            parts(orig, ("persname", _E3_NAMED), ("part", "array<string>")),
        )
    )
    # description reads the FIRST scopecontent (Ead3.php:287-298)
    sc1 = try_element_at(p["scopecontent"], 1)
    sc_p = F.coalesce(sc1["p"], es)
    daos = F.flatten(
        F.transform(
            did,
            lambda d: F.concat(
                F.coalesce(d["dao"], _empty(_E3_DAO)),
                _seg(
                    F.coalesce(
                        d["daoset"],
                        _empty(f"array<struct<dao:{_E3_DAO}>>"),
                    ),
                    "dao",
                    _E3_DAO,
                ),
            ),
        )
    )
    thumbs = F.filter(
        daos,
        lambda d: d["_localtype"].eqNullSafe("thumbnail")
        & d["_href"].isNotNull(),
    )
    langcodes = F.transform(
        _seg(
            _seg(
                did,
                "langmaterial",
                "array<struct<language:array<struct<_langcode:string>>>>",
            ),
            "language",
            "array<struct<_langcode:string>>",
        ),
        lambda lang: lang["_langcode"],
    )
    subjects = _seg(
        ca, "subject", "array<struct<_identifier:string,part:array<string>>>"
    )
    return {
        "record_format": F.lit("ead3"),
        "ctrlnum": F.coalesce(p["_id"], F.lit("")),
        "level": F.coalesce(p["_level"], F.lit("")),
        "description": F.when(
            F.size(sc_p) > 0,
            F.array_join(F.transform(sc_p, lambda v: F.trim(v)), "   /   "),
        ).otherwise(F.trim(F.coalesce(sc1["_VALUE"], F.lit("")))),
        "author": authors,
        "author_sort": first(authors),
        "author_corporate": arr_out(
            F.concat(
                parts(ca, ("corpname", _E3_NAMED), ("part", "array<string>")),
                parts(orig, ("corpname", _E3_NAMED), ("part", "array<string>")),
            )
        ),
        "topic": arr_out(parts(subjects, ("part", "array<string>"))),
        "topic_ids": arr_out(
            F.filter(
                F.transform(subjects, lambda s: s["_identifier"]),
                lambda v: v.isNotNull(),
            )
        ),
        "geographic": arr_out(
            parts(ca, ("geogname", _E3_NAMED), ("part", "array<string>"))
        ),
        "format": fmt,
        "institution": F.trim(
            first(
                parts(
                    _seg(did, "repository", f"array<struct<corpname:{_E3_NAMED}>>"),
                    ("corpname", _E3_NAMED),
                    ("part", "array<string>"),
                )
            )
        ),
        "title_short": title_short,
        "title_sub": title_sub,
        "title": title,
        "title_full": title,
        "title_sort": F.lower(K.strip_punctuation(title)),
        "language": arr_out(
            F.filter(
                F.transform(
                    F.filter(langcodes, lambda v: v.isNotNull()),
                    lambda v: F.trim(v),
                ),
                lambda v: v != "",
            )
        ),
        "physical": arr_out(
            F.filter(
                F.transform(
                    _seg(
                        _seg(
                            did,
                            "physdesc",
                            "array<struct<extent:array<string>>>",
                        ),
                        "extent",
                        "array<string>",
                    ),
                    lambda v: F.trim(v),
                ),
                lambda v: (v != "-") & (v != ""),
            )
        ),
        "thumbnail": F.coalesce(
            first(F.transform(thumbs, lambda d: d["_href"])), F.lit("")
        ),
        # document-order leaf walk from_xml can't express; the xpath runs
        # on the corrupt-gated column (Spark's xpath raises on bad XML)
        "allfields": F.filter(
            F.transform(
                F.xpath(gated_xml, F.lit("//*[not(*)]/text()")),
                lambda v: F.trim(v),
            ),
            lambda v: v != "",
        ),
        "hierarchytype": F.lit("Default"),
        # helper for the hierarchy tail (title_in_hierarchy needs the raw
        # unitid even when title_sub suppressed it); dropped before return
        "__e3_unit_id": unit_id,
    }


def to_solr_columns(
    df: DataFrame,
    xml_col: str = "part_xml",
    archive_id_col: str | None = "archive_id",
    archive_title_col: str | None = "archive_title",
    sequence_col: str | None = "sequence",
    parent_id_col: str | None = "parent_id",
    parent_title_col: str | None = "parent_title",
) -> DataFrame:
    # materialize the parse once in its own projection; inlining a
    # multiply-referenced from_xml re-parses per consuming field
    wide = df.withColumn(
        "__e3_parsed",
        F.from_xml(
            _strip_ns_prefixes(F.col(xml_col)),
            _EAD3_STRUCT_SCHEMA,
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    p = F.col("__e3_parsed")
    ok = F.col(xml_col).isNotNull() & p["_corrupt_record"].isNull()
    cols = _struct_columns(p, F.when(ok, F.col(xml_col)), ok)
    out = wide.withColumns(cols).drop("__e3_parsed")

    fmt = F.col("format")
    unit_id = F.col("__e3_unit_id")
    title = F.col("title")
    has_parent = (
        F.coalesce(F.col(parent_id_col), F.lit("")) != ""
        if parent_id_col and parent_id_col in df.columns
        else F.lit(False)
    )
    if parent_id_col and parent_id_col in df.columns:
        out = out.withColumns(
            {
                "hierarchy_parent_id": F.when(has_parent, F.col(parent_id_col)),
                "hierarchy_parent_title": F.when(
                    has_parent, F.col(parent_title_col or parent_id_col)
                ),
                # series: parent title unless parent is the archive itself
                # or the format suppresses series
                "series": F.when(
                    has_parent
                    & ~fmt.isin(*_NON_SERIES_FORMATS)
                    & (
                        F.col(parent_id_col)
                        != F.coalesce(
                            F.col(archive_id_col)
                            if archive_id_col and archive_id_col in df.columns
                            else F.lit(None),
                            F.lit(""),
                        )
                    ),
                    F.col(parent_title_col or parent_id_col),
                ).otherwise(F.lit("")),
            }
        )
    if archive_id_col and archive_id_col in df.columns:
        out = out.withColumn("hierarchy_top_id", F.col(archive_id_col))
    if archive_title_col and archive_title_col in df.columns:
        out = out.withColumn("hierarchy_top_title", F.col(archive_title_col))
    if sequence_col and sequence_col in df.columns:
        out = out.withColumn("hierarchy_sequence", F.col(sequence_col))
        out = out.withColumn(
            "title_in_hierarchy",
            F.when(
                unit_id != "", F.trim(F.concat(unit_id, F.lit(" "), title))
            ).otherwise(title),
        )
    return out.drop("__e3_unit_id")
