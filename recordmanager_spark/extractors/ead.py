"""EAD (archival finding aid) extractor — component XML → wide columns.

Behavioral spec (reference, NOT code): Record/Ead.php:159-281 —
- ctrlnum from the element's @id
- description: scopecontent/p paragraphs joined with '   /   '
- authors from controlaccess/persname ('-' placeholders dropped),
  corporate from controlaccess/corpname / did/origination/corpname
- title from did/unittitle (subtitle-prepend default), lowercase
  punctuation-stripped sort title
- language from did/langmaterial/language (@langcode preferred)
- physical from physdesc/extent ('-' dropped)
- hierarchy fields (hierarchy_top_id/title, sequence) from the
  splitter's archive metadata — our splitter carries them as columns
  (archive_id / archive_title / sequence) instead of injected XML.

One JVM from_xml parse per component plus one gated xpath for the
document-order allfields leaf walk; from_xml's corrupt-record marker
doubles as the validity gate. Struct field access mirrors the
reference's direct-child addressing (``$doc->did->repository->corpname``);
description reads the FIRST scopecontent only, like
``$doc->scopecontent->p`` (Ead.php:169-180).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import keys as K
from .dc import _strip_ns_prefixes
from recordmanager_spark.sparkcompat import try_element_at


_EAD_STRUCT_SCHEMA = (
    "_id string, _level string, "
    "did array<struct<"
    "unittitle array<string>, "
    "origination array<struct<corpname:array<string>>>, "
    "repository array<struct<corpname:array<string>,_VALUE:string>>, "
    "langmaterial array<struct<language:array<struct<_langcode:string,"
    "_VALUE:string>>>>, "
    "physdesc array<struct<extent:array<string>>>"
    ">>, "
    "controlaccess array<struct<persname:array<string>, "
    "corpname:array<string>, subject:array<string>>>, "
    "scopecontent array<struct<p:array<string>,_VALUE:string>>, "
    "_corrupt_record string"
)


def _empty(typ: str) -> Column:
    return F.expr(f"cast(array() as {typ})")


def _seg(arr: Column, name: str, typ: str) -> Column:
    # Null-safe on the outer array: flatten(transform(NULL,…)) is NULL and
    # would null-propagate through downstream F.concat chains.
    return F.coalesce(
        F.flatten(F.transform(arr, lambda c: F.coalesce(c[name], _empty(typ)))),
        _empty(typ),
    )


def _struct_columns(p: Column, gated_xml: Column, ok: Column) -> dict[str, Column]:
    es = F.array().cast("array<string>")

    def arr_out(col: Column) -> Column:
        # malformed -> NULL, valid-but-missing -> []
        return F.when(ok, F.coalesce(col, es))

    def first(col: Column) -> Column:
        return F.coalesce(try_element_at(col, 1), F.lit(""))

    did = p["did"]
    ca = p["controlaccess"]
    title_short = F.trim(first(_seg(did, "unittitle", "array<string>")))
    orig_corp = F.trim(
        first(
            _seg(
                _seg(did, "origination", "array<struct<corpname:array<string>>>"),
                "corpname",
                "array<string>",
            )
        )
    )
    repos = _seg(
        did,
        "repository",
        "array<struct<corpname:array<string>,_VALUE:string>>",
    )
    repo_corp = first(_seg(repos, "corpname", "array<string>"))
    repo_text = F.trim(
        first(
            F.filter(
                F.transform(repos, lambda r: r["_VALUE"]),
                lambda v: v.isNotNull(),
            )
        )
    )
    langs = _seg(
        _seg(
            did,
            "langmaterial",
            "array<struct<language:array<struct<_langcode:string,_VALUE:string>>>>",
        ),
        "language",
        "array<struct<_langcode:string,_VALUE:string>>",
    )
    # first scopecontent only, like $doc->scopecontent->p (Ead.php:169-180)
    sc1 = try_element_at(p["scopecontent"], 1)
    sc_p = F.coalesce(sc1["p"], es)
    return {
        "record_format": F.lit("ead"),
        "ctrlnum": F.coalesce(p["_id"], F.lit("")),
        "level": F.coalesce(p["_level"], F.lit("")),
        "description": F.when(
            F.size(sc_p) > 0,
            F.array_join(F.transform(sc_p, lambda v: F.trim(v)), "   /   "),
        ).otherwise(F.trim(F.coalesce(sc1["_VALUE"], F.lit("")))),
        "author": arr_out(
            F.filter(
                F.transform(
                    _seg(ca, "persname", "array<string>"), lambda v: F.trim(v)
                ),
                lambda v: (v != "-") & (v != ""),
            )
        ),
        "author_corporate": F.when(
            orig_corp != "", F.array(orig_corp)
        ).otherwise(
            arr_out(
                F.transform(
                    _seg(ca, "corpname", "array<string>"), lambda v: F.trim(v)
                )
            )
        ),
        "topic": arr_out(
            F.transform(
                _seg(ca, "subject", "array<string>"), lambda v: F.trim(v)
            )
        ),
        "institution": F.when(repo_corp != "", repo_corp).otherwise(repo_text),
        "title_short": title_short,
        "title": title_short,
        "title_full": title_short,
        "title_sort": F.lower(K.strip_punctuation(title_short)),
        "language": arr_out(
            F.filter(
                F.transform(
                    F.concat(
                        F.filter(
                            F.transform(langs, lambda lg: lg["_langcode"]),
                            lambda v: v.isNotNull(),
                        ),
                        F.filter(
                            F.transform(langs, lambda lg: lg["_VALUE"]),
                            lambda v: v.isNotNull(),
                        ),
                    ),
                    lambda v: F.lower(F.trim(v)),
                ),
                lambda v: v != "",
            )
        ),
        "physical": arr_out(
            F.filter(
                F.transform(
                    _seg(
                        _seg(did, "physdesc", "array<struct<extent:array<string>>>"),
                        "extent",
                        "array<string>",
                    ),
                    lambda v: F.trim(v),
                ),
                lambda v: (v != "-") & (v != ""),
            )
        ),
        # document-order leaf walk from_xml can't express
        "allfields": F.filter(
            F.transform(
                F.xpath(gated_xml, F.lit("//*[not(*)]/text()")),
                lambda v: F.trim(v),
            ),
            lambda v: v != "",
        ),
        "hierarchytype": F.lit("Default"),
    }


def to_solr_columns(
    df: DataFrame,
    xml_col: str = "part_xml",
    archive_id_col: str | None = "archive_id",
    archive_title_col: str | None = "archive_title",
    sequence_col: str | None = "sequence",
) -> DataFrame:
    out = df.withColumn(
        "__ead_parsed",
        F.from_xml(
            _strip_ns_prefixes(F.col(xml_col)),
            _EAD_STRUCT_SCHEMA,
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    p = F.col("__ead_parsed")
    ok = F.col(xml_col).isNotNull() & p["_corrupt_record"].isNull()
    out = out.withColumns(
        _struct_columns(p, F.when(ok, F.col(xml_col)), ok)
    ).drop("__ead_parsed")
    if archive_id_col and archive_id_col in df.columns:
        out = out.withColumn("hierarchy_top_id", F.col(archive_id_col))
    if archive_title_col and archive_title_col in df.columns:
        out = out.withColumn("hierarchy_top_title", F.col(archive_title_col))
    if sequence_col and sequence_col in df.columns:
        out = out.withColumn("hierarchy_sequence", F.col(sequence_col))
    return out
