"""LRMI (learning-resource metadata) extractor — QDC variant.

Behavioral spec (reference, NOT code): Record/Lrmi.php:66-262 — LRMI extends
QDC and overrides:
- record_format 'lrmi'; title/title_full/title_short are the WHOLE first
  title (no ' : ' split; Lrmi.php:70-72)
- language from ``material/inLanguage`` plus top-level ``inLanguage``,
  unique then normalized (Lrmi.php:251-262)
- topic from ``about/thing/name`` (Lrmi.php:191-210); ``about/thing/
  identifier`` values that are http(s) URLs become enrichment topic ids
  (normalized to the http:// scheme)
- author = first person name; author2 = all ``author/person/name``;
  author_corporate = all ``author/organization/legalName``
  (Lrmi.php:141-182)
- url: none (Lrmi.php:241-244).

Other fields (isbn/issn/publisher/publishDate/descriptions/title_alt…)
come from the shared QDC projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import keys as K
from .dc import _strip_ns_prefixes
from .qdc import to_solr_columns as qdc_to_solr_columns
from recordmanager_spark.sparkcompat import try_element_at


# The LRMI-specific fields come from one more from_xml parse over the
# overlay schema (2 JVM parses in total with the QDC base).

_LRMI_STRUCT_SCHEMA = (
    "title array<string>, "
    "inLanguage array<string>, "
    "material array<struct<inLanguage:array<string>>>, "
    "author array<struct<person:array<struct<name:array<string>>>, "
    "organization:array<struct<legalName:array<string>>>>>, "
    "about array<struct<thing:array<struct<name:array<string>, "
    "identifier:array<string>>>>>, "
    "_corrupt_record string"
)


def _overlay_struct(df: DataFrame, xml_col: str) -> DataFrame:
    es = F.array().cast("array<string>")
    df = df.withColumn(
        "__lr_parsed",
        F.from_xml(
            _strip_ns_prefixes(F.col(xml_col)),
            _LRMI_STRUCT_SCHEMA,
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    p = F.col("__lr_parsed")
    ok = F.col(xml_col).isNotNull() & p["_corrupt_record"].isNull()

    def arr_out(col: Column) -> Column:
        return F.when(ok, F.coalesce(col, es))

    def seg(arr: Column, name: str, typ: str) -> Column:
        # Null-safe: when the outer element is absent entirely, ``arr`` is
        # NULL and flatten(transform(NULL,…)) would be NULL — which then
        # null-propagates through any F.concat chain (Lrmi.php:251-262
        # takes inLanguage regardless of whether <material> exists).
        return F.coalesce(
            F.flatten(
                F.transform(
                    arr,
                    lambda c: F.coalesce(c[name], F.expr(f"cast(array() as {typ})")),
                )
            ),
            F.expr(f"cast(array() as {typ})"),
        )

    def texts(arr: Column) -> Column:
        return F.filter(F.coalesce(arr, es), lambda v: v.isNotNull())

    title = F.trim(
        F.coalesce(try_element_at(texts(p["title"]), 1), F.lit(""))
    )
    authors = p["author"]
    person_names = F.filter(
        F.transform(
            seg(
                seg(
                    authors,
                    "person",
                    "array<struct<name:array<string>>>",
                ),
                "name",
                "array<string>",
            ),
            lambda v: F.trim(v),
        ),
        lambda v: v != "",
    )
    org_names = F.filter(
        F.transform(
            seg(
                seg(
                    authors,
                    "organization",
                    "array<struct<legalName:array<string>>>",
                ),
                "legalName",
                "array<string>",
            ),
            lambda v: F.trim(v),
        ),
        lambda v: v != "",
    )
    things = seg(
        p["about"],
        "thing",
        "array<struct<name:array<string>,identifier:array<string>>>",
    )
    # ids come only from things that also carry a name (Lrmi.php:195-197
    # continues before the id branch when thing->name is unset)
    named_things = F.filter(
        things, lambda t: F.size(F.coalesce(t["name"], es)) > 0
    )
    topic_ids = F.transform(
        F.filter(
            F.transform(
                F.flatten(
                    F.transform(
                        named_things, lambda t: F.coalesce(t["identifier"], es)
                    )
                ),
                lambda v: F.trim(v),
            ),
            lambda v: v.rlike("^https?://"),
        ),
        lambda v: F.regexp_replace(v, "^https?://", "http://"),
    )
    topics = F.filter(
        F.transform(
            F.flatten(
                F.transform(things, lambda t: F.coalesce(t["name"], es))
            ),
            lambda v: F.trim(v),
        ),
        lambda v: v != "",
    )
    langs = F.concat(
        seg(
            p["material"],
            "inLanguage",
            "array<string>",
        ),
        texts(p["inLanguage"]),
    )
    languages = F.filter(
        F.transform(F.array_distinct(langs), lambda v: F.lower(F.trim(v))),
        lambda v: v != "",
    )
    return df.withColumns(
        {
            "record_format": F.lit("lrmi"),
            # Lrmi.php:100-103: constant format
            "format": F.lit("LearningMaterial"),
            "title": title,
            "title_full": title,
            "title_short": title,
            "title_sort": K.create_sort_title(title),
            "language": arr_out(languages),
            "author": F.when(ok, F.slice(person_names, 1, 1)),
            "author_sort": F.coalesce(
                try_element_at(person_names, 1), F.lit("")
            ),
            "author2": arr_out(person_names),
            "author_corporate": arr_out(org_names),
            "topic": arr_out(topics),
            "topic_facet": arr_out(topics),
            "topic_ids": arr_out(topic_ids),
            "url": F.array().cast("array<string>"),
        }
    ).drop("__lr_parsed")


def to_solr_columns(df: DataFrame, xml_col: str = "xml") -> DataFrame:
    return _overlay_struct(qdc_to_solr_columns(df, xml_col=xml_col), xml_col)
