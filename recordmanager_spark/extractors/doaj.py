"""DOAJ (Directory of Open Access Journals) extractor.

Behavioral spec (reference, NOT code): Record/Doaj.php:119-316 —
- id: ``recordID``; when absent the harvester materializes one from the OAI
  id (``oai:prefix:local`` → local part, Doaj.php:119-131) — here the caller
  passes an ``oai_id`` column and we apply the same fallback
- allfields: direct children text, trailing punctuation stripped
- language: split on spaces THEN into 3-char chunks like DC (Doaj.php:174-181)
- format is the constant 'Article' (Doaj.php:298-301)
- author: the FIRST ``author``'s ``name`` per ``authors`` block — the
  reference maps over the blocks and reads ``$xml->author->name``
  (first child), Doaj.php:185-192; same quirk for ``keywords``/``keyword``
  (Doaj.php:209-216)
- title: trailing punctuation stripped; split on ' : ' (limit 2)
- publishDate: first four chars of ``publicationDate`` when they form a year
- url: first ``fullTextUrl``
- fulltext: offline fullTextXpaths path of FullTextTrait (Doaj.php:157,
  FullTextTrait.php:88-127) via :func:`fulltext_column`; the HTTP-fetch
  path is a cache join — see ``operators/enrich.py`` pattern.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import keys as K
from .dc import _strip_ns_prefixes
from recordmanager_spark.sparkcompat import try_element_at


def fulltext_column(xml: Column, xpaths: list[str]) -> Column:
    """FullTextTrait offline path: concat xpath-designated text, join with a
    space, then undo end-of-line hyphenation (FullTextTrait.php:119-124).

    The ``([^\\s]+)-\\s*\\n\\s*`` → ``$1`` rewrite glues hyphen-split words
    back together (imperfect for real hyphens — same caveat as the
    reference).
    """
    parts = F.flatten(F.array(*[F.xpath(xml, F.lit(p)) for p in xpaths]))
    joined = F.array_join(parts, " ")
    return F.regexp_replace(joined, r"([^\s]+)-\s*[\n\r]+\s*", r"$1")


_DOAJ_STRUCT_SCHEMA = (
    "recordID array<string>, title array<string>, language array<string>, "
    "publisher array<string>, publicationDate array<string>, "
    "fullTextUrl array<string>, "
    "authors array<struct<author:array<struct<name:array<string>>>>>, "
    "keywords array<struct<keyword:array<string>>>, "
    "_corrupt_record string"
)


def to_solr_columns(
    df: DataFrame,
    xml_col: str = "xml",
    oai_id_col: str | None = None,
    fulltext_xpaths: list[str] | None = None,
) -> DataFrame:
    df = df.withColumn(
        "__dj_parsed",
        F.from_xml(
            _strip_ns_prefixes(F.col(xml_col)),
            _DOAJ_STRUCT_SCHEMA,
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    p = F.col("__dj_parsed")
    ok = F.col(xml_col).isNotNull() & p["_corrupt_record"].isNull()
    es = F.array().cast("array<string>")

    def texts(name: str) -> Column:
        return F.filter(F.coalesce(p[name], es), lambda v: v.isNotNull())

    def first(name: str) -> Column:
        return F.coalesce(try_element_at(texts(name), 1), F.lit(""))

    def arr_out(col: Column) -> Column:
        return F.when(ok, F.coalesce(col, es))

    record_id = F.trim(first("recordID"))
    if oai_id_col is not None:
        # oai:<prefix>:<local> → <local>; otherwise the raw oai id
        oai = F.col(oai_id_col)
        parts = F.split(oai, ":", 3)
        fallback = F.when(
            (try_element_at(parts, 1) == "oai")
            & (F.coalesce(try_element_at(parts, 3), F.lit("")) != ""),
            try_element_at(parts, 3),
        ).otherwise(oai)
        record_id = F.when(record_id != "", record_id).otherwise(fallback)
    raw_title = F.trim(first("title"))
    title = K.strip_trailing_punctuation(raw_title)
    # the FIRST author's name per authors block / first keyword per
    # keywords block ($xml->author->name takes firsts, Doaj.php:185-216)
    author_names = F.filter(
        F.transform(
            F.coalesce(
                p["authors"],
                F.expr(
                    "cast(array() as array<struct<author:array<struct<"
                    "name:array<string>>>>>)"
                ),
            ),
            lambda b: F.trim(
                F.coalesce(
                    try_element_at(
                        F.coalesce(
                            try_element_at(
                                F.coalesce(
                                    b["author"],
                                    F.expr(
                                        "cast(array() as array<struct<"
                                        "name:array<string>>>)"
                                    ),
                                ),
                                1,
                            )["name"],
                            es,
                        ),
                        1,
                    ),
                    F.lit(""),
                )
            ),
        ),
        lambda v: v != "",
    )
    kw = F.filter(
        F.transform(
            F.coalesce(
                p["keywords"],
                F.expr("cast(array() as array<struct<keyword:array<string>>>)"),
            ),
            lambda b: F.trim(
                F.coalesce(
                    try_element_at(F.coalesce(b["keyword"], es), 1), F.lit("")
                )
            ),
        ),
        lambda v: v != "",
    )
    # only the first language element (unlike DC), split on spaces, then
    # into 3-char chunks (Doaj.php:174-181)
    words = F.split(F.trim(first("language")), " ")
    chunks = F.flatten(
        F.transform(
            words,
            lambda w: F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        (F.ceil(F.length(w) / F.lit(3)) - 1).cast("int"),
                        F.lit(0),
                    ),
                ),
                lambda i: F.substring(w, i * 3 + 1, 3),
            ),
        )
    )
    pub_date = F.trim(first("publicationDate"))
    gated = F.when(ok, F.col(xml_col))
    cols = {
        "id": record_id,
        "record_format": F.lit("doaj"),
        "ctrlnum": record_id,
        "allfields": F.filter(
            F.transform(
                F.xpath(gated, F.lit("/*/*/text()")),
                lambda v: K.strip_trailing_punctuation(F.trim(v)),
            ),
            lambda v: v != "",
        ),
        "language": F.filter(
            F.transform(chunks, lambda c: F.lower(F.trim(c))),
            lambda c: c != "",
        ),
        "format": F.lit("Article"),
        "author": arr_out(author_names),
        "title": title,
        "title_full": title,
        "title_short": try_element_at(F.split(title, " : ", 2), 1),
        "title_sub": F.coalesce(
            try_element_at(F.split(title, " : ", 2), 2), F.lit("")
        ),
        "title_sort": K.create_sort_title(raw_title),
        "publisher": F.array(
            K.strip_trailing_punctuation(F.trim(first("publisher")))
        ),
        "publishDate": F.when(
            F.substring(pub_date, 1, 4).rlike("^[0-9]{4}$"),
            F.substring(pub_date, 1, 4),
        ).otherwise(F.lit("")),
        "topic": arr_out(kw),
        "url": F.trim(first("fullTextUrl")),
    }
    if fulltext_xpaths:
        cols["fulltext"] = fulltext_column(gated, fulltext_xpaths)
    return df.withColumns(cols).drop("__dj_parsed")

