"""Qualified Dublin Core extractor — DC plus typed titles/identifiers.

Behavioral spec (reference, NOT code): Record/Qdc.php:155-210 —
- the first ``title`` element WITHOUT type="alternative" is the main
  title (split on ' : ' like DC); every other title lands in title_alt
- identifiers typed ``issn`` feed the issn field; ISBN digits are
  recognized in any identifier
- contents/description from description elements (primary = first).

One ``from_xml`` parse per record (namespace prefixes stripped like
DC's) feeds every column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import keys as K
from .dc import _strip_ns_prefixes
from recordmanager_spark.sparkcompat import try_element_at


_DOI_RE = "(urn:doi:|https?://doi.org/|https?://dx.doi.org/)([^?#]+)"

_QDC_TYPED = "array<struct<_type:string,_VALUE:string>>"
_QDC_STRUCT_SCHEMA = (
    "recordID array<string>, "
    f"title {_QDC_TYPED}, "
    f"identifier {_QDC_TYPED}, "
    "description array<struct<_lang:string,_VALUE:string>>, "
    f"type {_QDC_TYPED}, "
    "creator array<string>, contributor array<string>, "
    "subject array<string>, publisher array<string>, "
    "date array<string>, issued array<string>, language array<string>, "
    "_corrupt_record string"
)


def to_solr_columns(
    df: DataFrame,
    xml_col: str = "xml",
    preferred_format_types: tuple[str, ...] = (),
    default_display_language: str = "en",
) -> DataFrame:
    """One ``from_xml`` parse per record (corrupt marker = validity gate)
    plus a single gated xpath for the descendant-text allfields."""
    df = df.withColumn(
        "__qdc_parsed",
        F.from_xml(
            _strip_ns_prefixes(F.col(xml_col)),
            _QDC_STRUCT_SCHEMA,
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    p = F.col("__qdc_parsed")
    ok = F.col(xml_col).isNotNull() & p["_corrupt_record"].isNull()
    es = F.array().cast("array<string>")

    def arr_out(col: Column) -> Column:
        return F.when(ok, F.coalesce(col, es))

    def texts(arr: Column) -> Column:
        # empty elements have no text, so null values are dropped, not
        # kept as nulls
        return F.filter(F.coalesce(arr, es), lambda v: v.isNotNull())

    def typed_vals(arr: Column, pred) -> Column:
        return F.filter(
            F.transform(
                F.filter(
                    F.coalesce(arr, F.expr(f"cast(array() as {_QDC_TYPED})")),
                    pred,
                ),
                lambda e: e["_VALUE"],
            ),
            lambda v: v.isNotNull(),
        )

    titles = p["title"]
    main_titles = typed_vals(
        titles, lambda e: ~e["_type"].eqNullSafe("alternative")
    )
    title = K.strip_trailing_punctuation(
        F.trim(F.coalesce(try_element_at(main_titles, 1), F.lit("")))
    )
    alt = F.concat(
        F.transform(F.slice(main_titles, 2, 1000), lambda v: F.trim(v)),
        F.transform(
            typed_vals(titles, lambda e: e["_type"].eqNullSafe("alternative")),
            lambda v: F.trim(v),
        ),
    )
    identifiers = F.transform(
        typed_vals(p["identifier"], lambda e: F.lit(True)),
        lambda v: F.trim(v),
    )
    isbn_digits = F.transform(identifiers, lambda v: K.normalize_isbn(v))
    desc_all = F.coalesce(
        p["description"],
        F.expr("cast(array() as array<struct<_lang:string,_VALUE:string>>)"),
    )
    # getDescriptions (Qdc.php:415-435): URL-shaped and bare-decimal
    # entries are excluded from contents/description; the primary one is
    # the first in the display language, else the first
    descriptions = F.filter(
        F.transform(
            F.filter(desc_all, lambda e: e["_VALUE"].isNotNull()),
            lambda e: F.trim(e["_VALUE"]),
        ),
        lambda v: ~v.rlike("(^https?)|(^\\d+\\.\\d+$)"),
    )
    desc_lang = F.filter(
        F.transform(
            F.filter(
                desc_all,
                lambda e: e["_VALUE"].isNotNull()
                & e["_lang"].eqNullSafe(default_display_language),
            ),
            lambda e: F.trim(e["_VALUE"]),
        ),
        lambda v: ~v.rlike("(^https?)|(^\\d+\\.\\d+$)"),
    )
    # getFormat: first value per @type ('no_type' when absent); preferred
    # attribute list wins in order, else first seen; 'Unknown' if none
    norm_types = F.transform(
        F.filter(
            F.coalesce(p["type"], F.expr(f"cast(array() as {_QDC_TYPED})")),
            lambda e: F.trim(F.coalesce(e["_VALUE"], F.lit(""))) != "",
        ),
        lambda e: F.struct(
            F.trim(e["_VALUE"]).alias("v"),
            F.coalesce(
                F.nullif(F.trim(e["_type"]), F.lit("")), F.lit("no_type")
            ).alias("t"),
        ),
    )
    fmt_choices = [
        try_element_at(F.filter(norm_types, lambda q: q["t"] == pref), 1)["v"]
        for pref in preferred_format_types
    ]
    fmt = F.coalesce(
        *fmt_choices, try_element_at(norm_types, 1)["v"], F.lit("Unknown")
    )

    def year_of(name: str) -> Column:
        # getPublicationYear (Qdc.php:369-388): first value shaped YYYY or
        # YYYY- / YYYY/ wins; date elements before issued
        cand = F.filter(
            F.transform(texts(p[name]), lambda v: F.trim(v)),
            lambda v: v.rlike("^\\d{4}($|[-/])"),
        )
        return F.substring(try_element_at(cand, 1), 1, 4)

    authors = F.filter(
        F.transform(
            texts(p["creator"]),
            lambda v: K.strip_trailing_punctuation(F.trim(v)),
        ),
        lambda v: v != "",
    )
    topics = F.filter(
        F.transform(texts(p["subject"]), lambda v: F.trim(v)),
        lambda v: v != "",
    )
    # getDOIs (Qdc.php:528-546): type=doi identifiers, the path after a
    # doi-resolver prefix url-decoded, verbatim value when no prefix
    dois = F.transform(
        typed_vals(p["identifier"], lambda e: e["_type"].eqNullSafe("doi")),
        lambda v: F.when(
            F.regexp_extract(F.trim(v), _DOI_RE, 2) != "",
            F.url_decode(F.regexp_extract(F.trim(v), _DOI_RE, 2)),
        ).otherwise(F.trim(v)),
    )
    # language: split on spaces, then into 3-char codes (Dc.php:172-179)
    words = F.flatten(
        F.transform(texts(p["language"]), lambda v: F.split(F.trim(v), "\\s+"))
    )
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
    langs = F.filter(
        F.transform(chunks, lambda c: F.lower(F.trim(c))), lambda c: c != ""
    )
    rec_id = F.trim(
        F.coalesce(try_element_at(texts(p["recordID"]), 1), F.lit(""))
    )
    gated = F.when(ok, F.col(xml_col))
    out = df.withColumns(
        {
            "id": rec_id,
            "record_format": F.lit("qdc"),
            "ctrlnum": rec_id,
            # descendant text under direct children, document order —
            # one gated xpath (nested markup from_xml can't capture)
            "allfields": F.transform(
                F.xpath(gated, F.lit("/*/*//text()")), lambda v: F.trim(v)
            ),
            "language": arr_out(langs),
            "format": fmt,
            "author": arr_out(authors),
            "author_sort": F.coalesce(try_element_at(authors, 1), F.lit("")),
            "author_corporate": F.array().cast("array<string>"),
            "author2": arr_out(
                F.filter(
                    F.transform(
                        texts(p["contributor"]),
                        lambda v: K.strip_trailing_punctuation(F.trim(v)),
                    ),
                    lambda v: v != "",
                )
            ),
            "title": title,
            "title_full": title,
            "title_short": try_element_at(F.split(title, " : ", 2), 1),
            "title_sub": F.coalesce(
                try_element_at(F.split(title, " : ", 2), 2), F.lit("")
            ),
            "title_alt": F.when(ok, F.filter(alt, lambda v: v != "")),
            "title_sort": K.create_sort_title(title),
            "publisher": F.array(
                F.trim(
                    F.coalesce(
                        try_element_at(texts(p["publisher"]), 1), F.lit("")
                    )
                )
            ),
            "publishDate": F.coalesce(
                year_of("date"), year_of("issued"), F.lit("")
            ),
            "series": F.array().cast("array<string>"),
            "isbn": F.when(
                ok,
                F.array_distinct(
                    F.filter(
                        isbn_digits, lambda v: v.isNotNull() & (v != "")
                    )
                ),
            ),
            "issn": arr_out(
                F.filter(
                    F.transform(
                        typed_vals(
                            p["identifier"],
                            lambda e: e["_type"].eqNullSafe("issn"),
                        ),
                        lambda v: F.trim(v),
                    ),
                    lambda v: v != "",
                )
            ),
            "topic": arr_out(topics),
            "topic_facet": arr_out(topics),
            "doi_str_mv": arr_out(dois),
            "url": arr_out(
                F.filter(identifiers, lambda v: v.rlike("^https?"))
            ),
            "contents": arr_out(F.filter(descriptions, lambda v: v != "")),
            "page_count": F.lit(""),
            "description": F.coalesce(
                try_element_at(desc_lang, 1),
                try_element_at(descriptions, 1),
                F.lit(""),
            ),
        }
    )
    return out.drop("__qdc_parsed")

