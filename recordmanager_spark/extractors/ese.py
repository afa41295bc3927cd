"""ESE (Europeana) extractor — XML string column → wide Solr-array columns.

Behavioral spec (reference, NOT code): Record/Ese.php:67-248 —
- language: the FIRST ``language`` element split on single spaces (no 3-char
  chunking, unlike DC), then normalized (Ese.php:84-86)
- author from first ``creator``; author2 from all ``contributor``s
- title split on ' : ' into title_short / title_sub; sort title via
  createSortTitle (Ese.php:92-98)
- publishDate: first ``date`` that is exactly four digits (Ese.php:214-222)
- ISBNs: dashes stripped, digit-run of 10-13 chars extracted anywhere in any
  ``identifier``, then normalized to ISBN-13; unique (Ese.php:163-177)
- url: LAST ``identifier`` matching ^https? — then overwritten by the last
  matching ``description`` if any (two sequential assignment loops,
  Ese.php:107-116).

One JVM ``from_xml`` parse per record plus array expressions (and one
gated xpath for allfields); no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import keys as K
from .dc import _strip_ns_prefixes
from recordmanager_spark.sparkcompat import try_element_at


def _last_url(arr: Column) -> Column:
    matches = F.filter(arr, lambda v: v.rlike("^https?"))
    return try_element_at(F.reverse(matches), 1)


_ESE_STRUCT_SCHEMA = (
    "recordID array<string>, title array<string>, language array<string>, "
    "type array<string>, creator array<string>, contributor array<string>, "
    "identifier array<string>, description array<string>, "
    "publisher array<string>, date array<string>, subject array<string>, "
    "_corrupt_record string"
)


def to_solr_columns(df: DataFrame, xml_col: str = "xml") -> DataFrame:
    df = df.withColumn(
        "__ese_parsed",
        F.from_xml(
            _strip_ns_prefixes(F.col(xml_col)),
            _ESE_STRUCT_SCHEMA,
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    p = F.col("__ese_parsed")
    ok = F.col(xml_col).isNotNull() & p["_corrupt_record"].isNull()
    es = F.array().cast("array<string>")

    def texts(name: str) -> Column:
        return F.filter(F.coalesce(p[name], es), lambda v: v.isNotNull())

    def first(name: str) -> Column:
        return F.coalesce(try_element_at(texts(name), 1), F.lit(""))

    def arr_out(col: Column) -> Column:
        return F.when(ok, F.coalesce(col, es))

    title = F.trim(first("title"))
    identifiers = F.transform(texts("identifier"), lambda v: F.trim(v))
    descriptions = F.transform(texts("description"), lambda v: F.trim(v))
    isbn_digits = F.transform(
        identifiers,
        lambda v: K.normalize_isbn(
            F.regexp_extract(
                F.replace(v, F.lit("-"), F.lit("")), "([0-9]{9,12}[0-9xX])", 1
            )
        ),
    )
    dates = F.transform(texts("date"), lambda v: F.trim(v))
    words = F.split(F.trim(first("language")), " ")
    gated = F.when(ok, F.col(xml_col))
    out = df.withColumns(
        {
            "id": F.trim(first("recordID")),
            "record_format": F.lit("ese"),
            "ctrlnum": F.trim(first("recordID")),
            # direct-children text in document order — one gated xpath
            # (from_xml cannot interleave different element names)
            "allfields": F.filter(
                F.transform(
                    F.xpath(gated, F.lit("/*/*/text()")), lambda v: F.trim(v)
                ),
                lambda v: v != "",
            ),
            "language": F.filter(
                F.transform(words, lambda w: F.lower(F.trim(w))),
                lambda w: w != "",
            ),
            "format": F.trim(first("type")),
            "author": F.trim(first("creator")),
            "author2": arr_out(
                F.filter(
                    F.transform(texts("contributor"), lambda v: F.trim(v)),
                    lambda v: v != "",
                )
            ),
            "title": title,
            "title_full": title,
            "title_short": try_element_at(F.split(title, " : ", 2), 1),
            "title_sub": F.coalesce(
                try_element_at(F.split(title, " : ", 2), 2), F.lit("")
            ),
            "title_sort": K.create_sort_title(title),
            "publisher": F.array(F.trim(first("publisher"))),
            "publishDate": F.coalesce(
                try_element_at(
                    F.filter(dates, lambda v: v.rlike("^[0-9]{4}$")), 1
                ),
                F.lit(""),
            ),
            "isbn": F.when(
                ok,
                F.array_distinct(
                    F.filter(isbn_digits, lambda v: v.isNotNull() & (v != ""))
                ),
            ),
            "topic": arr_out(
                F.filter(
                    F.transform(texts("subject"), lambda v: F.trim(v)),
                    lambda v: v != "",
                )
            ),
            "url": F.coalesce(
                _last_url(descriptions), _last_url(identifiers), F.lit("")
            ),
        }
    )
    return out.drop("__ese_parsed")

