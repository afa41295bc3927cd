"""Dublin Core extractor — XML string column → wide Solr-array columns.

Behavioral spec: Record/Dc.php:153-223 in the reference. Distinctive ops:
- language values split on spaces then into 3-char chunks (Dc.php:172-179)
- title split on ' : ' into title_short / title_sub
- identifier/description classified as url when matching ^https?
- everything runs through trailing-punctuation strip.

Spark-first: one JVM ``from_xml`` parse per record (namespace prefixes
stripped first, so access is as lax as SimpleXML's) feeds every column;
the whole projection is JVM-side, with no Python UDF for DC.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import keys as K
from recordmanager_spark.sparkcompat import try_element_at


def _strip_trail_all(arr: Column) -> Column:
    return F.transform(arr, lambda v: K.strip_trailing_punctuation(F.trim(v)))


_DC_STRUCT_SCHEMA = (
    "recordID array<string>, title array<string>, creator array<string>, "
    "contributor array<string>, language array<string>, date array<string>, "
    "publisher array<string>, type array<string>, subject array<string>, "
    "identifier array<string>, description array<string>, "
    "_corrupt_record string"
)


def _strip_ns_prefixes(xml: Column) -> Column:
    """Drop element-name namespace prefixes (``<dc:title>`` → ``<title>``)."""
    return F.regexp_replace(xml, r"(</?)[A-Za-z_][\w.-]*:", r"$1")


def dc_struct(xml: Column) -> Column:
    """Single-parse projection of a flat DC record into a struct of arrays.

    ONE JVM StAX parse per record (``from_xml``), no Python gate
    (malformed input yields null fields instead of raising), and the
    whole projection stays inside whole-stage codegen.

    Contract: the record root's DIRECT children are the DC elements —
    callers unwrap OAI envelopes first (the splitter already emits bare
    records). Namespace prefixes are stripped before the parse.
    """
    return F.from_xml(
        _strip_ns_prefixes(xml),
        _DC_STRUCT_SCHEMA,
        {"columnNameOfCorruptRecord": "_corrupt_record"},
    )


def _struct_els(parsed: Column, name: str) -> Column:
    # malformed records (corrupt marker set) yield NULL; missing
    # elements in valid records yield []
    return F.when(
        parsed["_corrupt_record"].isNull(),
        F.transform(
            F.coalesce(parsed[name], F.array().cast("array<string>")),
            lambda v: F.coalesce(v, F.lit("")),
        ),
    )


def _struct_el(parsed: Column, name: str) -> Column:
    return F.coalesce(try_element_at(parsed[name], 1), F.lit(""))


def to_solr_columns(
    df: DataFrame, xml_col: str = "xml", id_prefix: str | None = None
) -> DataFrame:
    """Project a DC record into the wide Solr columns.

    ``allfields`` concatenates fields in schema order (recordID, title,
    creator, …) rather than document order: the struct parse does not
    keep element positions across names.
    """
    # Materialize the parse ONCE in its own projection and reference the
    # struct column from the field expressions. Inlining dc_struct(...)
    # into every output column duplicates the from_xml parse ~18x (one
    # per field); a separate project survives CollapseProject because the
    # parse is non-cheap and multiply-referenced.
    df = df.withColumn("__dc_parsed", dc_struct(F.col(xml_col)))
    p = F.col("__dc_parsed")
    title = K.strip_trailing_punctuation(F.trim(_struct_el(p, "title")))
    identifiers = F.transform(_struct_els(p, "identifier"), lambda v: F.trim(v))
    descriptions = F.transform(_struct_els(p, "description"), lambda v: F.trim(v))
    urls = F.concat(
        F.filter(identifiers, lambda v: v.rlike("^https?")),
        F.filter(descriptions, lambda v: v.rlike("^https?")),
    )
    isbn_digits = F.transform(identifiers, lambda v: K.normalize_isbn(v))
    local_id = F.trim(_struct_el(p, "recordID"))
    words = F.flatten(
        F.transform(_struct_els(p, "language"), lambda v: F.split(F.trim(v), "\\s+"))
    )
    chunks = F.flatten(
        F.transform(
            words,
            lambda w: F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        (F.ceil(F.length(w) / F.lit(3)) - 1).cast("int"), F.lit(0)
                    ),
                ),
                lambda i: F.substring(w, i * 3 + 1, 3),
            ),
        )
    )
    allfields_src = F.concat(
        *[
            _struct_els(p, n)
            for n in (
                "recordID",
                "title",
                "creator",
                "contributor",
                "language",
                "date",
                "publisher",
                "type",
                "subject",
                "identifier",
                "description",
            )
        ]
    )
    out = df.withColumns(
        {
            "id": F.concat(F.lit(id_prefix + "."), local_id) if id_prefix else local_id,
            "record_format": F.lit("dc"),
            "ctrlnum": local_id,
            "allfields": F.filter(
                _strip_trail_all(allfields_src), lambda v: v != ""
            ),
            "language": F.filter(
                F.transform(chunks, lambda c: F.lower(F.trim(c))), lambda c: c != ""
            ),
            "format": F.trim(_struct_el(p, "type")),
            "author": K.strip_trailing_punctuation(F.trim(_struct_el(p, "creator"))),
            "author2": _strip_trail_all(_struct_els(p, "contributor")),
            "title": title,
            "title_full": title,
            "title_short": try_element_at(F.split(title, " : ", 2), 1),
            "title_sub": F.coalesce(
                try_element_at(F.split(title, " : ", 2), 2), F.lit("")
            ),
            "title_sort": K.create_sort_title(title),
            "publisher": F.array(
                K.strip_trailing_punctuation(F.trim(_struct_el(p, "publisher")))
            ),
            "publishDate": F.regexp_extract(_struct_el(p, "date"), "(\\d{4})", 1),
            "isbn": F.array_distinct(
                F.filter(isbn_digits, lambda v: v.isNotNull() & (v != ""))
            ),
            "topic": _strip_trail_all(_struct_els(p, "subject")),
            "url": urls,
            "contents": F.filter(
                descriptions,
                lambda v: ~v.rlike("^https?") & ~v.rlike("^\\d+\\.\\d+$") & (v != ""),
            ),
        }
    )
    return out.drop("__dc_parsed")
