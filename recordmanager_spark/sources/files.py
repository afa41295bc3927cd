"""File sources: parquet/json/text + XML record splitting.

Reference sources (SURVEY §2.1) are network harvesters (OAI-PMH, REST) that
land records into storage; the Spark-first equivalent is a landing zone of
files read by a scan. The OAI-PMH/REST fetch loop itself is I/O-bound
driver-side paging — represented here by the generic reader + the splitter
(Splitter/File.php:106-152 = rowTag extraction).

Spark 4 ships native XML (``spark.read.format("xml")``); gated behind a
capability check so the engine degrades to the regexp splitter when the
format is unavailable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# MARC-in-JSON shape (reference Marc/Serialization/MarcInJson.php):
# leader + fields array; each field is either a control value or a
# struct with indicators + subfields.
MARC_IN_JSON_SCHEMA = T.StructType(
    [
        T.StructField("leader", T.StringType()),
        T.StructField(
            "fields",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("tag", T.StringType()),
                        T.StructField("value", T.StringType()),
                        T.StructField("ind1", T.StringType()),
                        T.StructField("ind2", T.StringType()),
                        T.StructField(
                            "subfields",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("code", T.StringType()),
                                        T.StructField("value", T.StringType()),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        ),
    ]
)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet", **options) -> DataFrame:
    return spark.read.format(fmt).options(**options).load(path)


def read_xml_records(
    spark: SparkSession, path: str, row_tag: str = "record", schema: T.StructType | None = None
) -> DataFrame:
    """Read an XML file of records split on ``row_tag`` (the reference's
    recordXPath). Uses Spark 4 native XML when present; falls back to a
    whole-file regexp split (fine for landing-zone-sized files; big files
    should be pre-split)."""
    try:
        reader = spark.read.format("xml").option("rowTag", row_tag)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load(path)
    except Exception:
        text = spark.read.text(path, wholetext=True)
        pattern = f"(?s)<{row_tag}[\\s>].*?</{row_tag}>"
        return text.select(
            F.explode(
                F.expr(f"regexp_extract_all(value, '{pattern}', 0)")
            ).alias("record_xml")
        )


def split_records(df: DataFrame, xml_col: str, row_tag: str) -> DataFrame:
    """flatMap one stored XML blob into N record strings (Splitter/File.php
    semantics) — explode over regexp_extract_all, scan-stage only."""
    pattern = f"(?s)<{row_tag}[\\\\s>].*?</{row_tag}>"
    return df.withColumn(
        "record_xml",
        F.explode(F.expr(f"regexp_extract_all({xml_col}, '{pattern}', 0)")),
    )
