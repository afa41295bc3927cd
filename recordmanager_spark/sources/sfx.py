"""SFX export-file harvester (dated dumps over an HTTP landing zone).

Behavioral spec (reference, NOT code): Harvest/HTTPFiles.php:180-246 — the
file list is scraped from an index page, filtered by configured
filePrefix/fileSuffix, each filename carries a YYYYMMDDHHMMSS stamp; only
files with start < stamp <= end harvest, and the max harvested stamp
becomes the next watermark. Harvest/Sfx.php — the MARCXML payload's
default namespace is stripped (:54-61), the record id comes from 090$a
(:73-80), a 001 control field with that id is injected (:102-106), oai ids
are "sfx:<source>:<id>" (:88-93), and a record is "modified" unless
leader/06 is '-' (:113-119).

Spark-first: file selection is a Column filter over a listing DataFrame
(pushdown-friendly; at scale the listing comes from the object store's
inventory table), and record normalization is string/array expressions over
the split records — the fetch loop itself is I/O the engine does not model.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FILENAME_DATE_RE = r"(\d{4})(\d\d)(\d\d)(\d\d)(\d\d)(\d\d)"


def filename_date(name: Column) -> Column:
    """YYYYMMDDHHMMSS stamp in a dump filename → timestamp (NULL when the
    name carries no valid stamp — the reference logs and skips those)."""
    stamp = F.regexp_extract(name, FILENAME_DATE_RE, 0)
    return F.when(
        stamp != "", F.to_timestamp(stamp, "yyyyMMddHHmmss")
    ).otherwise(F.lit(None))


def select_harvest_files(
    listing: DataFrame,
    name_col: str = "filename",
    file_prefix: str = "",
    file_suffix: str = ".xml",
    start_date: Any = None,
    end_date: Any = None,
) -> DataFrame:
    """Files due for harvest: prefix/suffix match, valid filename date,
    start < date <= end (HTTPFiles::retrieveFileList). Adds ``file_date``;
    the caller's new watermark is max(file_date) over the result."""
    name = F.col(name_col)
    out = listing.where(
        name.startswith(file_prefix) & name.endswith(file_suffix)
    ).withColumn("file_date", filename_date(name))
    out = out.where(F.col("file_date").isNotNull())
    if start_date is not None:
        out = out.where(F.col("file_date") > F.lit(start_date).cast("timestamp"))
    if end_date is not None:
        out = out.where(F.col("file_date") <= F.lit(end_date).cast("timestamp"))
    return out


def sfx_normalize_records(
    records: DataFrame,
    xml_col: str = "record_xml",
    source_id: str = "sfx",
) -> DataFrame:
    """Per-record SFX normalization: id from 090$a, 001 injection, OAI id,
    modified flag from leader/06.

    Adds: record_id, oai_id, modified, and rewrites ``xml_col`` with the
    001 control field appended before </record> (normalizeRecord).
    Records without a 090$a are DROPPED (the reference throws per record).
    """
    xml = F.col(xml_col)
    rid = F.trim(
        F.regexp_extract(
            xml,
            '(?s)<datafield[^>]*tag="090"[^>]*>.*?'
            '<subfield[^>]*code="a"[^>]*>([^<]*)</subfield>',
            1,
        )
    )
    leader5 = F.substring(
        F.regexp_extract(xml, "(?s)<leader>([^<]*)</leader>", 1), 6, 1
    )
    out = records.withColumn("record_id", rid).where(F.col("record_id") != "")
    out = out.withColumn(
        "oai_id",
        F.concat(F.lit("sfx:"), F.lit(source_id), F.lit(":"), F.col("record_id")),
    )
    out = out.withColumn("modified", leader5 != "-")
    injected = F.regexp_replace(
        xml,
        F.lit("</record>\\s*$"),
        F.concat(
            F.lit('<controlfield tag="001">'),
            F.col("record_id"),
            F.lit("</controlfield></record>"),
        ),
    )
    return out.withColumn(xml_col, injected)
