"""File-export sink with batching, sampling, predicates and sorting.

Behavioral spec (reference, NOT code): Command/Records/Export.php:281-565 —
export records to files with ``--batch-size`` (new file every N),
``--skip`` (export every (skip+1)th record), an XPath record predicate,
constant field injection, and ``--sort-dedup`` (order by dedup id so
duplicate groups are adjacent).

Spark-first: the predicate and sampling are narrow filters (xpath_boolean
runs JVM-side); sort-dedup is a global orderBy; batch size maps to
``maxRecordsPerFile``. Deterministic sampling uses a stable hash of the id,
not row position, so it is reproducible across partitionings — positional
striding would need a global row_number (a full sort) for no user-visible
benefit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def export_records(
    df: DataFrame,
    id_col: str = "_id",
    xml_col: str = "original_data",
    skip: int = 0,
    xpath_predicate: str | None = None,
    sort_dedup: bool = False,
    inject_fields: dict[str, str] | None = None,
) -> DataFrame:
    """Build the export DataFrame (callers then .write it with a batch size)."""
    dedup_col = "dedup_id"
    out = df
    if xpath_predicate:
        # validate the predicate on the driver with a 1-row probe so a typo
        # fails in milliseconds, not minutes into a 100 TB stage
        df.sparkSession.range(1).select(
            F.xpath_boolean(F.lit("<probe/>"), F.lit(xpath_predicate))
        ).collect()
        out = out.where(F.xpath_boolean(F.col(xml_col), F.lit(xpath_predicate)))
    if skip:
        out = out.where(
            F.pmod(F.abs(F.hash(F.col(id_col))), F.lit(skip + 1)) == 0
        )
    if inject_fields:
        out = out.withColumns({k: F.lit(v) for k, v in inject_fields.items()})
    if sort_dedup:
        out = out.orderBy(
            F.col(dedup_col).asc_nulls_last(), F.col(id_col).asc()
        )
    return out


def write_export(
    df: DataFrame, path: str, batch_size: int | None = None
) -> None:
    w = df.write.mode("overwrite")
    if batch_size:
        w = w.option("maxRecordsPerFile", batch_size)
    w.json(path)
