"""Record-store upsert: MERGE INTO semantics for harvested batches.

Behavioral spec (reference, NOT code): Command/StoreRecordTrait.php:187-310 —
- last-write-wins by ``_id``: an incoming record replaces the stored row
- ``created`` survives from the stored row; new rows get created=updated
- ``updated`` (and ``date``) stamp to the batch timestamp on every touch
- rows not in the batch are untouched.

Spark-first: one full-outer join on the id — exactly what ``MERGE INTO``
compiles to on Delta; on plain parquet this produces the next table
version. At 100 TB: partition/bucket the store by hash(_id) and the
incoming batch co-partitions, so the merge is a co-located join; the
untouched partitions rewrite only when touched (Delta) or via partition
overwrite (parquet).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_id(batch: DataFrame) -> DataFrame:
    """One row per ``_id``: the batch's last copy in input order.

    A dump may hold the same record twice, and a harvest may fetch it
    twice in one run. The reference stores records in stream order, so
    the last copy is the one that stays. Input order is the batch's
    ``__order`` column, (file path, position in the file): a later file
    by path wins, then a later position in that file. ``__order`` is
    dropped."""
    w = Window.partitionBy("_id").orderBy(F.col("__order").desc())
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__order")
    )


def upsert_records(
    existing: DataFrame | None,
    batch: DataFrame,
    timestamp: _dt.datetime,
) -> DataFrame:
    """Last-write-wins upsert of `batch` into `existing`.

    Columns present in both frames take the batch's value for matched and
    new ids; `created` is preserved for matched ids; `updated` and `date`
    stamp to `timestamp` for every batch row; untouched rows pass through
    unchanged. Result schema = existing's schema. With no store yet
    (``existing`` None) the batch is the store.

    The batch holds one row per id (:func:`latest_per_id`), so the store
    keeps one row per id.
    """
    if existing is None:
        return batch
    id_col = "_id"
    ts = F.lit(timestamp)
    cols = existing.columns
    b = batch
    for c in cols:
        if c not in b.columns:
            b = b.withColumn(c, F.lit(None).cast(existing.schema[c].dataType))
    b = b.select(*cols)

    e = existing.alias("e")
    bb = b.alias("b")
    joined = e.join(bb, F.col(f"e.{id_col}") == F.col(f"b.{id_col}"), "full_outer")
    from_batch = F.col(f"b.{id_col}").isNotNull()

    out_cols = []
    for c in cols:
        if c == id_col:
            out_cols.append(
                F.coalesce(F.col(f"b.{c}"), F.col(f"e.{c}")).alias(c)
            )
        elif c == "created":
            # stored created wins; brand-new rows get the batch timestamp
            out_cols.append(
                F.when(
                    F.col(f"e.{id_col}").isNotNull(), F.col(f"e.{c}")
                ).otherwise(ts).alias(c)
            )
        elif c in ("updated", "date"):
            out_cols.append(
                F.when(from_batch, ts).otherwise(F.col(f"e.{c}")).alias(c)
            )
        else:
            out_cols.append(
                F.when(from_batch, F.col(f"b.{c}")).otherwise(F.col(f"e.{c}")).alias(c)
            )
    return joined.select(*out_cols)
