"""Index validation: compare would-be index docs against the published
index, and find orphaned index rows.

Reference behavior (NOT code):

- ``solr compare-records`` (Command/Solr/CompareRecords.php:157, engine
  Solr/SolrComparer.php:220 ``compareWithSolrRecord``): for every
  record the pipeline would index, fetch the currently-indexed doc by
  id and diff field-by-field. Fields compared = union of both docs'
  fields, intersected with an explicit ``--fields`` list when given,
  otherwise minus a default ignore list (allfields, spelling, sort
  keys, first/last_indexed, _version_, fullrecord, ...,
  SolrComparer.php:223-231) plus ``[Solr] ignore_in_comparison``.
  Values compare as SETS (PHP in_array membership both ways,
  SolrComparer.php:278-288): indexed values absent from the new doc
  print as ``--- v``, new values absent from the index as ``+++ v``;
  a field with empty diffs is silent, a record with no differing
  fields is silent. ``--skip-missing`` (SolrComparer.php:262) skips
  ids not in the index at all; without it every field of an unindexed
  record diffs as added.
- ``solr check-index`` (Command/Solr/CheckIndex.php:55, engine
  SolrUpdater.php:1476 ``checkIndexedRecords``): cursor the whole
  index; for each row look up the database record (the DEDUP record
  when record_format == 'merged', SolrUpdater.php:1511-1516); rows
  whose record is missing or flagged deleted are orphans — reported
  with the deletion timestamp, or buffered as index deletes.

Spark-native shape: the per-id HTTP fetch loop becomes one join.
Both docs tables melt to (id, field, values array<string>) with a
row-local generator (no shuffle), the diff is a full-outer join on
(id, field) restricted to record-side ids — one exchange on a key
that is unique per (id, field), so skew-free at any corpus size.
check-index is two anti-join-shaped left joins (merged rows vs the
dedup table, the rest vs records), each broadcastable when the
record side is the small one and AQE-planned otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# SolrComparer.php:223-231 $ignoreFields — derived/denormalized fields
# the indexer recomputes every run; diffing them is pure noise.
DEFAULT_IGNORE_FIELDS = (
    "allfields",
    "allfields_unstemmed",
    "fulltext",
    "fulltext_unstemmed",
    "spelling",
    "spellingShingle",
    "authorStr",
    "author_facet",
    "publisherStr",
    "publishDateSort",
    "topic_browse",
    "hierarchy_browse",
    "first_indexed",
    "last_indexed",
    "_version_",
    "fullrecord",
    "title_full_unstemmed",
    "title_fullStr",
    "author_additionalStr",
)


def _melt(df: DataFrame, id_col: str, side: str) -> DataFrame:
    """(id, field, values array<string>) — one output row per non-null
    field per input row. Scalars wrap to 1-element arrays, arrays cast
    element-wise to string (the reference compares the JSON doc's
    values with loose equality; string space is the common ground a
    DuckDB oracle reproduces bit-for-bit). Null / missing stays absent,
    matching PHP isset() semantics. Row-local (inline generator):
    nothing shuffles until the diff join."""
    pairs = []
    for f in df.schema.fields:
        if f.name == id_col:
            continue
        c = F.col(f.name)
        if f.dataType.typeName() == "array":
            vals = F.transform(c, lambda x: x.cast("string"))
        else:
            vals = F.array(c.cast("string"))
        pairs.append(
            F.struct(
                F.lit(f.name).alias("field"),
                F.when(c.isNotNull(), vals).alias("values"),
            )
        )
    return (
        df.select(
            F.col(id_col).cast("string").alias("id"),
            F.inline(F.array(*pairs)),
        )
        .where(F.col("values").isNotNull())
        .withColumnRenamed("values", side)
    )


def compare_index_docs(
    records: DataFrame,
    indexed: DataFrame,
    id_col: str = "id",
    fields: list[str] | None = None,
    skip_missing: bool = False,
) -> DataFrame:
    """Field-level diff of would-be index docs (``records``) against the
    published index (``indexed``), driven from the records side (the
    reference iterates database records and fetches each index doc; an
    index row whose id the batch doesn't touch is check-index's job,
    not compare's). Returns (id, field, added array<string>, removed
    array<string>) — ``added`` = values the new doc would introduce,
    ``removed`` = currently-indexed values it would drop; both sorted
    for deterministic comparison, only non-empty diffs emitted."""
    ignore_fields = DEFAULT_IGNORE_FIELDS
    new = _melt(records, id_col, "new_vals")
    old = _melt(indexed, id_col, "old_vals")
    if fields:
        keep = list(fields)
        new = new.where(F.col("field").isin(keep))
        old = old.where(F.col("field").isin(keep))
    elif ignore_fields:
        new = new.where(~F.col("field").isin(list(ignore_fields)))
        old = old.where(~F.col("field").isin(list(ignore_fields)))

    record_ids = records.select(
        F.col(id_col).cast("string").alias("id")
    ).distinct()
    diff = (
        new.join(old, ["id", "field"], "full_outer")
        # records-side driven: fields that exist only in the index STILL
        # diff (allFields is the union of both docs' keys), but only for
        # ids this batch computed
        .join(record_ids, "id", "left_semi")
        .select(
            "id",
            "field",
            F.array_sort(
                F.array_except(
                    F.coalesce("new_vals", F.array().cast("array<string>")),
                    F.coalesce("old_vals", F.array().cast("array<string>")),
                )
            ).alias("added"),
            F.array_sort(
                F.array_except(
                    F.coalesce("old_vals", F.array().cast("array<string>")),
                    F.coalesce("new_vals", F.array().cast("array<string>")),
                )
            ).alias("removed"),
        )
        .where((F.size("added") > 0) | (F.size("removed") > 0))
    )
    if skip_missing:
        indexed_ids = indexed.select(
            F.col(id_col).cast("string").alias("id")
        ).distinct()
        diff = diff.join(indexed_ids, "id", "left_semi")
    return diff


def check_index(
    indexed: DataFrame,
    records: DataFrame,
    dedup: DataFrame | None = None,
    id_col: str = "id",
    updated_col: str | None = None,
) -> DataFrame:
    """Orphaned index rows: indexed docs whose backing record is gone
    or deleted (SolrUpdater.php:1476 checkIndexedRecords). Rows with
    ``record_format == 'merged'`` check the dedup table (the merged doc
    id IS the dedup group id, SolrUpdater.php:1511-1516); all others
    check ``records``. Returns (id, merged, reason, deleted_at) where
    reason ∈ {'missing', 'deleted'} — the reference's report line /
    buffered-delete list as a DataFrame (feed it to the Solr sink's
    delete batching to complete the non-report path)."""
    format_col = "record_format"
    deleted_col = "deleted"

    def probe(side: DataFrame, backing: DataFrame, merged: bool) -> DataFrame:
        cols = [F.col(id_col).cast("string").alias("__bid"),
                F.col(deleted_col).alias("__deleted")
                if deleted_col in backing.columns
                else F.lit(False).alias("__deleted")]
        if updated_col and updated_col in backing.columns:
            cols.append(F.col(updated_col).alias("__updated"))
        else:
            cols.append(F.lit(None).cast("timestamp").alias("__updated"))
        b = backing.select(*cols)
        return (
            side.select(F.col(id_col).cast("string").alias("id"))
            .join(b, F.col("id") == F.col("__bid"), "left")
            .where(F.col("__bid").isNull() | F.col("__deleted"))
            .select(
                "id",
                F.lit(merged).alias("merged"),
                F.when(F.col("__bid").isNull(), F.lit("missing"))
                .otherwise(F.lit("deleted"))
                .alias("reason"),
                F.when(F.col("__deleted"), F.col("__updated")).alias(
                    "deleted_at"
                ),
            )
        )

    fmt = (
        # NULL format = standard (the reference reads record_format ??
        # recordtype and only 'merged' routes to the dedup table;
        # without the coalesce a NULL comparison would silently drop
        # the row from BOTH probes — r11 review finding)
        F.coalesce(F.col(format_col), F.lit("standard"))
        if format_col in indexed.columns
        else F.lit("standard")
    )
    tagged = indexed.withColumn("__merged", fmt == F.lit("merged"))
    normal = probe(tagged.where(~F.col("__merged")), records, False)
    if dedup is None:
        merged_side = tagged.where(F.col("__merged")).select(
            F.col(id_col).cast("string").alias("id"),
            F.lit(True).alias("merged"),
            F.lit("missing").alias("reason"),
            F.lit(None).cast("timestamp").alias("deleted_at"),
        )
    else:
        merged_side = probe(tagged.where(F.col("__merged")), dedup, True)
    return normal.unionByName(merged_side)
