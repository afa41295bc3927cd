"""Dedup-group merge: fold N member records into one composite document.

Reference: SolrUpdater.php:1124-1279 (processDedupRecord) and :2612-2707
(mergeRecords). Semantics re-expressed relationally:

1. Score each member (field count + title length, ALL-CAPS titles
   penalized by halving, SolrUpdater.php:2612-2650); the best-scored member
   is the "base" record and wins ties for single-valued fields.
2. Per-field merge policy:
   - merged_fields (multi-valued): concatenation in base-first order with
     case-insensitive dedup (SolrUpdater.php:2652-2680, 1226-1256)
   - single_fields: first non-empty value in score order (:2681-2694)
   - summed_fields: numeric sum (:2695-2696)
3. The merged doc gets id = dedup_id, record_format='merged',
   merged_boolean; members get merged_child_boolean and the group's member
   ids as local_ids_str_mv (:1209-1277).

Execution shape: ONE shuffle on the group key. Scoring is a scan-stage
expression; every policy is an aggregate with a map-side partial. Ordering
inside aggregates is made explicit by collecting (rank, value) structs and
array_sort-ing — no reliance on collect_list order, which is undefined
under parallel merge (critical for determinism on a 1000-executor cluster).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.keys import array_iunique


def merge_groups(
    df: DataFrame,
    group_col: str,
    id_col: str,
    *,
    merged_fields: Sequence[str] = (),
    single_fields: Sequence[str] = (),
    summed_fields: Sequence[str] = (),
    score: Column | None = None,
) -> DataFrame:
    """Produce one merged row per group.

    ``score`` defaults to 0 (then order is by id — deterministic). Higher
    score = better base record. Output columns: group id as ``id_col``,
    every policy field, plus ``local_ids`` (member id list, sorted) and
    ``group_size``.
    """
    score = score if score is not None else F.lit(0)
    w = Window.partitionBy(group_col).orderBy(
        F.col("__score").desc(), F.col(id_col).asc()
    )
    ranked = df.withColumn("__score", score).withColumn(
        "__rank", F.row_number().over(w)
    )

    aggs: list[Column] = [
        F.sort_array(F.collect_list(F.col(id_col))).alias("local_ids"),
        F.count(F.lit(1)).alias("group_size"),
    ]
    for f in merged_fields:
        # collect (rank, values) pairs, sort by rank (base first), flatten,
        # then case-insensitive first-occurrence dedup.
        pairs = F.collect_list(
            F.struct(F.col("__rank").alias("r"), F.col(f).alias("v"))
        )
        # NULL member arrays must not poison the flatten (flatten of an
        # array containing NULL is NULL -> a group of all-null values
        # should merge to [], not NULL)
        ordered = F.flatten(
            F.transform(
                F.array_sort(pairs), lambda p: F.coalesce(p["v"], F.array())
            )
        )
        aggs.append(array_iunique(F.filter(ordered, lambda x: x.isNotNull())).alias(f))
    for f in single_fields:
        # first non-empty value in rank order: min over (rank, value)
        # structs restricted to non-null values — struct ordering compares
        # rank first, so min = best-ranked non-empty.
        pick = F.min(
            F.when(
                F.col(f).isNotNull() & (F.col(f).cast("string") != ""),
                F.struct(F.col("__rank").alias("r"), F.col(f).alias("v")),
            )
        )
        aggs.append(pick["v"].alias(f))
    for f in summed_fields:
        aggs.append(F.sum(F.col(f)).alias(f))

    return ranked.groupBy(F.col(group_col).alias(id_col)).agg(*aggs)


# Formats the componentParts policy treats as journals (SolrUpdater reads
# these from config: journal_formats / earticle_formats; defaults mirror
# SolrUpdater.php:219-227).
JOURNAL_FORMATS = ("Journal", "Newspaper")
EARTICLE_FORMATS = ("eJournal",)

# MetadataUtils defaults (Solr.article_formats / earticle_formats,
# MetadataUtils.php:219-228)
ARTICLE_FORMATS = ("Article",)
EARTICLE_RECORD_FORMATS = ("eArticle",)


def is_hidden_component_part(
    host_record_id: Column,
    fmt: Column,
    *,
    component_parts: str = "merge_all",
) -> Column:
    """Column predicate for MetadataUtils::isHiddenComponentPart (:947-973).

    A component (non-null host_record_id) is hidden under ``merge_all``
    unconditionally; under ``merge_non_articles``/``merge_non_earticles``
    it stays visible only when its format is an eArticle format — the
    reference hides both non-article formats AND plain-article formats in
    either merge mode (a quirk preserved here: the two modes share one
    branch body).
    """
    article_formats = ARTICLE_FORMATS
    earticle_formats = EARTICLE_RECORD_FORMATS
    is_component = host_record_id.isNotNull()
    if component_parts == "merge_all":
        return is_component
    if component_parts in ("merge_non_articles", "merge_non_earticles"):
        all_article = list(article_formats) + list(earticle_formats)
        return is_component & (
            ~fmt.isin(*all_article) | fmt.isin(*article_formats)
        )
    return F.lit(False)


def merge_component_parts(
    hosts: DataFrame,
    components: DataFrame,
    *,
    component_parts: str = "merge_all",
    component_sources: Sequence[str] | None = None,
) -> DataFrame:
    """Component-part merge policy (SolrUpdater.php:1928-1993).

    A host record (no ``host_record_id`` of its own) gathers the live
    (non-deleted, non-suppressed) components whose ``host_record_id``
    intersects its ``linking_id`` within the same source (or the configured
    ``componentPartSourceId`` list). Whether the components merge depends on
    the ``componentParts`` setting vs the host's format:

    - ``merge_all``          → always merge
    - format not a journal   → merge
    - journal format + ``merge_non_earticles`` → merge (e-article journals
      never merge under it)

    On merge, the host's ``date`` advances to the newest component date
    (SolrUpdater.php:1984-1992) and ``component_info`` carries the ordered
    (id, title) union — the AbstractRecord::mergeComponentParts contract
    (the base reference's implementation at AbstractRecord.php:238-241 is
    a no-op returning 0 and no base driver overrides it, so the gathering
    orchestration above is the complete base behavior);
    MARC-driver-specific 979 field synthesis belongs to the extractor
    layer. Components cap at ``max_components`` (:1975, same arbitrary
    bound).

    Scale shape: explode host linking ids once, equi-join components on
    (source, link) — both sides shuffle by that key only; per-host gather
    is one groupBy with map-side partials.
    """
    id_col = "_id"
    linking_col = "linking_id"
    format_col = "format"
    date_col = "date"
    source_col = "source_id"
    host_link_col = "host_record_id"
    deleted_col = "deleted"
    suppressed_col = "suppressed"
    max_components = 10000
    journal_formats = JOURNAL_FORMATS
    earticle_formats = EARTICLE_FORMATS
    host_fmt = F.coalesce(F.col(format_col), F.lit(""))
    is_journal = host_fmt.isin(*journal_formats) | host_fmt.isin(*earticle_formats)
    merge_ok = (
        F.lit(component_parts == "merge_all")
        | ~is_journal
        | (
            host_fmt.isin(*journal_formats)
            & F.lit(component_parts == "merge_non_earticles")
        )
    )

    h = hosts
    if host_link_col in h.columns:
        h = h.where(
            F.col(host_link_col).isNull() | (F.size(F.col(host_link_col)) == 0)
        )
    links = h.select(
        F.col(id_col).alias("__hid"),
        F.col(source_col).alias("__hsrc"),
        F.explode_outer(linking_col).alias("__link"),
    )
    c = components.where(
        ~F.coalesce(F.col(deleted_col), F.lit(False))
        & ~F.coalesce(F.col(suppressed_col), F.lit(False))
    )
    comp = c.select(
        F.col(source_col).alias("__csrc"),
        F.col(id_col).alias("__cid"),
        F.col("title").alias("__ctitle"),
        F.col(date_col).alias("__cdate"),
        F.explode(host_link_col).alias("__chost"),
    )
    if component_sources:
        comp = comp.where(F.col("__csrc").isin(*component_sources))
        src_cond = F.lit(True)
    else:
        src_cond = F.col("__hsrc") == F.col("__csrc")
    joined = links.join(
        comp, (F.col("__link") == F.col("__chost")) & src_cond, "left"
    )
    gathered = joined.groupBy("__hid").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("__cid").isNotNull(),
                        F.struct(
                            F.col("__cid").alias("id"),
                            F.col("__ctitle").alias("title"),
                        ),
                    )
                )
            ),
            1,
            max_components,
        ).alias("component_info"),
        F.max("__cdate").alias("__max_cdate"),
    )
    out = hosts.join(
        gathered.withColumnRenamed("__hid", id_col), id_col, "left"
    ).withColumn(
        "component_info", F.coalesce(F.col("component_info"), F.array())
    )
    has_parts = F.size(F.col("component_info")) > 0
    merged = has_parts & merge_ok
    return (
        out.withColumn("has_component_parts", has_parts)
        .withColumn(
            "merged_component_count",
            F.when(merged, F.size(F.col("component_info"))).otherwise(F.lit(0)),
        )
        .withColumn(
            date_col,
            F.when(
                merged, F.greatest(F.col(date_col), F.col("__max_cdate"))
            ).otherwise(F.col(date_col)),
        )
        .withColumn(
            "component_info",
            F.when(merged, F.col("component_info")).otherwise(F.array()),
        )
        .drop("__max_cdate")
    )


def copy_down(
    members: DataFrame,
    merged: DataFrame,
    group_col: str,
    id_col: str,
    fields: Sequence[str],
) -> DataFrame:
    """Copy configured fields from the merged doc back to every member
    (SolrUpdater.php:2718-2737). Broadcast the merged side when small;
    otherwise this is a co-partitioned equi-join on the group key."""
    sel = merged.select(
        F.col(id_col).alias(group_col), *[F.col(f).alias(f"__m_{f}") for f in fields]
    )
    out = members.join(sel, on=group_col, how="left")
    for f in fields:
        out = out.withColumn(
            f,
            F.when(F.col(f"__m_{f}").isNotNull(), F.col(f"__m_{f}")).otherwise(
                F.col(f)
            ),
        ).drop(f"__m_{f}")
    return out
