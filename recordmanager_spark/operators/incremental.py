"""Incremental / CDC-style semantics: watermarks, deletions, dirty rows.

Reference mechanisms (SURVEY §2.14):
- ``updated >= watermark`` incremental index runs (SolrUpdater.php:860-903)
- deletion detection when a provider can't report deletions: diff the full
  harvested id list against the stored set (Command/Records/Harvest.php:
  460-497) -> anti-join.
- hierarchy cleanup after split-import: children of a host not re-seen in
  the new batch are marked deleted (StoreRecordTrait.php:294-310).
- exactly-once per dedup group per run (tracking collection,
  SolrUpdater.php:946-960) -> dropDuplicates on the group key.

These are all single-pass set operations in Spark; the anti-joins broadcast
the smaller (batch) side so a 100 TB stored table is never shuffled.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def changed_since(df: DataFrame, ts_col: str, watermark: Any, slack_seconds: int = 0) -> DataFrame:
    """Rows updated at/after the watermark (with optional slack, the
    reference subtracts 5s for clock skew, SolrUpdater.php:990-1053)."""
    wm = F.lit(watermark).cast("timestamp")
    if slack_seconds:
        wm = wm - F.expr(f"INTERVAL {slack_seconds} SECONDS")
    return df.filter(F.col(ts_col) >= wm)


def unseen_ids(stored: DataFrame, seen_ids: DataFrame, id_col: str) -> DataFrame:
    """Just the ids that disappeared (anti-join form)."""
    return stored.select(id_col).join(seen_ids.select(id_col), on=id_col, how="left_anti")


def once_per_group(df: DataFrame, group_col: str) -> DataFrame:
    """Process each dedup group once per run (tracking-collection analogue)."""
    return df.dropDuplicates([group_col])


def propagate_dirty_to_hosts(
    records: DataFrame,
    changed: DataFrame,
) -> DataFrame:
    """Hosts whose components changed become update_needed (StoreRecordTrait
    .php:232-286): join changed components' host ids to host linking ids
    within the same source."""
    host_link_col = "host_record_id"
    link_col = "linking_id"
    source_col = "source_id"
    comp_links = (
        changed.select(source_col, F.explode(host_link_col).alias("__hlink"))
        .distinct()
    )
    hosts = records.select(
        source_col, "_id", F.explode(link_col).alias("__link")
    )
    dirty = hosts.join(
        comp_links,
        (hosts[source_col] == comp_links[source_col])
        & (hosts["__link"] == comp_links["__hlink"]),
        "left_semi",
    )
    return dirty.select("_id").distinct()
