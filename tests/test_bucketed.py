"""Bucketed record stores: the join on the bucket key must be
shuffle-free (no Exchange on either side), and the spec guard catches
mismatched bucket counts."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from recordmanager_spark.sources.bucketed import read_bucketed, write_bucketed
from tests.oracles import bucketed_join_ready


def _exchanges(df) -> int:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    return sum(
        1
        for sec in re.split(r"^\(\d+\) ", plan, flags=re.M)[1:]
        if sec.startswith("Exchange")
    )


def test_bucketed_join_is_shuffle_free(spark):
    records = spark.range(0, 1000).selectExpr(
        "id AS rec_id", "CAST(id % 7 AS STRING) AS payload"
    )
    keys = spark.range(0, 1000).selectExpr(
        "id AS rec_id", "md5(CAST(id AS STRING)) AS dedup_key"
    )
    write_bucketed(records, "t_records_b", "rec_id", 8)
    write_bucketed(keys, "t_keys_b", "rec_id", 8)
    # force sort-merge planning: at toy size the planner would broadcast
    # both joins, hiding the exchange difference bucketing exists to show
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = read_bucketed(spark, "t_records_b")
        b = read_bucketed(spark, "t_keys_b")
        joined = a.join(b, "rec_id")
        # co-located: ZERO exchanges in the join plan
        assert _exchanges(joined) == 0
        assert joined.count() == 1000
        # the same join over non-bucketed inputs shuffles both sides
        assert _exchanges(records.join(keys, "rec_id")) >= 2
        assert bucketed_join_ready(spark, "t_records_b", "t_keys_b", "rec_id")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_records_b")
        spark.sql("DROP TABLE IF EXISTS t_keys_b")


def test_bucketed_groupby_is_shuffle_free(spark):
    df = spark.range(0, 500).selectExpr(
        "CAST(id % 50 AS STRING) AS dedup_key", "id AS v"
    )
    write_bucketed(df, "t_group_b", "dedup_key", 4)
    try:
        g = (
            read_bucketed(spark, "t_group_b")
            .groupBy("dedup_key")
            .count()
        )
        assert _exchanges(g) == 0
        assert g.count() == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS t_group_b")


def test_spec_guard_rejects_mismatched_buckets(spark):
    df = spark.range(0, 100).selectExpr("id AS rec_id")
    write_bucketed(df, "t_a8", "rec_id", 8)
    write_bucketed(df, "t_b4", "rec_id", 4)
    try:
        assert not bucketed_join_ready(spark, "t_a8", "t_b4", "rec_id")
        assert not bucketed_join_ready(spark, "t_a8", "t_a8", "other_key")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_a8")
        spark.sql("DROP TABLE IF EXISTS t_b4")
