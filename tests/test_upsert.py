"""Upsert (MERGE INTO semantics) tests — StoreRecordTrait parity."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from recordmanager_spark.sources import upsert as UP

T0 = datetime.datetime(2020, 1, 1)
T1 = datetime.datetime(2021, 6, 1)


def _existing(spark):
    return spark.createDataFrame(
        [
            ("a.1", "old title", T0, T0, T0, False),
            ("a.2", "keep me", T0, T0, T0, False),
        ],
        ["_id", "title", "created", "updated", "date", "deleted"],
    )


def test_upsert_matched_new_untouched(spark):
    batch = spark.createDataFrame(
        [("a.1", "new title", False), ("a.3", "brand new", False)],
        ["_id", "title", "deleted"],
    )
    out = {r._id: r for r in UP.upsert_records(_existing(spark), batch, T1).collect()}
    assert len(out) == 3
    # matched: batch value wins, created preserved, updated stamped
    assert out["a.1"].title == "new title"
    assert out["a.1"].created == T0 and out["a.1"].updated == T1
    # untouched passes through
    assert out["a.2"].title == "keep me" and out["a.2"].updated == T0
    # new row: created = updated = batch timestamp
    assert out["a.3"].created == T1 and out["a.3"].updated == T1


def test_upsert_deletion_record(spark):
    batch = spark.createDataFrame(
        [("a.2", None, True)], "_id string, title string, deleted boolean"
    )
    out = {r._id: r for r in UP.upsert_records(_existing(spark), batch, T1).collect()}
    assert out["a.2"].deleted is True
    assert out["a.2"].updated == T1


def test_xslt_backends():
    """XSLT always runs on the one stdlib engine, whatever the container
    holds (Utils/XslTransformation.php analogue)."""
    from recordmanager_spark.sources import transforms

    sheet = (
        '<xsl:stylesheet version="1.0" '
        'xmlns:xsl="http://www.w3.org/1999/XSL/Transform">'
        '<xsl:template match="/"><out/></xsl:template></xsl:stylesheet>'
    )
    assert transforms.make_xslt_udf(sheet) is not None
