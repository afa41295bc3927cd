"""Physical-plan shape assertions — the 100 TB design contract.

These lock in the plan properties the engine's scale story depends on:
filters reach the parquet scan, enrichment lookups broadcast (the record
side never shuffles), per-record projections stay exchange-free, and the
ANN baseline uses a broadcast nested-loop rather than a shuffled
cartesian. Wording-level assertions are kept loose (substring on the
formatted plan) so Spark version bumps don't break them gratuitously.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    p = plan_of(E.filter_dsl_orders(spark, SF))
    assert "PushedFilters: [" in p
    # at least one real predicate pushed, not just the bare brackets
    assert "PushedFilters: []" not in p.replace("PushedFilters: [],", "")


def test_projection_pruning(spark):
    """A two-column projection must not read the whole orders schema."""
    o = E._t(spark, SF, "orders")
    p = plan_of(o.select("o_orderkey", "o_orderstatus"))
    read = p.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderkey" in read and "o_orderstatus" in read
    assert "o_comment" not in read and "o_totalprice" not in read


def test_enrichment_broadcasts_lookup(spark):
    """q5-style dim joins broadcast; the big side never shuffles for them."""
    p = plan_of(E.q5_local_supplier_volume(spark, SF))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_narrow_projection_has_no_exchange(spark):
    """Per-record scoring (language ID) is a pure map pipeline."""
    docs = E._t(spark, SF, "documents")
    from recordmanager_spark.functions import text as TX

    out = docs.select("doc_id", TX.lang_id(F.col("text")).alias("lang"))
    p = plan_of(out)
    assert "Exchange" not in p


def test_knn_bruteforce_broadcast_nested_loop(spark):
    p = plan_of(E.knn_bruteforce(spark, SF))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_extraction_stays_codegen(spark):
    """The DC extractor's projection runs inside whole-stage codegen."""
    c = E._t(spark, SF, "customer")
    from recordmanager_spark.extractors import dc as DC

    df = DC.to_solr_columns(
        c.select(
            F.format_string(
                "<dc><recordID>%s</recordID><title>T</title></dc>",
                F.col("c_custkey").cast("string"),
            ).alias("xml")
        ),
        "xml",
    ).select("id", "title")
    p = plan_of(df)
    # formatted mode prefixes codegen'd nodes with '*'
    assert "* Project" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_incremental_filter_pushes_to_scan(spark):
    """changed_since watermark predicates reach the parquet reader."""
    from recordmanager_spark.operators.incremental import changed_since

    ev = E._t(spark, SF, "events")
    out = changed_since(ev, "ts", "2024-01-01 00:00:00")
    p = plan_of(out)
    assert "PushedFilters: [" in p and "IsNotNull(ts)" in p
