"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises an operator from SURVEY.md §2 (or a
training-data-pipeline extension) through the ``recordmanager_spark``
engine; ``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL. Column
names and types are aligned on both sides; double-valued aggregates are
rounded on both sides so cross-engine summation order cannot flip the
value hash.

Every query has a value-level DuckDB oracle — including the approximate
LSH/banding paths, whose hash families are deliberately md5-derived so
the exact same signatures reproduce on any engine; their recall is
additionally asserted against the exact variants in tests/.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from recordmanager_spark.extractors import dc as DC
from recordmanager_spark.extractors import doaj as DOAJ
from recordmanager_spark.extractors import ead as EAD
from recordmanager_spark.extractors import ead3 as EAD3
from recordmanager_spark.extractors import ese as ESE
from recordmanager_spark.extractors import lrmi as LRMI
from recordmanager_spark.extractors import lido as LIDO
from recordmanager_spark.extractors import qdc as QDC
from recordmanager_spark.extractors import marc as MARC
from recordmanager_spark.extractors import marc_authority as MAUTH
from recordmanager_spark.extractors import forward_authority as FAUTH
from recordmanager_spark.plans import mapping as MP
from recordmanager_spark.plans import filter_dsl as FDSL
from recordmanager_spark.plans.filter_dsl import apply_query
from recordmanager_spark.functions import callnumbers as CN
from recordmanager_spark.functions import geo as GEO
from recordmanager_spark.functions import keys as K
from recordmanager_spark.functions import text as TX
from recordmanager_spark.operators import enrich as EN
from recordmanager_spark.operators import normalize as NZ
from recordmanager_spark.operators import multimodal as MM
from recordmanager_spark.sources import splitter as SP
from recordmanager_spark.sources import upsert as UP
from recordmanager_spark.sparkcompat import try_element_at
from recordmanager_spark.operators import (
    count_values as CV,
    dedup as DD,
    incremental as INC,
    merge as MG,
    range_query as RQ,
    similarity as SIM,
    text_dedup as TD,
)

# ---------------------------------------------------------------------------
# table loading (driver's session may not preconfigure nano-timestamp parquet)
# ---------------------------------------------------------------------------

_NANO_TS = ("o_orderdate", "l_shipdate", "ts")


def _t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # The toy-scale parquet files are single-row-group, so Spark reads
    # them as ONE partition — a per-row-heavy stage (Python UDF
    # extractor, interpreted HOF lambdas) then runs on one core of N,
    # where a real corpus would arrive in thousands of natural splits.
    # Queries whose cost is per-row CPU pass spread=True to mimic that
    # with a round-robin repartition (REPARTITION_BY_NUM is exempt from
    # AQE coalescing; plan_audit counts key shuffles net of round-robin
    # spreads). Scan-narrow JVM queries skip it: on toy data the shuffle
    # costs more than the parallelism returns.
    if spread:
        par = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < par:
            df = df.repartition(par)
    for c in _NANO_TS:
        if c in df.columns and isinstance(df.schema[c].dataType, T.LongType):
            # integer div: truncate nanos -> micros exactly like DuckDB
            # (double division here would lose bits above 2^53)
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df


def _ts(s: str) -> _dt.datetime:
    return _dt.datetime.fromisoformat(s)


# ---------------------------------------------------------------------------
# TPC-H-style headline queries (scan -> agg -> join shapes at scale)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    l = _t(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.where(F.col("l_shipdate") <= F.lit(_ts("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    cutoff = F.lit(_ts("1999-01-01"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.where(F.col("c_mktsegment") == "BUILDING")), o.o_custkey == F.col("c_custkey"))
        .where((o.o_orderdate < cutoff) & (l.l_shipdate > cutoff))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q5_local_supplier_volume(spark: SparkSession, sf: str) -> DataFrame:
    r = _t(spark, sf, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf, "nation")
    cst = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cst), o.o_custkey == cst.c_custkey)
        .where(cst.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Filter DSL (SURVEY §2.3)
# ---------------------------------------------------------------------------


def filter_dsl_orders(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    flt = {
        "o_orderstatus": {"$in": ["F", "P"]},
        "o_totalprice": {"$gte": 50000.0, "$lt": 200000.0},
        "$or": [
            {"o_orderpriority": "1-URGENT"},
            {"o_orderpriority": "2-HIGH"},
        ],
    }
    return apply_query(o, flt)


def filter_dsl_events_page(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    flt = {"event_type": {"$ne": "click"}, "value": {"$gt": 10.0}}
    return apply_query(
        e, flt, sort=[("ts", 1), ("event_id", 1)], skip=100, limit=50
    )


def range_scan_page(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    return RQ.range_page(
        e,
        "ts",
        "event_id",
        ts_from=_ts("2024-01-10"),
        ts_until=_ts("2024-01-20"),
        offset=50,
        limit=100,
    )


# ---------------------------------------------------------------------------
# countValues (SURVEY §2.11) + incremental/deletion semantics (§2.14)
# ---------------------------------------------------------------------------


def count_values_lang(spark: SparkSession, sf: str) -> DataFrame:
    return CV.count_values(_t(spark, sf, "documents"), "lang")


def count_values_event_type(spark: SparkSession, sf: str) -> DataFrame:
    return CV.count_values(_t(spark, sf, "events"), "event_type")


def count_values_tokens(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").select(TX.tokenize("text").alias("tok"))
    return CV.count_values(d, "tok")


def count_values_mapped(spark: SparkSession, sf: str) -> DataFrame:
    """countValues --mapped: tally after running the mapping table."""
    m = MP.parse_map_file(
        "status_map", "O = Open\nF = Finished\n##default = Other"
    )
    return CV.count_mapped_values(_t(spark, sf, "orders"), "o_orderstatus", m)


def deletion_antijoin(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders").select("o_orderkey")
    seen = _t(spark, sf, "lineitem").select(F.col("l_orderkey").alias("o_orderkey"))
    return INC.unseen_ids(o, seen, "o_orderkey")


def incremental_changed(spark: SparkSession, sf: str) -> DataFrame:
    e = INC.changed_since(_t(spark, sf, "events"), "ts", _ts("2024-01-20"))
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value")
    )


def events_hourly_rollup(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "total_value")
    )


def events_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    k = F.expr("try_cast(get_json_object(props, '$.k') AS int)")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg(k), 4).alias("avg_k")
    )


# ---------------------------------------------------------------------------
# Host/component + group-merge (SURVEY §2.9, §2.11)
# ---------------------------------------------------------------------------


def host_component_merge(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    comp = l.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_components"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("l_linenumber")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("parts_str"),
    )
    return comp.join(o, comp.l_orderkey == o.o_orderkey).select(
        "o_orderkey", "o_orderpriority", "n_components", "sum_qty", "first_ship", "parts_str"
    )


def component_parts_policy(spark: SparkSession, sf: str) -> DataFrame:
    """componentParts merge policy (SolrUpdater.php:1928-1993): hosts from
    orders, components from lineitem; journal-formatted hosts only merge
    under merge_non_earticles, dates advance to the newest merged part."""
    o = _t(spark, sf, "orders")
    hosts = o.select(
        F.concat(F.lit("h."), F.col("o_orderkey").cast("string")).alias("_id"),
        F.lit("src").alias("source_id"),
        F.array(F.col("o_orderkey").cast("string")).alias("linking_id"),
        # orderkey%3: 0 -> Book (always merges), 1 -> Journal (merges under
        # merge_non_earticles), 2 -> eJournal (never merges under it)
        try_element_at(
            F.array(F.lit("Book"), F.lit("Journal"), F.lit("eJournal")),
            (F.pmod(F.col("o_orderkey"), F.lit(3)) + 1).cast("int"),
        ).alias("format"),
        F.col("o_orderdate").alias("date"),
    )
    l = _t(spark, sf, "lineitem")
    comps = l.select(
        F.concat(
            F.lit("c."),
            F.col("l_orderkey").cast("string"),
            F.lit("."),
            F.col("l_linenumber").cast("string"),
        ).alias("_id"),
        F.lit("src").alias("source_id"),
        F.array(F.col("l_orderkey").cast("string")).alias("host_record_id"),
        F.concat(F.lit("Part "), F.col("l_linenumber").cast("string")).alias("title"),
        F.col("l_shipdate").alias("date"),
        (F.pmod(F.col("l_linenumber"), F.lit(7)) == 0).alias("deleted"),
        F.lit(False).alias("suppressed"),
    )
    out = MG.merge_component_parts(
        hosts, comps, component_parts="merge_non_earticles"
    )
    return out.select(
        "_id",
        "format",
        "has_component_parts",
        "merged_component_count",
        F.col("date").alias("date"),
        F.array_join(
            F.transform(F.col("component_info"), lambda s: s["id"]), "|"
        ).alias("component_ids"),
    )


def group_merge_orders(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    merged = MG.merge_groups(
        o,
        group_col="o_custkey",
        id_col="o_orderkey",
        single_fields=["o_orderpriority"],
        summed_fields=["o_totalprice"],
        score=F.col("o_totalprice"),
    )
    return merged.select(
        F.col("o_orderkey").alias("id"),
        "group_size",
        F.array_join(
            F.transform(F.col("local_ids"), lambda x: x.cast("string")), ","
        ).alias("local_ids_str"),
        F.col("o_orderpriority").alias("base_priority"),
        F.round(F.col("o_totalprice"), 2).alias("total_price_sum"),
    )


# ---------------------------------------------------------------------------
# The crown operator: blocking + verification + connected components (§2.10)
# ---------------------------------------------------------------------------


def _synthetic_records(spark: SparkSession, sf: str) -> DataFrame:
    """Two overlapping 'sources' derived deterministically from part:
    source b perturbs case (title), pages +3, and per pk%10 injects the
    reference's accept/reject scenarios (year mismatch, page gap, ISSN
    conflict, ISBN override)."""
    p = _t(spark, sf, "part")
    pk = F.col("p_partkey")
    empty = F.array().cast("array<string>")
    title = F.concat(pk.cast("string"), F.lit(" "), F.col("p_name"))
    isbn = F.when(pk % 10 == 3, F.array(F.concat(F.lit("i"), pk.cast("string")))).otherwise(empty)

    def side(src: str) -> DataFrame:
        is_b = src == "b"
        return p.select(
            F.concat(F.lit(f"{src}."), pk.cast("string")).alias("_id"),
            F.lit(src).alias("source_id"),
            (F.upper(title) if is_b else title).alias("title"),
            F.concat(F.lit("author "), F.col("p_brand")).alias("author"),
            F.lit("marc").alias("format"),
            F.lit(None).cast("string").alias("access_restrictions"),
            isbn.alias("isbn"),
            empty.alias("unique_ids"),
            F.when(
                pk % 10 == 7, F.array(F.lit("2222-222x" if is_b else "1111-111x"))
            ).otherwise(empty).alias("issn"),
            (
                F.when(pk % 10 == 0, F.lit("2001")).otherwise(F.lit("2000"))
                if is_b
                else F.lit("2000")
            ).alias("publish_year"),
            (
                (F.col("p_size") + F.when(pk % 10 == 5, 20).otherwise(3))
                if is_b
                else F.col("p_size")
            ).alias("page_count"),
            F.lit(None).cast("string").alias("series_issn"),
            F.lit(None).cast("string").alias("series_numbering"),
        )

    return side("a").unionByName(side("b"))


def dedup_er(spark: SparkSession, sf: str) -> DataFrame:
    records = _synthetic_records(spark, sf)
    records = DD.with_dedup_keys(records, "title", "author", isbn_col=None)
    records = records.withColumn("isbn_keys", F.col("isbn"))
    out = DD.deduplicate(records, key_cols=["title_keys", "isbn_keys"])
    return out.where(F.col("dedup_id").isNotNull()).select("id", "dedup_id")


def dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup: dirty rows re-derived against the full key index.

    Source b records with pk%7==3 arrive dirty on top of a prior full
    assignment computed without them; the incremental result must equal the
    full recompute (dedup_er's oracle restricted to the same universe).
    """
    records = _synthetic_records(spark, sf)
    records = DD.with_dedup_keys(records, "title", "author", isbn_col=None)
    records = records.withColumn("isbn_keys", F.col("isbn"))
    dirty_cond = (F.col("source_id") == "b") & (
        F.pmod(F.regexp_extract("_id", "(\\d+)$", 1).cast("long"), F.lit(7)) == 3
    )
    prior = DD.deduplicate(
        records.where(~dirty_cond), key_cols=["title_keys", "isbn_keys"]
    )
    dirty = records.withColumn("update_needed", dirty_cond)
    out = DD.deduplicate_incremental(
        dirty, prior, key_cols=["title_keys", "isbn_keys"]
    )
    return out.where(F.col("dedup_id").isNotNull()).select("id", "dedup_id")


def component_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Component-part dedup: duplicate hosts whose sorted component lists
    pairwise-match get their aligned components grouped."""
    from pyspark.sql import Window as W

    sel = _t(spark, sf, "orders").where(F.pmod(F.col("o_orderkey"), F.lit(5)) == 0)
    # the synthetic lineitem repeats (orderkey, linenumber); derive a unique
    # deterministic per-order position instead
    pos_w = W.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    li = (
        _t(spark, sf, "lineitem")
        .join(sel.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("__pos", F.row_number().over(pos_w))
        .select(
            F.col("l_orderkey").alias("k"),
            F.lpad(F.col("__pos").cast("string"), 2, "0").alias("ln"),
            F.col("l_partkey"),
        )
    )
    hosts = sel.select(
        F.concat(F.lit("a.h"), F.col("o_orderkey").cast("string")).alias("_id"),
        F.lit("a").alias("source_id"),
        F.concat(F.lit("g"), F.col("o_orderkey").cast("string")).alias("dedup_id"),
    ).unionByName(
        sel.select(
            F.concat(F.lit("b.h"), F.col("o_orderkey").cast("string")).alias("_id"),
            F.lit("b").alias("source_id"),
            F.concat(F.lit("g"), F.col("o_orderkey").cast("string")).alias("dedup_id"),
        )
    )

    def comp_side(src: str) -> DataFrame:
        perturb = (
            (F.pmod(F.col("k"), F.lit(10)) == 5) & (F.col("ln") == "01")
            if src == "b"
            else F.lit(False)
        )
        empty = F.array().cast("array<string>")
        return li.select(
            F.format_string(f"{src}.c%sx%s", F.col("k").cast("string"), F.col("ln")).alias("_id"),
            F.lit(src).alias("source_id"),
            F.concat(F.lit(f"{src}.h"), F.col("k").cast("string")).alias("host_id"),
            F.concat(F.lit("part "), F.col("l_partkey").cast("string")).alias("title"),
            F.lit("author x").alias("author"),
            F.lit("marc").alias("format"),
            F.lit(None).cast("string").alias("access_restrictions"),
            empty.alias("isbn"),
            empty.alias("unique_ids"),
            empty.alias("issn"),
            F.when(perturb, F.lit("1999")).otherwise(F.lit("2000")).alias("publish_year"),
            F.lit(100).alias("page_count"),
            F.lit(None).cast("string").alias("series_issn"),
            F.lit(None).cast("string").alias("series_numbering"),
        )

    comps = comp_side("a").unionByName(comp_side("b"))
    out = DD.dedup_component_parts(hosts, comps)
    return out.where(F.col("dedup_id").isNotNull()).select("id", "dedup_id")


# ---------------------------------------------------------------------------
# Text analysis + scalar function library (§2.7 + training-data extensions)
# ---------------------------------------------------------------------------


def title_keys_docs(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return d.select("doc_id", K.create_title_key("text").alias("title_key"))


def id_sort_keys(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    return c.select(
        "c_custkey",
        K.create_id_sort_key("c_name").alias("name_key"),
        K.create_id_sort_key(
            F.concat(F.lit("cust"), F.col("c_custkey").cast("string"))
        ).alias("synth_key"),
    )


def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents", spread=True)
    return d.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        F.round(TX.mean_word_length("text"), 4).alias("mean_wlen"),
        F.round(TX.stopword_ratio("text"), 4).alias("stop_ratio"),
        F.round(TX.quality_score("text"), 2).alias("quality"),
    )


def lang_id_pred(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents", spread=True)
    return d.select("doc_id", "lang", TX.lang_id("text").alias("lang_pred"))


def token_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents", spread=True)
    per = d.select(
        TX.token_count("text").alias("nt"),
        TX.bpe_ish_token_count("text").alias("bt"),
        TX.fingerprint("text").alias("fp"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("long").alias("total_tokens"),
        F.sum("bt").cast("long").alias("total_bpe_tokens"),
        F.countDistinct("fp").alias("distinct_fingerprints"),
    )


# ---------------------------------------------------------------------------
# Document dedup + similarity search (training-data extensions)
# ---------------------------------------------------------------------------


def exact_substring_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022): corpus-wide duplicated token
    spans of >= 8 tokens are located via rolling md5 8-grams, merged into
    intervals per document, and removed. Every doc gains a planted
    8+-token tail shared within its doc_id%3 group, so each group's tail
    duplicates across ~1/3 of the corpus on top of any natural repeats."""
    from recordmanager_spark.operators.substring_dedup import (
        exact_substring_dedup,
    )

    d = _t(spark, sf, "documents", spread=True)
    t2 = F.concat(
        F.trim(F.col("text")),
        F.lit(" sh1 sh2 sh3 sh4 sh5 sh6 sh7 sh8 grp"),
        F.pmod(F.col("doc_id"), F.lit(3)).cast("string"),
    )
    out = exact_substring_dedup(
        d.select("doc_id", t2.alias("text")), window=8
    )
    return out.select(
        "doc_id", "n_tokens", "n_dup_grams", "removed_tokens", "kept_tokens"
    )


def exact_dup_docs(spark: SparkSession, sf: str) -> DataFrame:
    return TD.exact_duplicates(_t(spark, sf, "documents"), "doc_id", "text")


def exact_dup_incremental_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Daily-ingest exact dedup against a persisted fingerprint index:
    even doc_ids play the historical index (one (fp, min id) row per
    distinct text), odd doc_ids are the new batch — index hits resolve
    to the historical canonical, unseen texts dedup within the batch
    (operators/text_dedup.py exact_dup_incremental; the bucketed
    zero-index-exchange path is pinned in tests/test_text_dedup.py)."""
    d = _t(spark, sf, "documents")
    hist = d.where(F.pmod("doc_id", F.lit(2)) == 0)
    index = (
        hist.select(
            TD.fingerprint("text").alias("fp"),
            F.col("doc_id").alias("canonical_id"),
        )
        .groupBy("fp")
        .agg(F.min("canonical_id").alias("canonical_id"))
    )
    batch = d.where(F.pmod("doc_id", F.lit(2)) == 1)
    annotated, _new_rows = TD.exact_dup_incremental(
        batch, index, "doc_id", "text"
    )
    return annotated


def minhash_calibration_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Banding-parameter calibration: signature-agreement Jaccard
    estimate vs exact shingle Jaccard on the deterministic adjacent-id
    pair sample (operators/text_dedup.py minhash_calibration) — the
    pre-flight check that num_perm/bands/threshold fit a corpus."""
    return TD.minhash_calibration(
        _t(spark, sf, "documents"), "doc_id", "text"
    )


def ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 300)
    ids = d.select(F.col("doc_id").alias("id"))
    a, b = ids.alias("a"), ids.alias("b")
    pairs = a.crossJoin(b).where(F.col("a.id") < F.col("b.id")).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    )
    return TD.jaccard_verify(d, pairs, "doc_id", "text", threshold=0.2, shingle_n=3)


def minhash_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    # approximate LSH path, but DETERMINISTIC (md5-derived hash family):
    # the DuckDB oracle replicates the full signature->band->verify
    # pipeline; recall vs ngram_jaccard_pairs additionally in tests/
    return TD.minhash_near_duplicates(
        _t(spark, sf, "documents"), "doc_id", "text", threshold=0.2
    )


def simhash_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    return TD.simhash_near_duplicates(
        _t(spark, sf, "documents"), "doc_id", "text", max_hamming=3
    )


def line_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Line-level dedup (CCNet/RefinedWeb preprocessing): drop lines that
    appear in more than max_docs distinct documents, preserving order.
    Docs are synthesized with a shared header/footer so the operator has
    boilerplate to remove."""
    d = _t(spark, sf, "documents")
    text = F.concat_ws(
        "\n",
        F.lit("SHARED HEADER"),
        F.substring("text", 1, 60),
        F.when(
            F.pmod("doc_id", F.lit(2)) == 0, F.lit("EVEN FOOTER")
        ).otherwise(
            F.concat(F.lit("unique tail "), F.col("doc_id").cast("string"))
        ),
    )
    df = d.select("doc_id", text.alias("t"))
    out = TD.line_level_dedup(df, "doc_id", "t", max_docs=3)
    return out.select(F.col("id").alias("doc_id"), "text")


def semantic_dedup_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style cluster-then-prune over the embeddings table.

    Uses a deterministic non-iterative assignment (argmax cosine against
    the 16 lowest-id seed vectors, computed with the dim-unrolled JVM
    dot so DuckDB reproduces it bit-for-bit); the production operator
    defaults to the Lloyd-refined Arrow-side index instead
    (similarity.semantic_dedup / ivf_assign)."""
    e = _t(spark, sf, "embeddings")
    n_cells = 16
    seeds = (
        e.orderBy("vec_id")
        .limit(n_cells)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cell"),
            F.col("embedding").alias("seed_vec"),
        )
    )
    scored = e.join(F.broadcast(seeds)).withColumn(
        "sim",
        F.round(SIM.cosine_similarity(F.col("embedding"), F.col("seed_vec"), 64), 6),
    )
    best = scored.groupBy("vec_id").agg(
        F.max_by(
            F.struct(F.col("cell"), F.col("embedding")),
            F.struct(F.col("sim"), (-F.col("cell")).alias("nc")),
        ).alias("bc")
    )
    assigned = best.select(
        F.col("vec_id").alias("id"),
        F.col("bc.cell").alias("cell"),
        F.col("bc.embedding").alias("raw"),
    )
    out = SIM.semantic_dedup(e, "vec_id", "embedding", threshold=0.35,
                             assignment=assigned)
    return out.select("id", F.col("cell").cast("long").alias("cell"), "kept")


def winnow_fingerprint_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowed (rolling-hash) document fingerprints — Schleimer et al.,
    SIGMOD 2003; k=5 char-grams, window w=4, md5-hex hash family so the
    DuckDB oracle replicates the selection byte-for-byte."""
    fp = TD.winnow_fingerprints(
        _t(spark, sf, "documents", spread=True), "doc_id", "text"
    )
    return fp.select(
        F.col("id").alias("doc_id"),
        F.size("fp").alias("n_fp"),
        F.array_join("fp", "|").alias("fp"),
    )


def fuzzy_decontamination_docs(spark: SparkSession, sf: str) -> DataFrame:
    """NEAR-dup benchmark decontamination (GPT-3/Gopher-style fuzzy
    variant): every %9 doc gets a 'Q: '-prefixed paraphrase twin in the
    synthetic benchmark suite, which the exact n-gram path would need
    lucky gram alignment to catch but minhash signature agreement flags
    directly. Deterministic md5 hash family — the oracle replicates the
    full signature->band->probe->best-match pipeline."""
    from recordmanager_spark.operators import contamination as CT

    d = _t(spark, sf, "documents").select("doc_id", "text")
    bench = d.where(F.pmod("doc_id", F.lit(9)) == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.concat(F.lit("Q: "), F.col("text")).alias("btext"),
    )
    out = CT.fuzzy_decontaminate(
        d, bench, "doc_id", "text",
        bench_id_col="bench_id", bench_text_col="btext",
        est_threshold=0.5,
    )
    return out.select(
        "doc_id", "is_contaminated", "matched_bench_id", "agreement"
    )


def tfidf_keywords_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document top-5 tf-idf keywords (Sparck Jones weighting over
    the normalized token stream) — corpus topic tagging for mixture
    planning and datacards. Deterministic: score rounded to 6 decimals,
    ties broken by term."""
    from recordmanager_spark.operators import keywords as KW

    return KW.tfidf_keywords(_t(spark, sf, "documents"), "doc_id", "text", top_k=5)


def shuffle_shards_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global training shuffle: seed-keyed md5 shard +
    within-shard sort key, pure scan-stage (a true orderBy would be a
    full-corpus range shuffle at 100 TB; write_shuffled_shards pays one
    partitioning pass instead)."""
    from recordmanager_spark.operators import packing as PK

    d = _t(spark, sf, "documents").select("doc_id")
    return PK.shuffle_shards(d, "doc_id", 64, seed="42")


def paragraph_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide paragraph dedup (global first occurrence wins, docs
    reassembled with kept_ratio). Docs are synthesized with a shared
    header paragraph and an even-doc footer so boilerplate exists; the
    first-occurrence pick is a map-side-combinable groupBy(hash) +
    join-back, never a window over the hot paragraph hash."""
    d = _t(spark, sf, "documents")
    text = F.concat_ws(
        "\n\n",
        F.lit("Shared header paragraph."),
        F.substring("text", 1, 60),
        F.when(
            F.pmod("doc_id", F.lit(2)) == 0, F.lit("Even footer paragraph.")
        ).otherwise(
            F.concat(F.lit("unique tail "), F.col("doc_id").cast("string"))
        ),
    )
    df = d.select("doc_id", text.alias("t"))
    out = TD.paragraph_dedup(df, "doc_id", "t")
    return out.select(
        F.col("id").alias("doc_id"), "text",
        "n_paragraphs", "kept_paragraphs", "kept_ratio",
    )


def winnow_neardup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Pairs sharing >= 30 winnowed fingerprints (containment-style
    near-dup detection). bucket_cap=1000 is the deterministic skew guard
    (lowest ids win); the oracle models the same cap, so the comparison
    holds at every sf — at sf0.01 it never binds, at sf0.1+ it does.

    spread=True is load-bearing: winnowing emits ~1 md5 per character
    (k=5/w=4), and the posting subtree feeds THREE consumers (size
    census, under-cap anti-join, over-cap reps) that each re-execute
    the scan-stage hash chain — on the toy single-row-group parquet
    that serialized ~6x the corpus's md5 work onto one core (60 s at
    sf0.1; 10-19 s spread across the input splits a real corpus
    arrives in). An explicit posts-side repartition was measured
    SLOWER (13.6 s vs 9.4 s warm): at this fingerprint density the
    extra full shuffle of the posting rows costs more than re-running
    the column-pruned scan + hash chain per consumer."""
    return TD.winnow_near_duplicates(
        _t(spark, sf, "documents", spread=True), "doc_id", "text",
        min_shared=30, bucket_cap=1000,
    )


def knn_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 20)
    return SIM.knn_bruteforce(e, q, "vec_id", "embedding", dim=64, k=5)


def knn_ivf_full(spark: SparkSession, sf: str) -> DataFrame:
    """IVF with every cell probed == exhaustive search: checkable exactly.

    (The approximate configuration n_probe << n_cells is exercised with a
    recall bound in tests/test_ivf_preview.py.)"""
    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 20)
    return SIM.knn_ivf(
        e, q, "vec_id", "embedding", k=5, n_cells=16, n_probe=16
    )


def knn_lsh(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 20)
    return SIM.knn_lsh(e, q, "vec_id", "embedding", k=5, num_planes=6, dim=64)


def knn_pq_full(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ADC search (Jégou et al. 2011) with the
    DETERMINISTIC md5-grid codebooks, so the DuckDB oracle replicates
    encode + asymmetric-distance ranking exactly (the trained-codebook
    path is pytest-pinned for recall instead). The corpus contributes
    only its 8-byte code rows to the scoring scan — the 32x-compressed
    representation that makes embedding search feasible at 100 TB."""
    from recordmanager_spark.operators import pq as PQ

    e = _t(spark, sf, "embeddings")
    books = PQ.md5_grid_codebooks(8, 16, 8)
    codes = PQ.pq_encode(e, "embedding", books)
    q = e.where(F.col("vec_id") < 20)
    return PQ.knn_pq(codes, q, books, "vec_id", "embedding", k=5)


def knn_ivfadc_full(spark: SparkSession, sf: str) -> DataFrame:
    """IVFADC (FAISS 'IVFx,PQy'): coarse-quantize, PQ-encode the
    RESIDUAL, search by residual-ADC within probed cells. All cells
    probed + md5-grid centroids/codebooks = deterministic and
    oracle-exact (genuinely distinct from knn_pq_full: the residual
    tables differ per cell); the n_probe << n_cells pruning and trained
    quantizers are pytest-pinned for recall instead."""
    from recordmanager_spark.operators import pq as PQ

    e = _t(spark, sf, "embeddings")
    coarse = PQ.md5_grid_coarse(8, 64)
    books = PQ.md5_grid_codebooks(8, 16, 8)
    enc = PQ.ivfadc_encode(e, "embedding", coarse, books, "vec_id")
    q = e.where(F.col("vec_id") < 20)
    return PQ.knn_ivfadc(enc, q, coarse, books, "vec_id", "embedding", k=5)


def embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "embeddings")
    return SIM.exact_near_duplicates(e, "vec_id", "embedding", 0.35, dim=64)


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------
# Extractors (SURVEY §2.4): synthesize serialized records from base tables,
# run the real parse+extract path, and compare to directly-computed truth.
# ---------------------------------------------------------------------------


def marc_extract(spark: SparkSession, sf: str) -> DataFrame:
    """MARC-in-JSON round-trip: build → parse (Arrow UDF) → fieldspec exprs."""
    c = _t(spark, sf, "customer")
    year = (F.lit(1990) + F.pmod(F.col("c_custkey"), F.lit(10))).cast("string")
    pages = (F.pmod(F.col("c_custkey"), F.lit(500)) + 1).cast("string")
    f008 = F.concat(F.lit("970101s"), year, F.lit("    xxu" + " " * 17 + "eng d"))
    raw = F.format_string(
        '{"leader":"00000cam a22000004i 4500","fields":['
        '{"001":"%s"},'
        '{"008":"%s"},'
        '{"245":{"ind1":"1","ind2":"0","subfields":[{"a":"%s :"},{"b":"a test record /"}]}},'
        '{"100":{"ind1":"1","ind2":" ","subfields":[{"a":"Writer, W."}]}},'
        '{"260":{"ind1":" ","ind2":" ","subfields":[{"b":"PubHouse,"},{"c":"c%s."}]}},'
        '{"300":{"ind1":" ","ind2":" ","subfields":[{"a":"%s pages"}]}}]}',
        F.col("c_custkey").cast("string"), f008, F.col("c_name"), year, pages,
    )
    parsed = c.select(
        "c_custkey", MARC.parse_marc_in_json(raw).alias("marc")
    )
    out = MARC.to_solr_columns(
        parsed, "marc",
        only=["id", "title", "title_short", "author", "publish_year",
              "page_count", "language"],
    )
    return out.select(
        "c_custkey",
        "id",
        "title",
        "title_short",
        try_element_at("author", 1).alias("author1"),
        "publish_year",
        F.col("page_count").cast("int").alias("page_count"),
        try_element_at("language", 1).alias("lang1"),
    )


def dedup_check(spark: SparkSession, sf: str) -> DataFrame:
    """Consistency checker over a deliberately-broken assignment."""
    o = _t(spark, sf, "orders")
    records = o.select(
        F.concat(F.lit("r"), F.col("o_orderkey").cast("string")).alias("_id"),
        F.concat(F.lit("s"), F.pmod(F.col("o_orderkey"), F.lit(3)).cast("string")).alias("source_id"),
    )
    assignment = o.where(F.pmod(F.col("o_orderkey"), F.lit(7)) != 0).select(
        F.concat(F.lit("r"), F.col("o_orderkey").cast("string")).alias("id"),
        F.concat(F.lit("g"), F.col("o_custkey").cast("string")).alias("dedup_id"),
    ).unionByName(
        o.where(F.pmod(F.col("o_custkey"), F.lit(100)) == 0)
        .select(F.col("o_custkey")).distinct()
        .select(
            F.concat(F.lit("ghost"), F.col("o_custkey").cast("string")).alias("id"),
            F.concat(F.lit("g"), F.col("o_custkey").cast("string")).alias("dedup_id"),
        )
    )
    return DD.check_dedup_consistency(assignment, records)


def qdc_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Qualified-DC extraction: typed alternative titles + issn identifiers."""
    c = _t(spark, sf, "customer")
    xml = F.format_string(
        "<qdc><recordID>q%s</recordID>"
        "<title>%s : qualified</title>"
        '<title type="alternative">Alias %s</title>'
        '<identifier type="issn">1234-567%s</identifier>'
        "<creator>Author, A.</creator><type>Text</type></qdc>",
        F.col("c_custkey").cast("string"), F.col("c_name"),
        F.col("c_custkey").cast("string"),
        F.pmod(F.col("c_custkey"), F.lit(10)).cast("string"),
    )
    out = QDC.to_solr_columns(c.select("c_custkey", xml.alias("xml")), "xml")
    return out.select(
        "c_custkey",
        "id",
        "title_short",
        "title_sub",
        try_element_at("title_alt", 1).alias("alt1"),
        try_element_at("issn", 1).alias("issn1"),
    )


def lido_extract(spark: SparkSession, sf: str) -> DataFrame:
    """LIDO museum-object extraction (one ElementTree pass per record)."""
    p = _t(spark, sf, "part", spread=True)
    year = (F.lit(1800) + F.pmod(F.col("p_partkey"), F.lit(200))).cast("string")
    xml = F.format_string(
        "<lido><titleWrap><titleSet><appellationValue>%s</appellationValue></titleSet></titleWrap>"
        "<objectWorkTypeWrap><objectWorkType><term>%s</term></objectWorkType></objectWorkTypeWrap>"
        "<legalBodyName><appellationValue>Museum %s</appellationValue></legalBodyName>"
        "<eventWrap><eventSet><event>"
        "<eventType><term>Creation</term></eventType>"
        "<eventActor><actorInRole><actor><nameActorSet><appellationValue>Maker, M%s</appellationValue></nameActorSet></actor></actorInRole></eventActor>"
        "<eventDate><displayDate>%s</displayDate></eventDate>"
        "<eventMaterialsTech><materialsTech><termMaterialsTech><term>%s</term></termMaterialsTech></materialsTech></eventMaterialsTech>"
        "</event></eventSet>"
        "<eventSet><event><eventType><term>usage</term></eventType>"
        "<eventActor><actorInRole><actor><nameActorSet><appellationValue>Owner, O%s</appellationValue></nameActorSet></actor></actorInRole></eventActor>"
        "<eventPlace><displayPlace>City %s.</displayPlace></eventPlace>"
        "</event></eventSet></eventWrap>"
        '<recordWrap><recordInfoSet><recordInfoID type="local">L%s'
        "</recordInfoID></recordInfoSet></recordWrap></lido>",
        F.col("p_name"), F.col("p_type"), F.col("p_brand"),
        F.col("p_partkey").cast("string"), year, F.col("p_brand"),
        F.col("p_partkey").cast("string"),
        F.pmod(F.col("p_partkey"), F.lit(77)).cast("string"),
        F.col("p_partkey").cast("string"),
    )
    out = LIDO.to_solr_columns(p.select("p_partkey", xml.alias("xml")), "xml")
    return out.select(
        "p_partkey",
        "title",
        "format",
        "institution",
        # usage-event actor must NOT be an author (main events only)
        try_element_at("author", 1).alias("author1"),
        F.size("author").alias("n_authors"),
        try_element_at("era", 1).alias("display_date"),
        try_element_at("material", 1).alias("material1"),
        # usage-event place, trailing period stripped
        try_element_at("geographic", 1).alias("place1"),
        # getRecordInfoIDs formats "(type)value"
        try_element_at("ctrlnum", 1).alias("ctrlnum1"),
    )


def upsert_orders(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO-style last-write-wins upsert (StoreRecordTrait parity).

    Store = orders with okey%3!=0; batch = orders with okey%2==0 and a
    rewritten status. Matched rows take batch values and keep created;
    new rows stamp created=updated=ts; untouched rows pass through.
    """
    o = _t(spark, sf, "orders")
    t0 = _ts("2020-01-01")
    existing = o.where(F.pmod(F.col("o_orderkey"), F.lit(3)) != 0).select(
        F.concat(F.lit("o."), F.col("o_orderkey").cast("string")).alias("_id"),
        F.col("o_orderstatus").alias("status"),
        F.lit(t0).alias("created"),
        F.lit(t0).alias("updated"),
        F.lit(t0).alias("date"),
    )
    batch = o.where(F.pmod(F.col("o_orderkey"), F.lit(2)) == 0).select(
        F.concat(F.lit("o."), F.col("o_orderkey").cast("string")).alias("_id"),
        F.concat(F.lit("NEW-"), F.col("o_orderstatus")).alias("status"),
    )
    out = UP.upsert_records(existing, batch, _ts("2021-06-01"))
    return out.select("_id", "status", "created", "updated")


def copy_down_merged(spark: SparkSession, sf: str) -> DataFrame:
    """Copy fields from the merged doc back to every member (SolrUpdater
    :2718-2737): members inherit the group's merged topic union."""
    o = _t(spark, sf, "orders").select(
        F.concat(F.lit("o."), F.col("o_orderkey").cast("string")).alias("_id"),
        F.col("o_custkey").alias("grp"),
        F.array(F.col("o_orderpriority")).alias("topics"),
    )
    merged = MG.merge_groups(o, "grp", "_id", merged_fields=["topics"])
    members = o.withColumnRenamed("_id", "member_id")
    out = MG.copy_down(members, merged, "grp", "_id", ["topics"])
    return out.select(
        "member_id", "grp", F.array_join("topics", "|").alias("group_topics")
    )


def ead_extract(spark: SparkSession, sf: str) -> DataFrame:
    """EAD component extraction (one from_xml parse per component)."""
    s = _t(spark, sf, "supplier")
    k = F.col("s_suppkey").cast("string")
    xml = F.format_string(
        '<c01 level="file" id="c%s"><did><unittitle>%s</unittitle>'
        "<repository><corpname>Lib%s</corpname></repository>"
        "<physdesc><extent>%s boxes</extent></physdesc></did>"
        "<controlaccess><persname>Person, P%s</persname>"
        "<subject>Topic%s</subject></controlaccess>"
        "<scopecontent><p>About %s.</p><p>More.</p></scopecontent></c01>",
        k, F.col("s_name"), F.col("s_nationkey").cast("string"),
        k, k, F.pmod(F.col("s_suppkey"), F.lit(5)).cast("string"), F.col("s_name"),
    )
    df = s.select("s_suppkey", xml.alias("part_xml"))
    out = EAD.to_solr_columns(
        df, archive_id_col=None, archive_title_col=None, sequence_col=None
    )
    return out.select(
        "s_suppkey",
        "ctrlnum",
        "level",
        "title_short",
        "title_sort",
        "institution",
        "description",
        try_element_at("author", 1).alias("author1"),
        try_element_at("topic", 1).alias("topic1"),
        try_element_at("physical", 1).alias("physical1"),
    )


def marc_rich_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Relator-classified authors, facets, DOIs, OCLC numbers, call numbers
    and Dewey columns from one synthesized MARC corpus (the Record/Marc.php
    field-parity surface added beyond the basic extract)."""
    p = _t(spark, sf, "part")
    k = F.col("p_partkey")
    rel = try_element_at(
        F.array(F.lit('{"e":"aut."}'), F.lit('{"e":"edt"}'), F.lit("{}")),
        (F.pmod(k, F.lit(3)) + 1).cast("int"),
    )
    doi_part = F.when(
        F.pmod(k, F.lit(2)) == 0,
        F.concat(
            F.lit(',{"024":{"ind1":"7","ind2":" ","subfields":[{"a":"10.1/p'),
            k.cast("string"),
            F.lit('"},{"2":"doi"}]}}'),
        ),
    ).otherwise(F.lit(""))
    raw = F.concat(
        F.lit('{"leader":"00000cam a22000004i 4500","fields":['),
        F.lit('{"001":"r'), k.cast("string"), F.lit('"},'),
        F.lit('{"008":"970101s1999    xxu                 eng d"},'),
        F.lit('{"100":{"ind1":"1","ind2":" ","subfields":[{"a":"Author, A'),
        k.cast("string"), F.lit('"}]}},'),
        F.lit('{"700":{"ind1":"1","ind2":" ","subfields":[{"a":"Helper, H'),
        k.cast("string"), F.lit('"},'), rel, F.lit("]}},"),
        F.lit('{"650":{"ind1":" ","ind2":"0","subfields":[{"a":"Topic'),
        F.pmod(k, F.lit(7)).cast("string"),
        F.lit('."},{"x":"Sub'), F.pmod(k, F.lit(5)).cast("string"), F.lit('"}]}},'),
        F.lit('{"655":{"ind1":" ","ind2":"7","subfields":[{"a":"genre'),
        F.pmod(k, F.lit(4)).cast("string"), F.lit('"}]}},'),
        F.lit('{"035":{"ind1":" ","ind2":" ","subfields":[{"a":"(OCoLC)000'),
        k.cast("string"), F.lit('"}]}},'),
        F.lit('{"050":{"ind1":"0","ind2":"0","subfields":[{"a":"QA'),
        (F.pmod(k, F.lit(999)) + 1).cast("string"), F.lit('.5"},{"b":".A1"}]}},'),
        F.lit('{"082":{"ind1":"0","ind2":"0","subfields":[{"a":"'),
        F.pmod(k, F.lit(900)).cast("string"), F.lit('.5"}]}},'),
        F.lit('{"245":{"ind1":"1","ind2":"0","subfields":[{"a":"Rich '),
        k.cast("string"), F.lit('"}]}}'),
        doi_part,
        F.lit("]}"),
    )
    # rel JSON fragment must merge into the subfields array: fix the comma
    raw = F.replace(raw, F.lit(',{}]}}'), F.lit(']}}'))
    parsed = p.select("p_partkey", MARC.parse_marc_in_json(raw).alias("marc"))
    wide = MARC.to_solr_columns(
        parsed, "marc",
        only=["author", "author_role", "author2", "author2_role",
              "topic_facet", "genre_facet", "doi_str_mv", "oclc_num",
              "callnumber_subject", "callnumber_label", "dewey_hundreds",
              "illustrated"],
    )
    return wide.select(
        "p_partkey",
        F.array_join("author", "|").alias("authors"),
        F.array_join("author_role", "|").alias("author_roles"),
        F.array_join("author2", "|").alias("authors2"),
        F.array_join("author2_role", "|").alias("author2_roles"),
        F.array_join("topic_facet", "|").alias("topic_facets"),
        F.array_join("genre_facet", "|").alias("genre_facets"),
        F.array_join("doi_str_mv", "|").alias("dois"),
        F.array_join("oclc_num", "|").alias("oclc"),
        "callnumber_subject",
        "callnumber_label",
        "dewey_hundreds",
        "illustrated",
    )


def suppression_filter(spark: SparkSession, sf: str) -> DataFrame:
    """suppressOnField: value-list and /regex/ filters drop records."""
    o = _t(spark, sf, "orders")
    cond = FDSL.suppressed_condition(
        o, {"o_orderstatus": "F", "o_orderpriority": "/^1-/"}
    )
    return o.where(~cond).select("o_orderkey", "o_orderstatus", "o_orderpriority")


def work_keys_marc(spark: SparkSession, sf: str) -> DataFrame:
    """Work-id keys (UT/AT) synthesized from the same MARC round-trip."""
    c = _t(spark, sf, "customer")
    raw = F.format_string(
        '{"leader":"00000cam a22000004i 4500","fields":['
        '{"100":{"ind1":"1","ind2":" ","subfields":[{"a":"Writer, W."}]}},'
        '{"245":{"ind1":"1","ind2":"0","subfields":[{"a":"%s :"},{"b":"a test record /"}]}}]}',
        F.col("c_name"),
    )
    parsed = c.select("c_custkey", MARC.parse_marc_in_json(raw).alias("marc"))
    wk = MARC.work_keys("marc")  # string form: compiled via the SQL-text twin
    # two-step select: the key tree is analyzed ONCE as `wk`; the second
    # projection references the resolved output column (free) instead of
    # embedding the ~40 KB expression twice
    return parsed.select("c_custkey", wk.alias("wk")).select(
        "c_custkey",
        try_element_at("wk", 1).alias("work_key"),
        F.size("wk").alias("n_keys"),
    )


def dc_extract(spark: SparkSession, sf: str) -> DataFrame:
    """DC XML round-trip through the DC extractor (Record/Dc.php): one
    from_xml parse per record feeds every column. Also served as
    ``dc_extract_struct``, the name the struct engine once ran under."""
    c = _t(spark, sf, "customer")
    year = (F.lit(2000) + F.pmod(F.col("c_custkey"), F.lit(20))).cast("string")
    xml = F.format_string(
        "<dc><recordID>dc-%s</recordID>"
        "<title>%s : extracted edition</title>"
        "<creator>Maker, M.</creator>"
        "<language>engfin</language>"
        "<date>%s-01-01</date>"
        "<publisher>DCPub</publisher>"
        "<type>Text</type></dc>",
        F.col("c_custkey").cast("string"), F.col("c_name"), year,
    )
    out = DC.to_solr_columns(c.select("c_custkey", xml.alias("xml")), "xml")
    return out.select(
        "c_custkey",
        "id",
        "title_short",
        "title_sub",
        F.col("author").alias("creator"),
        F.array_join("language", ",").alias("langs"),
        F.col("publishDate").alias("publish_year"),
        F.col("format").alias("dc_type"),
    )


# oracle for dc_extract, registered under both of its query names
_DC_EXTRACT_SQL = """
            SELECT c_custkey,
                   'dc-' || CAST(c_custkey AS VARCHAR) AS id,
                   c_name AS title_short,
                   'extracted edition' AS title_sub,
                   'Maker, M.' AS creator,
                   'eng,fin' AS langs,
                   CAST(2000 + c_custkey % 20 AS VARCHAR) AS publish_year,
                   'Text' AS dc_type
            FROM customer
        """


def pipeline_end_to_end(spark: SparkSession, sf: str) -> DataFrame:
    """The §3 lifecycle in one query: OAI-PMH pages from two overlapping
    sources → harvest parse → DC extraction (one from_xml parse) → dedup
    keys → blocking + verification + connected components → group merge.
    One row per dedup group with the merged title and member ids."""
    from recordmanager_spark.sources import oaipmh as OAI

    c = _t(spark, sf, "customer")
    k = F.col("c_custkey").cast("string")

    def pages(src: str) -> DataFrame:
        page = F.format_string(
            "<OAI-PMH><ListRecords><record>"
            "<header><identifier>oai:%s:rec%s</identifier>"
            "<datestamp>2024-02-01</datestamp></header>"
            "<metadata><dc><recordID>rec%s</recordID>"
            "<title>Chronicle %s of %s</title>"
            "<creator>Chronicler, C%s.</creator>"
            "<date>%s</date><type>Text</type></dc></metadata>"
            "</record></ListRecords></OAI-PMH>",
            F.lit(src), k, k, k, F.col("c_name"),
            F.pmod(F.col("c_custkey"), F.lit(40)).cast("string"),
            (F.lit(1900) + F.pmod(F.col("c_custkey"), F.lit(100))).cast("string"),
        )
        harvested = OAI.harvest_records(
            c.select(page.alias("xml")), id_prefix=src
        )
        return harvested.select("_id", "metadata_xml").withColumn(
            "source_id", F.lit(src)
        )

    recs = pages("pa").unionByName(pages("pb"))
    extracted = DC.to_solr_columns(recs, "metadata_xml")
    empty = F.array().cast("array<string>")
    records = extracted.select(
        "_id",
        "source_id",
        "title",
        F.col("author"),
        F.lit("dc").alias("format"),
        F.lit(None).cast("string").alias("access_restrictions"),
        empty.alias("isbn"),
        empty.alias("unique_ids"),
        empty.alias("issn"),
        F.col("publishDate").alias("publish_year"),
        F.lit(None).cast("int").alias("page_count"),
        F.lit(None).cast("string").alias("series_issn"),
        F.lit(None).cast("string").alias("series_numbering"),
    )
    keyed = DD.with_dedup_keys(records, "title", "author", isbn_col=None)
    assigned = DD.deduplicate(keyed, key_cols=["title_keys"]).withColumnRenamed(
        "id", "_id"
    )
    grouped = keyed.join(assigned, "_id").where(F.col("dedup_id").isNotNull())
    merged = MG.merge_groups(
        grouped, "dedup_id", "_id", single_fields=["title", "publish_year"]
    )
    # merge_groups emits the group id under id_col ("_id")
    return merged.select(
        F.col("_id").alias("dedup_id"),
        "title",
        "publish_year",
        F.array_join("local_ids", ",").alias("members"),
        "group_size",
    )


def rdf_import_entities(spark: SparkSession, sf: str) -> DataFrame:
    """Turtle import → entity lookup table (ImportRdf equivalent)."""
    from recordmanager_spark.sources import rdf as R

    s = _t(spark, sf, "supplier")
    k = F.col("s_suppkey").cast("string")
    ttl = F.format_string(
        "@prefix skos: <http://www.w3.org/2004/02/skos/core#> .\n"
        "@prefix geo: <http://www.w3.org/2003/01/geo/wgs84_pos#> .\n"
        '<http://ent.example/%s> skos:prefLabel "%s"@en , "namn %s"@sv ;\n'
        '  skos:altLabel "alt%s"@fi ;\n'
        "  geo:lat \"6%s.5\" .\n",
        k, F.col("s_name"), k, k,
        F.pmod(F.col("s_suppkey"), F.lit(10)).cast("string"),
    )
    ents = R.import_rdf(s.select(ttl.alias("text")))
    return ents.select(
        "uri",
        F.array_join(F.array_sort("pref_labels"), "|").alias("pref"),
        F.array_join("alt_labels", "|").alias("alt"),
        "geo_lat",
    )


def genieplus_harvest_extract(spark: SparkSession, sf: str) -> DataFrame:
    """GeniePlus page JSON → line-MARC parse → 999$c + grouped 852
    injection → fieldspec reads."""
    from recordmanager_spark.sources import genieplus as GP

    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    k = F.col("c_custkey").cast("string")
    marc_text = F.concat(
        F.lit("LDR 00000cam a2200000 i 4500\\n"),
        F.lit("245 10 $a"), F.col("c_name"), F.lit(" :$bgenie record\\n"),
        F.lit("260 __ $b"), F.col("n_name"),
    )
    page = F.format_string(
        '{"total":1,"records":[{"UniqRecNum":[{"display":"G%s"}],'
        '"MarcRecord":[{"display":"%s"}],'
        '"Inventory.Location.CodeDesc":[{"display":"L%s"},{"display":"L%s"}],'
        '"Inventory.CallNumLC":[{"display":"CN%s"},{"display":"CN%s"}],'
        '"Inventory.Barcode":[{"display":"b1-%s"},{"display":"b2-%s"}]}]}',
        k, marc_text,
        F.pmod(F.col("c_custkey"), F.lit(4)).cast("string"),
        F.pmod(F.col("c_custkey"), F.lit(4)).cast("string"),
        F.pmod(F.col("c_custkey"), F.lit(6)).cast("string"),
        F.pmod(F.col("c_custkey"), F.lit(6)).cast("string"),
        k, k,
    )
    out = GP.harvest_pages(
        j.select("c_custkey", page.alias("json")),
        keep=["c_custkey"],
        source="lib",
        item_limit_per_location_group=1,
    )
    m = F.col("marc")
    return out.select(
        "c_custkey",
        "oai_id",
        "local_id",
        MARC.get_field_subfields(m, "245", ["a"]).alias("title245"),
        MARC.get_field_subfields(m, "260", ["b"]).alias("pub260"),
        MARC.get_field_subfields(m, "999", ["c"]).alias("id999"),
        F.size(F.filter(m["fields"], lambda f: f["tag"] == "852")).alias("n852"),
        MARC.get_field_subfields(m, "852", ["p"]).alias("barcode852"),
    )


def sierra_harvest_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Sierra page JSON → parsed-MARC struct (built with array exprs) →
    fieldspec reads; deletion via flag or suppressed BCODE3."""
    from recordmanager_spark.sources import sierra as SI

    s = _t(spark, sf, "supplier")
    k = F.col("s_suppkey").cast("string")
    page = F.format_string(
        '{"total":1,"entries":[{"id":"%s","deleted":%s,'
        '"locations":[{"code":"L%s","name":"Loc"}],'
        '"fixedFields":{"30":{"label":"Material","value":"m%s"},'
        '"31":{"label":"BCODE3","value":"%s"}},'
        '"varFields":[{"fieldTag":"_","content":"00000cam a2200000 i 4500"},'
        '{"fieldTag":"t","marcTag":"245","ind1":"1","ind2":"0",'
        '"subfields":[{"tag":"a","content":"%s"}]},'
        '{"fieldTag":"y","marcTag":"8","content":"ctl%s"}]}]}',
        k,
        F.when(F.pmod(F.col("s_suppkey"), F.lit(7)) == 0, F.lit("true")).otherwise(F.lit("false")),
        F.col("s_nationkey").cast("string"),
        F.pmod(F.col("s_suppkey"), F.lit(4)).cast("string"),
        F.when(F.pmod(F.col("s_suppkey"), F.lit(5)) == 0, F.lit("s")).otherwise(F.lit("ok")),
        F.col("s_name"), k,
    )
    out = SI.harvest_pages(
        s.select("s_suppkey", page.alias("json")),
        keep=["s_suppkey"],
        source="lib",
        suppressed_bib_code3=["s"],
    )
    m = F.col("marc")
    return out.select(
        "s_suppkey",
        "oai_id",
        "local_id",
        "deleted",
        MARC.get_field_subfields(m, "245", ["a"]).alias("title245"),
        MARC.get_field_subfields(m, "852", ["b"]).alias("loc852"),
        MARC.get_field_subfields(m, "977", ["a"]).alias("mat977"),
        MARC.control_value(m, "008").alias("ctl008"),
    )


def oai_harvest_parse(spark: SparkSession, sf: str) -> DataFrame:
    """OAI-PMH ListRecords parsing: header/status/sets + first metadata
    child, id regex rewrite, per-page resumption token."""
    from recordmanager_spark.sources import oaipmh as OAI

    c = _t(spark, sf, "customer")
    k = F.col("c_custkey").cast("string")
    page = F.format_string(
        '<OAI-PMH><ListRecords>'
        "<record><header><identifier>oai:ex.org:rec-%s</identifier>"
        "<datestamp>2024-01-0%s</datestamp><setSpec>books</setSpec>"
        "<setSpec>new</setSpec></header>"
        "<metadata><dc><recordID>rec-%s</recordID><title>%s</title></dc></metadata>"
        "</record>"
        '<record><header status="deleted"><identifier>oai:ex.org:gone-%s</identifier>'
        "<datestamp>2024-01-09</datestamp></header></record>"
        "<resumptionToken>tok%s</resumptionToken>"
        "</ListRecords></OAI-PMH>",
        k, (F.pmod(F.col("c_custkey"), F.lit(9)) + 1).cast("string"),
        k, F.col("c_name"), k, k,
    )
    pages = c.select("c_custkey", page.alias("xml"))
    out = OAI.harvest_records(
        pages,
        keep=["c_custkey"],
        id_search="^oai:ex\\.org:(.*)$",
        id_replace="\\1",
        id_prefix="src",
    )
    out = out.join(
        pages.select(
            "c_custkey", OAI.resumption_token(F.col("xml")).alias("token")
        ),
        "c_custkey",
    )
    return out.select(
        "c_custkey",
        "oai_id",
        "_id",
        "datestamp",
        "deleted",
        F.array_join("set_specs", ",").alias("sets"),
        F.coalesce("metadata_xml", F.lit("")).alias("payload"),
        "token",
    )


def renormalize_marc(spark: SparkSession, sf: str) -> DataFrame:
    """records renormalize — the immediate pass
    (Command/Records/Renormalize.php:105-240 via
    operators/renormalize.py): suppression -> deleted, host ids, dedup
    candidate keys with the changed-keys update_needed flag, dedup-group
    retention, linking ids. Synthetic MARC-in-JSON records from orders;
    the oracle states the reference's decision table directly from the
    generating arithmetic. One scan-stage pass (parse + exprs +
    mapInPandas serialize), zero shuffles."""
    from recordmanager_spark.config import parse_datasources_ini
    from recordmanager_spark.operators.renormalize import (
        renormalize_records,
    )

    ini = """
[ka]
format = marc
dedup = true
suppressOnField[format] = "hidden|secret"

[kb]
format = marc
"""
    sources = parse_datasources_ini(ini)
    o = _t(spark, sf, "orders", spread=True).where(
        F.col("o_orderkey") % 4 == 0
    )
    k = F.col("o_orderkey")
    host_part = F.when(
        k % 7 == 0,
        F.format_string(
            ',{"773":{"ind1":"0","ind2":" ","subfields":[{"w":"h%s"}]}}',
            (k / 7).cast("long").cast("string"),
        ),
    ).otherwise(F.lit(""))
    data = F.format_string(
        '{"leader":"L","fields":[{"001":"r%s"},'
        '{"100":{"ind1":"1","ind2":" ","subfields":[{"a":"Auth%s, First"}]}},'
        '{"245":{"ind1":"1","ind2":"0","subfields":[{"a":"Title%s"}]}},'
        '{"977":{"ind1":" ","ind2":" ","subfields":[{"a":"%s"}]}}%s]}',
        k.cast("string"),
        (k % 20).cast("string"),
        (k % 50).cast("string"),
        F.when(k % 11 == 0, F.lit("hidden")).otherwise(F.lit("book")),
        host_part,
    )
    records = o.select(
        F.concat(F.lit("s"), k.cast("string")).alias("_id"),
        F.when(k % 2 == 0, F.lit("ka")).otherwise(F.lit("kb")).alias(
            "source_id"
        ),
        F.lit("marc").alias("format"),
        data.alias("original_data"),
        F.lit(False).alias("deleted"),
        F.when(
            k % 5 == 0,
            F.array(
                F.concat(
                    F.lit("title"),
                    (k % 50).cast("string"),
                    F.lit("auth"),
                    (k % 20).cast("string"),
                )
            ),
        ).alias("title_keys"),
        F.when(k % 3 == 0, F.concat(F.lit("g"), k.cast("string"))).alias(
            "dedup_id"
        ),
    )
    out = renormalize_records(records, sources)
    return out.select(
        "_id",
        "deleted",
        F.coalesce(
            try_element_at(F.col("title_keys"), F.lit(1)), F.lit("")
        ).alias("title_key"),
        "update_needed",
        F.coalesce("dedup_id", F.lit("")).alias("dedup_id"),
        F.coalesce(
            try_element_at(F.col("host_record_id"), F.lit(1)), F.lit("")
        ).alias("host_id"),
        try_element_at(F.col("linking_id"), F.lit(1)).alias("link_id"),
        (F.col("normalized_data") == "").alias("roundtrip_clean"),
    )


def marc_holdings_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Koha item-to-holdings normalize: duplicate 952 keys merge into one
    holding whose availability is the OR over member items."""
    from recordmanager_spark.extractors import marc_normalize as MN

    o = _t(spark, sf, "orders")
    k = F.col("o_orderkey")
    status7 = F.when(k % 5 != 0, F.lit("0")).otherwise(F.lit("2"))
    raw = F.format_string(
        '{"leader":"00000cam a22000004i 4500","fields":['
        '{"001":"h%s"},'
        '{"952":{"ind1":" ","ind2":" ","subfields":[{"b":"BR%s"},{"o":"CN%s"},{"7":"%s"}]}},'
        '{"952":{"ind1":" ","ind2":" ","subfields":[{"b":"BR%s"},{"o":"CN%s"},{"7":"2"}]}}]}',
        k.cast("string"),
        (k % 3).cast("string"), (k % 7).cast("string"), status7,
        (k % 3).cast("string"), (k % 7).cast("string"),
    )
    parsed = o.select("o_orderkey", MARC.parse_marc_in_json(raw).alias("marc"))
    norm = parsed.select(
        "o_orderkey",
        MN.normalize_marc(F.col("marc"), koha=True).alias("marc"),
    )
    h = norm.select(
        "o_orderkey",
        F.explode(MN.holdings_summary(F.col("marc"))).alias("h"),
    )
    return h.select(
        "o_orderkey",
        F.col("h.branch").alias("branch"),
        F.col("h.callnumber").alias("callnumber"),
        F.col("h.available").alias("available"),
    )


def ese_extract(spark: SparkSession, sf: str) -> DataFrame:
    """ESE extraction: space-split languages, ISBN digit-run capture,
    last-match-wins url across identifiers then descriptions."""
    c = _t(spark, sf, "customer")
    k = F.col("c_custkey").cast("string")
    xml = F.format_string(
        "<ese><recordID>e%s</recordID>"
        "<title>%s : europeana</title>"
        "<creator>Maker, M.</creator><contributor>Helper, H.</contributor>"
        "<language>eng fin</language>"
        "<date>ca. %s</date><date>%s</date>"
        "<identifier>ISBN 0-306-40615-2</identifier>"
        "<identifier>http://first/%s</identifier>"
        "<description>https://last/%s</description>"
        "<type>IMAGE</type><subject>Maps</subject></ese>",
        k, F.col("c_name"),
        (F.lit(1900) + F.pmod(F.col("c_custkey"), F.lit(100))).cast("string"),
        (F.lit(1900) + F.pmod(F.col("c_custkey"), F.lit(100))).cast("string"),
        k, k,
    )
    out = ESE.to_solr_columns(c.select("c_custkey", xml.alias("xml")), "xml")
    return out.select(
        "c_custkey",
        "id",
        "title_short",
        "title_sub",
        F.array_join("language", ",").alias("langs"),
        F.col("publishDate").alias("publish_year"),
        try_element_at("isbn", 1).alias("isbn1"),
        "url",
    )


def doaj_extract(spark: SparkSession, sf: str) -> DataFrame:
    """DOAJ extraction: first-per-block authors/keywords, 3-char language
    chunks, year prefix of publicationDate, oai-id fallback for the id."""
    s = _t(spark, sf, "supplier")
    k = F.col("s_suppkey").cast("string")
    rid = F.when(
        F.pmod(F.col("s_suppkey"), F.lit(2)) == 0, F.lit("")
    ).otherwise(F.concat(F.lit("d"), k))
    xml = F.format_string(
        "<record><recordID>%s</recordID>"
        "<title>%s : an article /</title>"
        "<authors><author><name>First, F%s</name></author>"
        "<author><name>Second, S.</name></author></authors>"
        "<keywords><keyword>Kw%s</keyword><keyword>Other</keyword></keywords>"
        "<language>engswe</language>"
        "<publisher>OA Press.</publisher>"
        "<publicationDate>%s-04-01</publicationDate>"
        "<fullTextUrl>https://doaj.example/%s</fullTextUrl></record>",
        rid, F.col("s_name"), k,
        F.pmod(F.col("s_suppkey"), F.lit(7)).cast("string"),
        (F.lit(1990) + F.pmod(F.col("s_suppkey"), F.lit(30))).cast("string"),
        k,
    )
    df = s.select(
        "s_suppkey",
        xml.alias("xml"),
        F.concat(F.lit("oai:doaj.example:art-"), k).alias("oai_id"),
    )
    out = DOAJ.to_solr_columns(df, "xml", oai_id_col="oai_id")
    return out.select(
        "s_suppkey",
        "id",
        "title_short",
        "title_sub",
        try_element_at("author", 1).alias("author1"),
        F.size("author").alias("n_authors"),
        try_element_at("topic", 1).alias("topic1"),
        F.array_join("language", ",").alias("langs"),
        F.col("publishDate").alias("publish_year"),
        "url",
    )


def lrmi_extract(spark: SparkSession, sf: str) -> DataFrame:
    """LRMI extraction: unsplit title, person/organization authors,
    about/thing topics with http-normalized enrichment ids."""
    c = _t(spark, sf, "customer")
    k = F.col("c_custkey").cast("string")
    xml = F.format_string(
        "<lrmi><recordID>lr%s</recordID>"
        "<title>%s : learning unit</title>"
        "<author><person><name>Teacher, T%s</name></person>"
        "<person><name>Aide, A.</name></person>"
        "<organization><legalName>Edu Org</legalName></organization></author>"
        "%s"
        "<inLanguage>sv</inLanguage>"
        "<about><thing><name>Topic %s</name>"
        "<identifier>https://example.org/t/%s</identifier></thing></about>"
        "<about><thing><notname>skipped</notname></thing></about></lrmi>",
        k, F.col("c_name"), k,
        # every 3rd record has NO <material> element: languages must
        # still flow from the top-level inLanguage (the r3 null-concat
        # bug this fixture previously masked)
        F.when(
            F.pmod(F.col("c_custkey"), F.lit(3)) == 0, F.lit("")
        ).otherwise(F.lit("<material><inLanguage>FI</inLanguage></material>")),
        F.pmod(F.col("c_custkey"), F.lit(9)).cast("string"), k,
    )
    out = LRMI.to_solr_columns(c.select("c_custkey", xml.alias("xml")), "xml")
    return out.select(
        "c_custkey",
        "id",
        "title",
        "title_short",
        F.array_join("language", ",").alias("langs"),
        try_element_at("author", 1).alias("author1"),
        F.size("author2").alias("n_author2"),
        try_element_at("author_corporate", 1).alias("corp1"),
        try_element_at("topic", 1).alias("topic1"),
        try_element_at("topic_ids", 1).alias("topic_id1"),
    )


def marc_authority_extract(spark: SparkSession, sf: str) -> DataFrame:
    """MARC authority extraction: personal vs corporate headings, use_for
    variants, RDA dates/places, occupations."""
    c = _t(spark, sf, "customer")
    k = F.col("c_custkey").cast("string")
    personal = F.format_string(
        '{"leader":"00000nz  a2200000n  4500","fields":['
        '{"035":{"ind1":" ","ind2":" ","subfields":[{"a":"auth%s"}]}},'
        '{"100":{"ind1":"1","ind2":" ","subfields":[{"a":"Person, P%s."}]}},'
        '{"400":{"ind1":"1","ind2":" ","subfields":[{"a":"Alias, A%s."}]}},'
        '{"046":{"ind1":" ","ind2":" ","subfields":[{"f":"%s"},{"g":"%s"}]}},'
        '{"370":{"ind1":" ","ind2":" ","subfields":[{"a":"Turku"},{"c":"Finland"}]}},'
        '{"372":{"ind1":" ","ind2":" ","subfields":[{"a":"Music"},{"a":"Opera"}]}},'
        '{"374":{"ind1":" ","ind2":" ","subfields":[{"a":"Composer"},{"0":"occ%s"}]}}]}',
        k, k, k,
        (F.lit(1820) + F.pmod(F.col("c_custkey"), F.lit(100))).cast("string"),
        (F.lit(1880) + F.pmod(F.col("c_custkey"), F.lit(100))).cast("string"),
        k,
    )
    corporate = F.format_string(
        '{"leader":"00000nz  a2200000n  4500","fields":['
        '{"035":{"ind1":" ","ind2":" ","subfields":[{"a":"auth%s"}]}},'
        '{"110":{"ind1":"2","ind2":" ","subfields":[{"a":"Corp %s."},{"b":"Unit B."}]}},'
        '{"410":{"ind1":"2","ind2":" ","subfields":[{"a":"CorpAlias %s"}]}}]}',
        k, F.col("c_name"), k,
    )
    raw = F.when(F.pmod(F.col("c_custkey"), F.lit(4)) == 0, corporate).otherwise(personal)
    parsed = c.select("c_custkey", MARC.parse_marc_in_json(raw).alias("marc"))
    out = MAUTH.to_solr_columns(parsed, "marc")
    return out.select(
        "c_custkey",
        "id",
        "heading",
        "record_type",
        try_element_at("use_for", 1).alias("use_for1"),
        "birth_date",
        "death_date",
        "birth_place",
        "country",
        F.array_join("field_of_activity", ",").alias("activities"),
        try_element_at("occupation", 1).alias("occupation1"),
        try_element_at("occupation_ids", 1).alias("occ_id1"),
    )


def forward_authority_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Forward authority extraction: typed agent dates (51/52), combined
    affiliation:position occupation, envelope main-element addressing."""
    s = _t(spark, sf, "supplier")
    k = F.col("s_suppkey").cast("string")
    xml = F.format_string(
        "<envelope><CAgent>"
        "<AgentIdentifier><IDTypeName>elonet_henkilo</IDTypeName>"
        "<IDValue>%s</IDValue></AgentIdentifier>"
        "<CAgentName><PersonName>%s</PersonName></CAgentName>"
        "<AgentDate><AgentDateEventType>51</AgentDateEventType>"
        "<DateText>%s-02-11</DateText><LocationName>Oulu</LocationName></AgentDate>"
        "<AgentDate><AgentDateEventType>52</AgentDateEventType>"
        "<DateText>%s</DateText><LocationName>Lahti</LocationName></AgentDate>"
        "<AgentPlace><LocationName>Kuopio</LocationName></AgentPlace>"
        "<ProfessionalAffiliation><Affiliation>Studio %s</Affiliation>"
        "<ProfessionalPosition>Director</ProfessionalPosition></ProfessionalAffiliation>"
        "<RecordSource><SourceName>Filmography</SourceName></RecordSource>"
        "</CAgent></envelope>",
        k, F.col("s_name"),
        (F.lit(1900) + F.pmod(F.col("s_suppkey"), F.lit(80))).cast("string"),
        (F.lit(1950) + F.pmod(F.col("s_suppkey"), F.lit(70))).cast("string"),
        F.pmod(F.col("s_suppkey"), F.lit(5)).cast("string"),
    )
    out = FAUTH.to_solr_columns(
        s.select("s_suppkey", xml.alias("xml")), "xml", source="fwa"
    )
    return out.select(
        "s_suppkey",
        "id",
        "heading",
        "record_type",
        "birth_date",
        "death_date",
        "birth_place",
        "death_place",
        try_element_at("related_place", 1).alias("related_place1"),
        try_element_at("occupation", 1).alias("occupation1"),
        F.array_join("allfields", "|").alias("allfields_joined"),
    )


def ead3_split_extract(spark: SparkSession, sf: str) -> DataFrame:
    """EAD3 end-to-end: finding aid → splitter flatMap (archdesc + @level
    descendants, id/parent/archive propagation) → extractor columns."""
    s = _t(spark, sf, "supplier")
    k = F.col("s_suppkey").cast("string")
    xml = F.format_string(
        '<ead><archdesc level="fonds">'
        '<did><unitid identifier="A%s">A%s</unitid><unittitle>Fonds %s</unittitle></did>'
        "<dsc>"
        '<c01 level="series"><did><unitid identifier="S%s">S%s</unitid>'
        "<unittitle>Series One</unittitle></did>"
        '<c02 level="file"><did><unitid identifier="F%s">F%s</unitid>'
        "<unittitle>File %s</unittitle>"
        "<repository><corpname><part>Archive %s</part></corpname></repository></did>"
        '<controlaccess><persname><part>Person P%s</part></persname>'
        '<subject identifier="sub%s"><part>Topic%s</part></subject></controlaccess>'
        "<scopecontent><p>About it.</p></scopecontent>"
        "</c02></c01></dsc></archdesc></ead>",
        k, k, F.col("s_name"), k, k, k, k, F.col("s_name"),
        F.col("s_nationkey").cast("string"), k, k,
        F.pmod(F.col("s_suppkey"), F.lit(6)).cast("string"),
    )
    parts = SP.explode_parts(
        s.select("s_suppkey", xml.alias("xml")),
        SP.split_ead3(F.col("xml")),
        ["s_suppkey"],
    )
    out = EAD3.to_solr_columns(parts)
    return out.select(
        "s_suppkey",
        "part_id",
        "level",
        "sequence",
        "format",
        "title",
        "title_sub",
        "series",
        "hierarchy_parent_id",
        "hierarchy_top_title",
        try_element_at("topic", 1).alias("topic1"),
        try_element_at("author", 1).alias("author1"),
        "institution",
    )


# ---------------------------------------------------------------------------
# Mapping + field rules (SURVEY §2.8)
# ---------------------------------------------------------------------------


def value_mapping_orders(spark: SparkSession, sf: str) -> DataFrame:
    """FieldMapper normal-type mapping with multi-value + default sentinels."""
    m = MP.parse_map_file(
        "status_map",
        "O[] = Open\nO[] = Ongoing\nF = Finished\n##default = Other",
    )
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.array_join(
            MP.map_array_column(F.array(F.col("o_orderstatus")), m), "|"
        ).alias("status_mapped"),
    )


def regexp_mapping_orders(spark: SparkSession, sf: str) -> DataFrame:
    """FieldMapper regexp-type mapping: first match wins, backrefs, default."""
    m = MP.Mapping(
        name="prio_map",
        type="regexp",
        entries={
            "^1-URGENT$": ["P1"],
            "^([0-9])-(.*)$": ["P$1 ($2)"],
            "##default": ["UNKNOWN"],
        },
    )
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.array_join(
            MP.map_array_column(F.array(F.col("o_orderpriority")), m), "|"
        ).alias("prio_mapped"),
    )


def field_rules_orders(spark: SparkSession, sf: str) -> DataFrame:
    """copy/move/delete field rules over array columns (SolrUpdater rules)."""
    o = _t(spark, sf, "orders").select(
        "o_orderkey",
        F.array(F.col("o_orderstatus"), F.col("o_orderpriority")).alias("flags"),
    )
    out = MP.apply_field_rules(
        o,
        [
            'copy flags prio match="/^[0-9]-/"',
            'move flags status match="/^[A-Z]$/"',
            'copy flags rest default="NONE"',
        ],
    )
    return out.select(
        "o_orderkey",
        F.array_join("flags", "|").alias("flags"),
        F.array_join("prio", "|").alias("prio"),
        F.array_join("status", "|").alias("status"),
        F.array_join("rest", "|").alias("rest"),
    )


# ---------------------------------------------------------------------------
# Normalization pipeline (SURVEY §2.6)
# ---------------------------------------------------------------------------


def hierarchical_facets_geo(spark: SparkSession, sf: str) -> DataFrame:
    """Institution prefix + hierarchical facet encoding over region/nation."""
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    df = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "n_nationkey",
            F.array(F.concat_ws("/", "r_name", "n_name")).alias("building"),
        )
    )
    df = NZ.add_institution_to_building(df, "INST")
    return df.select(
        "n_nationkey",
        F.array_join(
            NZ.hierarchical_facet(F.col("building")), "|"
        ).alias("building_facets"),
    )


def robots_gate_docs(spark: SparkSession, sf: str) -> DataFrame:
    """RFC 9309 robots.txt gate (functions/robots.py) through the REAL
    parse + group-selection + most-specific-match path: doc URLs derive
    from (doc_id % 5 hosts, doc_id % 7 paths), the per-host robots.txt
    texts exercise $-anchored allows beating shorter disallows, an
    allow-override under a blanket disallow, agent-specific group
    selection (nlbot vs *), a no-matching-group host, and a host with
    no robots row at all. The oracle states the decision table the
    rules IMPLY — the engine must reach it by actually parsing."""
    from recordmanager_spark.functions.robots import robots_gate

    robots = spark.createDataFrame(
        [
            ("h0.example",
             "User-agent: *\nDisallow: /p1\nAllow: /p1/x$\n"
             "Disallow: /p2\n"),
            ("h1.example",
             "User-agent: *\nDisallow: /\nAllow: /p3\n"),
            ("h2.example",
             "User-agent: nlbot\nDisallow: /p4\n\n"
             "User-agent: *\nDisallow: /\n"),
            ("h3.example", "User-agent: otherbot\nDisallow: /\n"),
        ],
        "host string, robots_txt string",
    )
    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://h"),
            F.pmod("doc_id", F.lit(5)).cast("string"),
            F.lit(".example/p"),
            F.pmod("doc_id", F.lit(7)).cast("string"),
            F.lit("/x"),
        ).alias("url"),
    )
    return robots_gate(d, robots, url_col="url", agent="nlbot/1.0").select(
        "doc_id", "url", F.col("robots_allowed").alias("allowed")
    )


def indexed_timestamps_orders(spark: SparkSession, sf: str) -> DataFrame:
    """first_indexed/last_indexed ISO-8601 Zulu stamping
    (SolrUpdater.php:2360-2367 formatTimestamp) — created maps to
    first_indexed, the index-run date to last_indexed; a fixed +3-day
    offset stands in for the run date so the oracle is deterministic.
    Scan-stage date_format projections, zero shuffles."""
    o = _t(spark, sf, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").alias("created"),
        (F.col("o_orderdate") + F.expr("INTERVAL 3 DAYS")).alias("date"),
    )
    return NZ.indexed_timestamps(o, "created", "date").select(
        "o_orderkey", "first_indexed", "last_indexed"
    )


def allfields_customer(spark: SparkSession, sf: str) -> DataFrame:
    """allfields synthesis with exclusions + case-insensitive unique."""
    c = _t(spark, sf, "customer").select(
        F.col("c_custkey").cast("string").alias("id"),  # excluded
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.array(F.lower(F.col("c_mktsegment")), F.col("c_nationkey").cast("string")).alias("tags"),
    )
    return c.select(
        F.col("id").cast("long").alias("c_custkey"),
        F.array_join(NZ.allfields(c), "|").alias("allfields"),
    )


def normalize_fields_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Length trim + non-indexed removal + per-field dedup over documents."""
    d = _t(spark, sf, "documents", spread=True).select(
        "doc_id",
        F.col("text").alias("title"),
        F.array(F.col("lang"), F.col("source"), F.lit("n/a")).alias("tags"),
    )
    out = NZ.normalize_fields(d, limits={"title": 50}, non_indexed=["n/a"])
    return out.select("doc_id", "title", F.array_join("tags", "|").alias("tags"))


# ---------------------------------------------------------------------------
# Call-number + geo scalar functions (SURVEY §2.7)
# ---------------------------------------------------------------------------


def callnumber_sort_keys(spark: SparkSession, sf: str) -> DataFrame:
    """LC sort keys for synthesized call numbers via the parser UDF."""
    p = _t(spark, sf, "part")
    digits = (F.pmod(F.col("p_partkey"), F.lit(999)) + 1).cast("string")
    cutter = (F.pmod(F.col("p_partkey"), F.lit(89)) + 10).cast("string")
    callnum = F.format_string("QA%s.5 .A%s", digits, cutter)
    return p.select(
        "p_partkey",
        CN.lc_sort_key(callnum).alias("lc_key"),
        CN.lc_is_valid(callnum).alias("lc_valid"),
    )


def geo_centers(spark: SparkSession, sf: str) -> DataFrame:
    """DMS → decimal and WKT ENVELOPE/POINT centers as JVM expressions."""
    s = _t(spark, sf, "supplier")
    deg = F.lpad((F.pmod(F.col("s_suppkey"), F.lit(180))).cast("string"), 3, "0")
    mm = F.lpad((F.pmod(F.col("s_suppkey"), F.lit(60))).cast("string"), 2, "0")
    ss = F.lpad((F.pmod(F.col("s_suppkey") * 7, F.lit(60))).cast("string"), 2, "0")
    dms = F.concat(F.lit("E"), deg, mm, ss)
    x1 = (F.pmod(F.col("s_suppkey"), F.lit(100))).cast("double")
    env = F.format_string(
        "ENVELOPE(%s, %s, %s, %s)",
        x1.cast("string"), (x1 + 10).cast("string"),
        (x1 + 50).cast("string"), (x1 + 20).cast("string"),
    )
    point = F.format_string(
        "POINT(%s %s)", x1.cast("string"), (x1 + 5).cast("string")
    )
    return s.select(
        "s_suppkey",
        F.round(GEO.coordinate_to_decimal(dms), 6).alias("dms_decimal"),
        GEO.center_coordinates(env).alias("env_center"),
        GEO.geo_display_field(env).alias("env_display"),
        GEO.center_coordinates(point).alias("point_center"),
    )


# ---------------------------------------------------------------------------
# Enrichment joins (SURVEY §2.9)
# ---------------------------------------------------------------------------


def enrich_topics_nation(spark: SparkSession, sf: str) -> DataFrame:
    """Offline linked-data enrichment: topic URIs → vocabulary labels."""
    n = _t(spark, sf, "nation")
    entities = n.select(
        F.concat(F.lit("urn:nation:"), F.col("n_nationkey").cast("string")).alias("uri"),
        F.array(F.col("n_name")).alias("pref_labels"),
        F.array(F.concat(F.lit("N"), F.col("n_nationkey").cast("string"))).alias("alt_labels"),
    )
    c = _t(spark, sf, "customer").select(
        "c_custkey",
        F.array(
            F.concat(F.lit("urn:nation:"), F.col("c_nationkey").cast("string")),
            F.lit("urn:nation:missing"),
        ).alias("topic_uris"),
    )
    out = EN.enrich_with_entities(c, entities, "c_custkey", "topic_uris")
    return out.select("c_custkey", F.array_join("topic_add", "|").alias("topic_add"))


def link_resolution_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """MARC \\$w-style link resolution: match → stored id, miss → prefixed."""
    targets = (
        _t(spark, sf, "part")
        .where(F.pmod(F.col("p_partkey"), F.lit(2)) == 0)
        .select(
            F.lit("src").alias("source_id"),
            F.col("p_partkey").cast("string").alias("linking_id"),
            F.concat(F.lit("src."), F.col("p_partkey").cast("string"), F.lit("#r")).alias("_id"),
        )
    )
    recs = _t(spark, sf, "lineitem").select(
        F.lit("src").alias("source_id"),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("l_partkey").cast("string").alias("w"),
    )
    out = EN.resolve_links(recs, targets, "w")
    return out.select("l_orderkey", "l_linenumber", "w", "resolved_id")


def geocode_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Geocode-cache join + WKT center derivation."""
    n = _t(spark, sf, "nation")
    cache = n.where(F.pmod(F.col("n_nationkey"), F.lit(2)) == 0).select(
        F.col("n_name").alias("location"),
        F.format_string(
            "ENVELOPE(%s, %s, %s, %s)",
            F.col("n_nationkey").cast("double").cast("string"),
            (F.col("n_nationkey") + 10).cast("double").cast("string"),
            (F.col("n_nationkey") + 40).cast("double").cast("string"),
            (F.col("n_nationkey") + 20).cast("double").cast("string"),
        ).alias("wkt"),
    )
    recs = _t(spark, sf, "customer").join(
        F.broadcast(n.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", F.col("n_name").alias("loc"))
    out = EN.geocode_locations(recs, cache, "loc")
    return out.select("c_custkey", "loc", "location_geo", "center_coords")


# ---------------------------------------------------------------------------
# Splitter flatMap (SURVEY §2.5)
# ---------------------------------------------------------------------------


def xml_split_customers(spark: SparkSession, sf: str) -> DataFrame:
    """recordXPath-style split: one XML doc → N component rows via explode."""
    c = _t(spark, sf, "customer")
    xml = F.format_string(
        "<records><record><id>a%s</id></record>"
        "<record><id>b%s</id></record></records>",
        F.col("c_custkey").cast("string"),
        F.col("c_custkey").cast("string"),
    )
    split = SP.make_tag_splitter("record", "id")
    out = SP.explode_parts(
        c.select("c_custkey", xml.alias("xml")),
        split(F.col("xml")),
        keep=["c_custkey"],
    )
    return out.select("c_custkey", "part_id", "sequence")


def xslt_normalize_orders(spark: SparkSession, sf: str) -> DataFrame:
    """XSLT normalization through the stdlib mini engine
    (XslTransformation.php:142-172; stylesheet shape = helmet.xsl's
    format→type mapping). XML synthesized per order row, transformed by
    an Arrow-batched pandas UDF with the stylesheet compiled once per
    executor, result fields projected back out via regexp — the whole
    path is a zero-shuffle scan-stage projection."""
    from recordmanager_spark.sources.transforms import apply_xslt

    xsl = """<xsl:stylesheet version="1.0"
      xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/|@*|node()"><xsl:copy>
        <xsl:apply-templates select="@*|node()"/></xsl:copy></xsl:template>
      <xsl:template match="format">
        <xsl:choose>
          <xsl:when test=".='1'"><type>Book</type></xsl:when>
          <xsl:when test=".='2'"><type>Map</type></xsl:when>
          <xsl:when test=".='3'"><type>SoundDisc</type></xsl:when>
          <xsl:when test=".='4'"><type>SoundCassette</type></xsl:when>
          <xsl:when test=".='5'"><type>Journal</type></xsl:when>
          <xsl:otherwise><type>Other</type></xsl:otherwise>
        </xsl:choose>
      </xsl:template>
    </xsl:stylesheet>"""
    o = _t(spark, sf, "orders")
    xml = F.concat(
        F.lit("<record><format>"),
        F.substring(F.col("o_orderpriority"), 1, 1),
        F.lit("</format><note>"),
        F.col("o_orderstatus"),
        F.lit("</note></record>"),
    )
    df = apply_xslt(
        o.select("o_orderkey", xml.alias("xml")), "xml", xsl,
        out_column="res",
    )
    return df.select(
        "o_orderkey",
        F.regexp_extract("res", "<type>([^<]*)</type>", 1).alias("type_mapped"),
        F.regexp_extract("res", "<note>([^<]*)</note>", 1).alias("note"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (training-data extension)
# ---------------------------------------------------------------------------


def multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Binary payload → mapInPandas feature extraction (Arrow streaming).

    Payloads are documents' text bytes; the deterministic fake feature is
    the first 8 sha256 digest bytes / 255, so the oracle can recompute the
    whole vector from hex — the Spark-side batch plumbing is the real path.
    """
    d = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("id"), F.col("text").cast("binary").alias("payload")
    )
    feats = MM.extract_features(d)
    return feats.select(
        "id",
        "sha256",
        "byte_len",
        F.array_join(
            F.transform(
                "feature", lambda x: F.round(x * 255).cast("int").cast("string")
            ),
            "|",
        ).alias("feature_bytes"),
    )


# ---------------------------------------------------------------------------
# Sinks / preview / streaming (SURVEY §2.2, §2.14) — oracle-checked
# ---------------------------------------------------------------------------


def solr_batch_sizes(spark: SparkSession, sf: str) -> DataFrame:
    """Solr bulk-updater batching (SolrUpdater.php:2944-3053): update
    requests bound at max_update_records, delete id-lists at 1000/batch.

    Runs the real writers to scratch dirs and reads the produced files
    back: the observable contract is the multiset of per-file row counts.
    """
    import tempfile

    from recordmanager_spark.sinks import solr as SOLR

    o = _t(spark, sf, "orders").select(
        F.concat(F.lit("o."), F.col("o_orderkey").cast("string")).alias("id"),
        F.col("o_orderstatus").alias("status"),
    )
    updates = o.where(F.col("status") != "F").coalesce(1)
    deletes = o.where(F.col("status") == "F").coalesce(1)
    base = tempfile.mkdtemp(prefix="rm_solr_")
    # the two writers are independent jobs — submit them concurrently so
    # the second backfills the first's single-task coalesce(1) tail
    # (guide §2.6); ~4.4 s sequential -> ~max(2.5, 2.0) s.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fu = pool.submit(
            SOLR.write_update_batches,
            updates,
            f"{base}/updates",
            max_update_records=500,
        )
        fd = pool.submit(
            SOLR.write_delete_batches, deletes, "id", f"{base}/deletes", batch=300
        )
        fu.result()
        fd.result()

    def sizes(path: str, kind: str) -> DataFrame:
        # explicit schema: schemaless read.json runs a full inference
        # pass over the files at CONSTRUCTION (~1.3 s build, r13
        # profile); only the per-file row count is observed, and the
        # writers emit JSON-lines with a known id field, so a 1-column
        # schema reads the same rows without the inference job.
        read = spark.read.schema("id string").json(path).select(
            F.input_file_name().alias("f")
        )
        return (
            read.groupBy("f")
            .count()
            .select(F.lit(kind).alias("kind"), F.col("count").alias("batch_rows"))
        )

    out = sizes(f"{base}/updates", "update").unionByName(
        sizes(f"{base}/deletes", "delete")
    )
    # rank within kind by size: the multiset of batch sizes is deterministic
    # ([cap]*k + [remainder]); file names are not
    from pyspark.sql import Window as W

    w = W.partitionBy("kind").orderBy(F.col("batch_rows").desc())
    return out.select(
        "kind", "batch_rows", F.row_number().over(w).alias("batch_rank")
    )


def export_filtered_orders(spark: SparkSession, sf: str) -> DataFrame:
    """File export with XPath record predicate + constant field injection
    (Export.php:281-565; XPath predicate row §2.3)."""
    from recordmanager_spark.sinks import export as EX

    o = _t(spark, sf, "orders")
    items = F.concat(
        F.lit("<rec><status>"),
        F.col("o_orderstatus"),
        F.lit("</status>"),
        F.repeat(F.lit("<item/>"), F.pmod(F.col("o_orderkey"), F.lit(4)).cast("int")),
        F.lit("</rec>"),
    )
    df = o.select(
        F.col("o_orderkey"),
        F.col("o_orderstatus").alias("status"),
        items.alias("original_data"),
    )
    out = EX.export_records(
        df,
        id_col="o_orderkey",
        xml_col="original_data",
        xpath_predicate="count(//item) >= 2",
        inject_fields={"export_batch": "b1"},
    )
    return out.select("o_orderkey", "status", "export_batch")


def preview_marc_record(spark: SparkSession, sf: str) -> DataFrame:
    """PreviewCreator: ONE pasted record through update-index's
    record-to-document path; six keys of the preview map come back as a
    1-row DataFrame. sf-independent by design — the preview record is the
    user's paste, not corpus data."""
    from recordmanager_spark import config as CF
    from recordmanager_spark.operators.preview import preview_record

    raw = (
        '{"leader":"00000cam a22000004i 4500","fields":['
        '{"001":"prev1"},'
        '{"008":"970101s1999    xxu                 eng d"},'
        '{"245":{"ind1":"1","ind2":"0","subfields":'
        '[{"a":"Preview title :"},{"b":"the subtitle /"}]}},'
        '{"100":{"ind1":"1","ind2":" ","subfields":[{"a":"Previewer, P."}]}},'
        '{"260":{"ind1":" ","ind2":" ","subfields":[{"b":"Press,"},{"c":"c1999."}]}}'
        "]}"
    )
    # no source: the record keeps its own id
    no_source = CF.CompiledSource(
        CF.SourceConfig(id="", format="marc"), [], {}
    )
    d = preview_record(spark, raw, no_source)
    return spark.createDataFrame(
        [
            (
                d.get("id"),
                d.get("title"),
                d.get("title_short"),
                d.get("author", [""])[0] if d.get("author") else "",
                d.get("publish_year"),
                "|".join(d.get("format", [])),
            )
        ],
        "id string, title string, title_short string, author1 string,"
        " publish_year string, format string",
    )


def linemarc_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Line-based (tagged) MARC parsing (GeniePlus/Alma line format):
    LDR/control/data lines with $-delimited subfields through the same
    fieldspec engine as binary MARC."""
    from recordmanager_spark.extractors import linemarc as LM

    c = _t(spark, sf, "customer")
    k = F.col("c_custkey").cast("string")
    raw = F.concat(
        F.lit("LDR 00000cam a22000004i 4500\n"),
        F.lit("001 L"), k, F.lit("\n"),
        F.lit("008 '970101s1999    xxu                 eng d'\n"),
        F.lit("100 1_ $aWriter, W"), k, F.lit("\n"),
        F.lit("245 10 $a"), F.col("c_name"), F.lit(" :$ba line test\n"),
        F.lit("260 __ $bLinePress,$cc1999.\n"),
    )
    parsed = c.select("c_custkey", LM.parse_line_based_marc(raw).alias("marc"))
    wide = MARC.to_solr_columns(
        parsed, "marc",
        only=["id", "title_short", "title_sub", "author", "publish_year"],
    )
    return wide.select(
        "c_custkey",
        F.col("id").alias("rec_id"),
        "title_short",
        "title_sub",
        try_element_at(F.col("author"), 1).alias("author1"),
        "publish_year",
    )


def ead_split_extract(spark: SparkSession, sf: str) -> DataFrame:
    """EAD-2002 splitter end-to-end: finding aid → component flatMap with
    archive id/title + title inheritance → extractor columns."""
    s = _t(spark, sf, "supplier")
    k = F.col("s_suppkey").cast("string")
    xml = F.format_string(
        '<ead><eadheader><eadid identifier="E%s">E%s</eadid>'
        "<filedesc><titlestmt><titleproper>FA %s</titleproper></titlestmt></filedesc>"
        "</eadheader>"
        '<archdesc level="fonds"><did><unitid>A%s</unitid>'
        "<unittitle>Fonds %s</unittitle></did>"
        "<dsc>"
        '<c01 level="series"><did><unitid>S%s</unitid>'
        "<unittitle>Series One</unittitle></did>"
        '<c02 level="file"><did><unitid>F%s</unitid>'
        "<unittitle>File %s</unittitle></did>"
        "</c02></c01></dsc></archdesc></ead>",
        k, k, F.col("s_name"), k, F.col("s_name"), k, k, F.col("s_name"),
    )
    parts = SP.explode_parts(
        s.select("s_suppkey", xml.alias("xml")),
        SP.split_ead(F.col("xml")),
        ["s_suppkey"],
    )
    return parts.select(
        "s_suppkey",
        "part_id",
        "archive_id",
        "archive_title",
        "sequence",
        "level",
        F.array_join("inherited_titles", "|").alias("inherited"),
    )


def music_enrich_orders(spark: SparkSession, sf: str) -> DataFrame:
    """MusicBrainz-id enrichment (MusicBrainzEnrichment.php:78-140):
    type-mapped music ids with title guards, qualified publisher numbers
    beating bare fallbacks — offline broadcast-join form."""
    o = _t(spark, sf, "orders")
    k = F.col("o_orderkey")
    recs = o.select(
        F.concat(F.lit("o."), k.cast("string")).alias("_id"),
        F.concat(F.lit("Album "), F.pmod(k, F.lit(50)).cast("string")).alias(
            "title_short"
        ),
        F.array(
            F.struct(
                try_element_at(
                    F.array(F.lit("isrc"), F.lit("upc"), F.lit("musicb"), F.lit("other")),
                    (F.pmod(k, F.lit(4)) + 1).cast("int"),
                ).alias("type"),
                F.concat(F.lit("V"), F.pmod(k, F.lit(100)).cast("string")).alias("value"),
            )
        ).alias("music_ids"),
        F.array(
            F.struct(
                F.when(F.pmod(k, F.lit(2)) == 0, F.lit("LBL")).alias("source"),
                F.concat(F.lit("N"), F.pmod(k, F.lit(30)).cast("string")).alias("value"),
            )
        ).alias("publisher_numbers"),
    )
    n = _t(spark, sf, "nation")
    mb = (
        n.select(
            F.lit("isrc").alias("id_type"),
            F.concat(F.lit("V"), F.col("n_nationkey").cast("string")).alias("id_value"),
            F.lit(None).cast("string").alias("title"),
            F.concat(F.lit("mb-isrc-"), F.col("n_nationkey").cast("string")).alias("mbid"),
        )
        .unionByName(
            n.select(
                F.lit("catno").alias("id_type"),
                F.concat(F.lit("LBL N"), F.col("n_nationkey").cast("string")).alias("id_value"),
                F.lit(None).cast("string").alias("title"),
                F.concat(F.lit("mb-q-"), F.col("n_nationkey").cast("string")).alias("mbid"),
            )
        )
        .unionByName(
            n.select(
                F.lit("catno").alias("id_type"),
                F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("id_value"),
                F.concat(F.lit("Album "), F.col("n_nationkey").cast("string")).alias("title"),
                F.concat(F.lit("mb-f-"), F.col("n_nationkey").cast("string")).alias("mbid"),
            )
        )
    )
    out = EN.enrich_music_ids(recs, mb)
    return out.select("_id", F.array_join("mbid_str_mv", "|").alias("mbids"))


def authority_enrich_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Authority enrichment (AuthEnrichment.php:113+): author-id →
    authority variant names via broadcast lookup."""
    n = _t(spark, sf, "nation")
    auth = n.select(
        F.concat(F.lit("auth:"), F.col("n_nationkey").cast("string")).alias("auth_id"),
        F.array(
            F.col("n_name"),
            F.concat(F.lit("Variant "), F.col("n_nationkey").cast("string")),
        ).alias("variant_names"),
    )
    c = _t(spark, sf, "customer").select(
        "c_custkey",
        F.when(
            F.pmod(F.col("c_custkey"), F.lit(4)) != 0,
            F.concat(F.lit("auth:"), F.col("c_nationkey").cast("string")),
        ).alias("author_id"),
    )
    out = EN.enrich_authors(c, auth, "author_id")
    return out.select(
        "c_custkey", F.array_join("author_variant", "|").alias("variants")
    )


def scalar_functions_grid(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar tail of the MetadataUtils library: validateDate,
    author last-first conversion, relator + language normalization,
    extractYear — one grid over customer-derived values."""
    c = _t(spark, sf, "customer")
    k = F.col("c_custkey")
    date_str = F.when(
        F.pmod(k, F.lit(3)) == 0,
        F.concat(
            F.lit("19"), F.lpad(F.pmod(k, F.lit(99)).cast("string"), 2, "0"),
            F.lit("-"), F.lpad((F.pmod(k, F.lit(12)) + 1).cast("string"), 2, "0"),
            F.lit("-"), F.lpad((F.pmod(k, F.lit(28)) + 1).cast("string"), 2, "0"),
        ),
    ).when(F.pmod(k, F.lit(3)) == 1, F.lit("1999-13-45")).otherwise(
        F.lit("not a date")
    )
    author = F.concat(F.lit("First M "), F.col("c_name"))
    rel = F.concat(F.lit(" Aut. "), F.pmod(k, F.lit(5)).cast("string"))
    year_src = F.concat(F.lit("c"), (F.lit(1900) + F.pmod(k, F.lit(120))).cast("string"), F.lit("."))
    return c.select(
        "c_custkey",
        K.validate_date(date_str).alias("date_epoch"),
        K.convert_author_last_first(author).alias("last_first"),
        K.normalize_relator(rel).alias("relator"),
        K.extract_year(year_src).alias("year"),
    )


def scalar_functions_grid2(spark: SparkSession, sf: str) -> DataFrame:
    """Second scalar grid: validateISO8601Date, formatTimestamp, ucFirst,
    stripControlCharacters, trimXMLWhitespace, arrayTrim
    (MetadataUtils.php:785-985)."""
    c = _t(spark, sf, "customer")
    k = F.col("c_custkey")
    m3 = F.pmod(k, F.lit(3))
    iso_str = F.when(
        m3 == 0,
        F.concat(
            (F.lit(1900) + F.pmod(k, F.lit(99))).cast("string"),
            F.lit("-"), F.lpad((F.pmod(k, F.lit(12)) + 1).cast("string"), 2, "0"),
            F.lit("-"), F.lpad((F.pmod(k, F.lit(28)) + 1).cast("string"), 2, "0"),
            F.lit("T"), F.lpad(F.pmod(k, F.lit(24)).cast("string"), 2, "0"),
            F.lit(":"), F.lpad(F.pmod(k, F.lit(60)).cast("string"), 2, "0"),
            F.lit(":"), F.lpad(F.pmod(k, F.lit(60)).cast("string"), 2, "0"),
            F.lit("Z"),
        ),
    ).when(m3 == 1, F.lit("2021-02-30T10:00:00Z")).otherwise(F.lit("nope"))
    xml = F.concat(
        F.lit("<a> <b>"), F.col("c_name"), F.lit("</b> </a>")
    )
    arr = F.array(
        F.concat(F.lit(" "), F.col("c_mktsegment"), F.lit("\t")),
        F.lit("  x  "),
    )
    return c.select(
        "c_custkey",
        K.validate_iso8601_date(iso_str).alias("iso_epoch"),
        K.format_timestamp(k * 977).alias("ts_str"),
        K.uc_first(F.lower(F.col("c_name"))).alias("ucf"),
        K.strip_control_characters(
            F.concat(F.lit("a\tb\n"), F.col("c_mktsegment"), F.lit("\rz"))
        ).alias("scc"),
        K.trim_xml_whitespace(xml).alias("xml_trim"),
        F.array_join(K.array_trim(arr), "|").alias("trimmed"),
    )


def copy_down_parent(spark: SparkSession, sf: str) -> DataFrame:
    """Copy-down from the PARENT/host record (SolrUpdater hierarchy copy):
    components inherit configured fields from their host."""
    o = _t(spark, sf, "orders")
    hosts = o.select(
        F.col("o_orderkey").alias("grp"),
        F.col("o_orderkey").alias("_id"),
        F.array(F.col("o_orderpriority")).alias("topics"),
    )
    l = _t(spark, sf, "lineitem").where(F.col("l_linenumber") <= 2)
    comps = l.select(
        F.col("l_orderkey").alias("grp"),
        F.concat(
            F.col("l_orderkey").cast("string"), F.lit("."),
            F.col("l_linenumber").cast("string"),
        ).alias("member_id"),
        F.array().cast("array<string>").alias("topics"),
    )
    out = MG.copy_down(comps, hosts, "grp", "_id", ["topics"])
    return out.select(
        "member_id", "grp", F.array_join("topics", "|").alias("topics")
    )


def fulltext_trait_docs(spark: SparkSession, sf: str) -> DataFrame:
    """FullTextTrait offline path (FullTextTrait.php:88-127): xpath-
    designated text blocks joined, end-of-line hyphenation undone."""
    d = _t(spark, sf, "documents")
    body = F.concat(
        F.lit("<article><body><p>"),
        F.substring(F.col("text"), 1, 40),
        F.lit(" frag-\n mented</p><p>tail "),
        F.col("lang"),
        F.lit("</p></body></article>"),
    )
    out = d.select(
        "doc_id",
        DOAJ.fulltext_column(body, ["//body/p/text()"]).alias("fulltext"),
    )
    return out


def geocode_simplify_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Nominatim retry-with-simplification (NominatimGeocoder.php:262-345):
    three ladder shapes (direct hit, comma-segment drop, trailing flat-
    number strip) plus a blocklist, against an offline cache."""
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    cache = n.select(
        F.col("n_name").alias("location"),
        F.concat(
            F.lit("ENVELOPE("), F.col("n_nationkey").cast("double").cast("string"),
            F.lit(", "), (F.col("n_nationkey") + 10).cast("double").cast("string"),
            F.lit(", 50.0, 40.0)"),
        ).alias("wkt"),
    ).unionByName(
        n.select(
            F.concat(F.col("n_name"), F.lit(", suburb")).alias("location"),
            F.concat(
                F.lit("ENVELOPE("), (F.col("n_nationkey") + 100).cast("double").cast("string"),
                F.lit(", "), (F.col("n_nationkey") + 110).cast("double").cast("string"),
                F.lit(", 50.0, 40.0)"),
            ).alias("wkt"),
        )
    ).unionByName(
        n.select(
            F.concat(F.lit("Street "), F.col("n_name"), F.lit(" 5")).alias("location"),
            F.concat(
                F.lit("ENVELOPE("), (F.col("n_nationkey") + 200).cast("double").cast("string"),
                F.lit(", "), (F.col("n_nationkey") + 210).cast("double").cast("string"),
                F.lit(", 50.0, 40.0)"),
            ).alias("wkt"),
        )
    )
    recs = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey",
        F.when(F.pmod(F.col("c_custkey"), F.lit(3)) == 0, F.col("n_name"))
        .when(
            F.pmod(F.col("c_custkey"), F.lit(3)) == 1,
            F.concat(F.col("n_name"), F.lit(", suburb, extra")),
        )
        .otherwise(F.concat(F.lit("Street "), F.col("n_name"), F.lit(" 5 b 12")))
        .alias("loc"),
    )
    out = EN.geocode_with_simplification(
        recs, cache, "loc", id_col="c_custkey", blocklist=("FRANC",)
    )
    return out.select(
        "c_custkey", "loc", "geocoded_term", "simplify_level",
        F.coalesce("location_geo", F.lit("")).alias("location_geo"),
        "center_coords",
    )


def sfx_harvest_files(spark: SparkSession, sf: str) -> DataFrame:
    """SFX dated-dump harvest (Harvest/Sfx.php + HTTPFiles.php): filename
    date-window selection, namespace strip, 090$a id, 001 injection,
    leader/06 modified flag."""
    from recordmanager_spark.sources import sfx as SFX

    p = _t(spark, sf, "part")
    pk = F.col("p_partkey")
    day = F.lpad((F.pmod(pk, F.lit(28)) + 1).cast("string"), 2, "0")
    hour = F.lpad(F.pmod(pk, F.lit(24)).cast("string"), 2, "0")
    fname = F.concat(
        F.when(F.pmod(pk, F.lit(13)) == 0, F.lit("other_")).otherwise(
            F.lit("sfx_dump_")
        ),
        F.lit("202403"), day, hour, F.lit("0000"),
        F.when(F.pmod(pk, F.lit(17)) == 0, F.lit(".tmp")).otherwise(F.lit(".xml")),
    )
    status = F.when(F.pmod(pk, F.lit(9)) == 0, F.lit("-")).otherwise(F.lit("c"))
    xml = F.format_string(
        '<record><leader>00000%sam a22000004i 4500</leader>'
        '<datafield tag="090" ind1=" " ind2=" ">'
        "<subfield code=\"a\"> SFX%s </subfield></datafield>"
        "<datafield tag=\"245\" ind1=\"1\" ind2=\"0\">"
        "<subfield code=\"a\">%s</subfield></datafield></record>",
        status, pk.cast("string"), F.col("p_name"),
    )
    listing = p.select(fname.alias("filename"), xml.alias("record_xml"))
    picked = SFX.select_harvest_files(
        listing,
        file_prefix="sfx_dump_",
        file_suffix=".xml",
        start_date="2024-03-05 00:00:00",
        end_date="2024-03-20 23:59:59",
    )
    out = SFX.sfx_normalize_records(picked, source_id="mysfx")
    return out.select(
        "filename",
        F.col("file_date").cast("string").alias("file_date"),
        "record_id",
        "oai_id",
        "modified",
        F.col("record_xml").contains('<controlfield tag="001">').alias("has_001"),
    )


def oai_provider_serve(spark: SparkSession, sf: str) -> DataFrame:
    """OAI-PMH provider dissemination (OaiPmhProvider.php:800-905): one
    ListRecords page with config-driven sets, oai_dc dissemination, and
    deleted-record headers."""
    from recordmanager_spark.operators.range_query import range_page
    from recordmanager_spark.sinks import oai_provider as OAI

    c = _t(spark, sf, "customer")
    recs = c.select(
        F.concat(F.lit("c."), F.col("c_custkey").cast("string")).alias("_id"),
        F.when(
            F.pmod(F.col("c_custkey"), F.lit(5)) == 0,
            F.concat(F.lit("oai:ext:"), F.col("c_custkey").cast("string")),
        ).otherwise(F.lit("")).alias("oai_id"),
        F.col("c_name").alias("title"),
        F.concat(F.lit("Author & "), F.col("c_mktsegment")).alias("author"),
        F.col("c_mktsegment").alias("segment"),
        (F.pmod(F.col("c_custkey"), F.lit(11)) == 0).alias("deleted"),
        F.to_timestamp(
            F.concat(
                F.lit("2024-01-01 00:"),
                F.lpad(F.pmod(F.col("c_custkey"), F.lit(60)).cast("string"), 2, "0"),
                F.lit(":00"),
            )
        ).alias("updated"),
    )
    sets = {
        "building": {"name": "Building segment", "segment": "BUILDING"},
        "auto": {"segment": "AUTOMOBILE"},
    }
    page = range_page(
        recs, "updated", "_id", offset=100, limit=200
    )
    out = OAI.disseminate(
        page, "oai_dc", sets=sets, id_prefix="oai:repo:"
    )
    return out.select("_id", "oai_header", "oai_metadata")


def once_per_group_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Exactly-once per dedup group per run (tracking collection,
    SolrUpdater.php:946-960) — surviving group keys."""
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("grp"))
    return INC.once_per_group(o, "grp").select("grp")


def dirty_hosts_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Dirty-flag propagation to hosts (StoreRecordTrait.php:232-286):
    hosts whose components changed become update-needed."""
    p = _t(spark, sf, "part")
    records = p.select(
        F.lit("src").alias("source_id"),
        F.concat(F.lit("p."), F.col("p_partkey").cast("string")).alias("_id"),
        F.array(F.col("p_partkey").cast("string")).alias("linking_id"),
    )
    l = _t(spark, sf, "lineitem")
    changed = l.where(
        (F.col("l_linenumber") == 1) & (F.pmod(F.col("l_orderkey"), F.lit(7)) == 0)
    ).select(
        F.lit("src").alias("source_id"),
        F.array(F.col("l_partkey").cast("string")).alias("host_record_id"),
    )
    return INC.propagate_dirty_to_hosts(records, changed).select(
        F.col("_id").alias("dirty_host_id")
    )


def streaming_hourly_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Structured-Streaming wrapper (§2.14): the same hourly rollup the
    batch query does, via readStream → watermark → windowed agg → memory
    sink, drained with availableNow (bounded backfill run)."""
    import os
    import tempfile
    import uuid

    from recordmanager_spark.streaming.pipeline import streaming_events

    path = f"{sf}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = spark.read.parquet(path)
    # the file streaming source wants a directory; events.parquet is one
    # file — expose it through a scratch dir via symlink
    d = tempfile.mkdtemp(prefix="rm_stream_ev_")
    os.symlink(os.path.abspath(path), os.path.join(d, "events.parquet"))
    stream = spark.readStream.schema(static.schema).parquet(d)
    if isinstance(static.schema["ts"].dataType, T.LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ltz")
        )
    else:
        # parquet TIMESTAMP(NANOS) surfaces as TIMESTAMP_NTZ on sessions
        # without the nanosAsLong legacy flag; withWatermark requires LTZ
        # (session tz is UTC, so the reinterpretation is value-preserving)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    agg = streaming_events(stream, "1 hour").select(
        F.col("win.start").alias("hour_start"),
        "event_type",
        "n",
        F.round("total_value", 4).alias("total_value"),
    )
    name = "stream_rollup_" + uuid.uuid4().hex[:10]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stateful_skip_unchanged(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful skip-unchanged (§2.14, StoreRecordTrait.php:193-229): a
    record is emitted only when its content hash is new or changed —
    applyInPandasWithState keyed by id, two micro-batches (initial load,
    then a partial re-delivery with some rows changed)."""
    import tempfile
    import uuid

    from recordmanager_spark.streaming.pipeline import dedup_new_or_changed

    o = _t(spark, sf, "orders").where(F.col("o_orderkey") <= 2000)
    batch1 = o.select(
        F.col("o_orderkey").cast("string").alias("_id"),
        F.col("o_orderstatus").alias("content_hash"),
    )
    # second delivery: every 3rd record changes status, the rest unchanged
    batch2 = batch1.withColumn(
        "content_hash",
        F.when(
            F.pmod(F.col("_id").cast("long"), F.lit(3)) == 0,
            F.concat(F.lit("NEW-"), F.col("content_hash")),
        ).otherwise(F.col("content_hash")),
    )
    base = tempfile.mkdtemp(prefix="rm_state_")
    schema = "_id string, content_hash string"
    rows = []
    # two availableNow drains over one checkpoint: state survives between
    # runs, so the second delivery sees each id's last hash — deterministic
    # regardless of file listing/mtime order. foreachBatch (not a memory
    # sink) because only it supports restart from a checkpoint.
    for i, batch in enumerate((batch1, batch2)):
        batch.coalesce(1).write.mode("append").json(f"{base}/in")
        stream = spark.readStream.schema(schema).json(f"{base}/in")
        out = dedup_new_or_changed(stream)

        def gather(bdf, _epoch, run=i):
            rows.extend(
                (r["_id"], r["content_hash"], bool(r["is_new"]), run)
                for r in bdf.collect()
            )

        q = (
            out.writeStream.foreachBatch(gather)
            .outputMode("update")
            .queryName("stream_state_" + uuid.uuid4().hex[:10])
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.createDataFrame(
        rows, "_id string, content_hash string, is_new boolean, run int"
    )


def near_dup_prune_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup cluster pruning: chain edges link every doc to its
    doc_id%40 group (transitive clusters the CC must resolve), quality
    is the deterministic unit-hash score, and exactly one best-quality
    representative per cluster survives (ties to smallest id)."""
    from recordmanager_spark.operators import packing as PK
    from recordmanager_spark.operators.text_dedup import near_dup_prune

    d = _t(spark, sf, "documents").select("doc_id")
    docs = d.withColumn(
        "q", F.round(PK.perplexity_score_stub(F.col("doc_id"), salt="ndp"), 9)
    )
    pairs = (
        d.where(F.col("doc_id") >= 40)
        .select(
            (F.col("doc_id") - 40).alias("id_a"),
            F.col("doc_id").alias("id_b"),
        )
    )
    out = near_dup_prune(docs, pairs, id_col="doc_id", quality_col="q")
    return out.select("doc_id", "q", "cluster_id", "keep")


def quality_buckets_docs(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet head/middle/tail bucketing per language: per-group score
    percentiles (the deterministic stand-in scorer — a salted md5 unit
    hash standing where a real LM perplexity would plug in), thresholds
    broadcast back, scan-stage assignment. Pins ``approach="exact"`` so
    DuckDB's quantile_cont reproduces the thresholds bit-for-bit; the
    operator's production default is the bounded-memory
    ``approach="approx"`` sketch (see quality_buckets docstring)."""
    from recordmanager_spark.operators import packing as PK

    d = _t(spark, sf, "documents").select("doc_id", "lang")
    scored = d.withColumn(
        "score", F.round(PK.perplexity_score_stub(F.col("doc_id")), 9)
    )
    out = PK.quality_buckets(scored, "score", by="lang", approach="exact")
    return out.select("doc_id", "lang", "score", "bucket")


def chunk_documents_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping character-window chunking (RAG/pretraining prep):
    chunk 120 chars, overlap 24 (stride 96); map-side explode, zero
    shuffles; every document yields >=1 chunk."""
    from recordmanager_spark.operators import packing as PK

    d = _t(spark, sf, "documents").select("doc_id", "text")
    out = PK.chunk_documents(d, chunk_chars=120, overlap=24)
    return out.select("doc_id", "chunk_idx", "chunk_start", "chunk_text")


def bpe_tokenize_docs(spark: SparkSession, sf: str) -> DataFrame:
    """BPE subword encoding with a pinned merge table (8 merges,
    applied in training order as global left-to-right pair rewrites —
    the JVM replace-chain encoder). The TRAINER is driver-side over the
    bounded word-frequency table (tests/oracles.py, pytest-pinned on
    the Sennrich example); this contract query pins the ENCODER, whose
    rewrite semantics the DuckDB oracle reproduces char-for-char."""
    from recordmanager_spark.functions import bpe as B

    e = B.END_OF_WORD
    merges = [
        ("e", e), ("t", "h"), ("th", "e" + e), ("i", "n"),
        ("a", "n"), ("o", "n"), ("e", "r"), ("s", e),
    ]
    d = _t(spark, sf, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    toks = B.bpe_encode("text", merges)
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe"),
        F.array_join(F.slice(toks, 1, 12), "|").alias("bpe_head"),
    )


def config_pipeline_orders(spark: SparkSession, sf: str) -> DataFrame:
    """datasources.ini-driven pipeline tail: a source config parsed from
    the reference's ini dialect (fieldRules copy + format mapping with
    ##default + extraFields + institution-in-building over hierarchical
    building facets), applied in SolrUpdater's processing order."""
    from recordmanager_spark import config as CF

    ini = """
[lib]
institution = Inst
format = marc
fieldRules[] = "copy format genre"
format_mapping = formats.map
extraFields[] = sector_str_mv:library
"""
    maps = {
        "formats.map": "1-URGENT = Urgent\n2-HIGH = High\n##default = Routine\n"
    }
    compiled = CF.compile_source(
        CF.parse_datasources_ini(ini)["lib"], maps.__getitem__
    )
    o = _t(spark, sf, "orders")
    wide = o.select(
        F.col("o_orderkey").cast("string").alias("id"),
        F.array(F.trim("o_orderpriority")).alias("format"),
        F.array(
            F.when(F.pmod("o_orderkey", F.lit(2)) == 0, F.lit("MAIN")).otherwise(
                F.lit("SUB")
            )
        ).alias("building"),
    )
    out = CF.apply_source_pipeline(
        wide, compiled, hierarchical_facets=["building"]
    )
    return out.select(
        "id",
        try_element_at("genre", 1).alias("genre1"),
        try_element_at("format", 1).alias("format1"),
        F.array_join("building", "|").alias("building_str"),
        try_element_at("sector_str_mv", 1).alias("sector"),
    )


def streaming_content_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exact content dedup: first-seen fingerprint wins across
    two micro-batches over one checkpoint. Batch 1 delivers docs with
    duplicated fingerprints (doc_id%100 buckets); batch 2 re-delivers a
    subset plus new content — only genuinely unseen fingerprints emit in
    run 1."""
    import tempfile
    import uuid

    from recordmanager_spark.streaming.pipeline import streaming_first_seen

    d = _t(spark, sf, "documents").where(F.col("doc_id") < 300)
    batch1 = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("fp"), F.pmod(F.col("doc_id"), F.lit(100)).cast("string")
        ).alias("fingerprint"),
    )
    # second delivery: the first 50 re-arrive (suppressed), plus brand-new
    # contents fp-new-<k> for doc_id in [300, 350)
    batch2 = batch1.where(F.col("doc_id").cast("long") < 50).unionByName(
        _t(spark, sf, "documents")
        .where((F.col("doc_id") >= 300) & (F.col("doc_id") < 350))
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.concat(F.lit("fp-new-"), F.col("doc_id").cast("string")).alias(
                "fingerprint"
            ),
        )
    )
    base = tempfile.mkdtemp(prefix="rm_sdedup_")
    schema = "doc_id string, fingerprint string"
    rows = []
    for i, batch in enumerate((batch1, batch2)):
        batch.coalesce(1).write.mode("append").json(f"{base}/in")
        stream = spark.readStream.schema(schema).json(f"{base}/in")
        out = streaming_first_seen(stream)

        def gather(bdf, _epoch, run=i):
            rows.extend(
                (r["fingerprint"], r["doc_id"], r["n_seen"], run)
                for r in bdf.collect()
            )

        q = (
            out.writeStream.foreachBatch(gather)
            .outputMode("update")
            .queryName("stream_sdedup_" + uuid.uuid4().hex[:10])
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.createDataFrame(
        rows, "fingerprint string, doc_id string, n_seen long, run int"
    )


def streaming_neardup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming minhash/LSH near-dup: batch 1 registers 40 corpus docs
    as bucket representatives (zero emissions), batch 2 delivers
    near-duplicates (same text + a short tail, ids shifted +40) that
    must match their originals via checkpointed state. Deterministic:
    the whole md5/XOR family is engine-stable, so the emission set is
    fixed — and SQL-replayable: the DuckDB oracle replays the bucket
    state machine sequentially with a recursive CTE (one document per
    bucket per step, arrival order, capped representative lists), so
    batch-1 self-matches and register-order effects reproduce exactly
    at any sf (parity-pinned at sf0.001 by
    tests/test_streaming_oracle_parity.py)."""
    import tempfile
    import uuid

    from recordmanager_spark.streaming.pipeline import (
        streaming_minhash_neardup,
    )

    d = _t(spark, sf, "documents").where(F.col("doc_id") < 40)
    batch1 = d.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    batch2 = d.select(
        (F.col("doc_id") + 40).cast("string").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tiny appended tail")).alias("text"),
    )
    base = tempfile.mkdtemp(prefix="rm_sneardup_")
    schema = "doc_id string, text string"
    rows = []
    for i, batch in enumerate((batch1, batch2)):
        batch.coalesce(1).write.mode("append").json(f"{base}/in")
        stream = spark.readStream.schema(schema).json(f"{base}/in")
        out = streaming_minhash_neardup(stream, threshold=0.5)

        def gather(bdf, _epoch, run=i):
            rows.extend(
                (
                    r["doc_id"],
                    r["band"],
                    r["matched_id"],
                    r["est_jaccard"],
                    run,
                )
                for r in bdf.collect()
            )

        q = (
            out.writeStream.foreachBatch(gather)
            .outputMode("update")
            .queryName("stream_sneardup_" + uuid.uuid4().hex[:10])
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.createDataFrame(
        rows,
        "doc_id string, band int, matched_id string, "
        "est_jaccard double, run int",
    )


def gopher_repetition_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher repetition-filter battery (Rae et al. 2021 §A.1.1):
    duplicate-line fractions over a synthesized multi-line rendering (the
    corpus docs are single-line) + top/duplicated n-gram character
    fractions over the raw text; single linear scan per row, no shuffle."""
    from recordmanager_spark.functions import quality as QL

    d = _t(spark, sf, "documents", spread=True)
    t = F.concat_ws(
        "\n",
        F.lit("SHARED HEADER"),
        F.substring("text", 1, 40),
        F.substring("text", 1, 40),
        F.substring("text", 41, 40),
        F.concat(F.lit("unique tail "), F.col("doc_id").cast("string")),
    )
    # two-stage select: each interpreted-HOF aggregate is aliased ONCE in
    # the lower projection and referenced by name above — CollapseProject
    # keeps non-cheap aliases with multiple uses in their own project, so
    # every scan runs once per row instead of once per reference (HOF
    # aggregates are CodegenFallback and get no subexpression elimination)
    stats = d.select(
        "doc_id",
        QL.duplicate_line_stats(t).alias("__ls"),
        QL.top_ngram_char_fraction("text", 2).alias("__top2"),
        QL.top_ngram_char_fraction("text", 3).alias("__top3"),
        QL.dup_ngram_char_fraction("text", 5).alias("__dup5"),
    )
    ls, top2, top3, dup5 = (
        F.col("__ls"), F.col("__top2"), F.col("__top3"), F.col("__dup5")
    )
    return stats.select(
        "doc_id",
        F.round(ls["dup_line_frac"], 6).alias("dup_line_frac"),
        F.round(ls["dup_line_char_frac"], 6).alias("dup_line_char_frac"),
        F.round(top2, 6).alias("top2_char_frac"),
        F.round(top3, 6).alias("top3_char_frac"),
        F.round(dup5, 6).alias("dup5_char_frac"),
        (
            (ls["dup_line_frac"] <= 0.30)
            & (ls["dup_line_char_frac"] <= 0.20)
            & (top2 <= 0.20)
            & (top3 <= 0.18)
            & (dup5 <= 0.15)
        ).alias("passes_repetition"),
    )


def gopher_quality_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher non-repetition quality rules: word-count band, mean word
    length, alphabetic-word fraction, symbol ratio, required-stop-word
    hits — one struct-valued scan-stage expression per document."""
    from recordmanager_spark.functions import quality as QL

    d = _t(spark, sf, "documents", spread=True)
    # alias the struct once; 6 field reads on an inlined non-codegen
    # expression would re-run the whole scan per field (see
    # gopher_repetition_docs)
    stats = d.select(
        "doc_id", QL.gopher_quality_stats("text").alias("__q")
    )
    q = F.col("__q")
    return stats.select(
        "doc_id",
        q["n_words"].alias("n_words"),
        F.round(q["mean_word_len"], 6).alias("mean_word_len"),
        F.round(q["frac_alpha_words"], 6).alias("frac_alpha_words"),
        F.round(q["symbol_word_ratio"], 6).alias("symbol_word_ratio"),
        q["stop_hits"].alias("stop_hits"),
        q["passes"].alias("passes"),
    )


def c4_clean_docs(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style line cleaning (Raffel et al. 2020): terminal punctuation +
    >=3 words + boilerplate-marker rejection, over synthesized lines with
    known-good and known-bad cases per document."""
    from recordmanager_spark.functions import quality as QL

    d = _t(spark, sf, "documents", spread=True)
    t = F.concat_ws(
        "\n",
        F.concat(F.substring("text", 1, 40), F.lit(".")),
        F.lit("Short line"),
        F.lit("This page uses cookie tracking."),
        F.substring("text", 41, 40),
        F.concat(F.lit("Doc "), F.col("doc_id").cast("string"),
                 F.lit(" closing sentence.")),
    )
    cleaned = d.select("doc_id", QL.c4_clean_lines(t).alias("__c"))
    c = F.col("__c")
    return cleaned.select(
        "doc_id",
        c["n_total"].alias("n_total"),
        c["n_kept"].alias("n_kept"),
        c["text"].alias("cleaned"),
    )


def pii_scrub_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Regex PII redaction (emails / IPv4 / phones / SSN-shaped) with
    sequential category attribution; PII strings are planted
    deterministically from doc_id so every pattern is exercised."""
    from recordmanager_spark.functions import quality as QL

    d = _t(spark, sf, "documents")
    did = F.col("doc_id").cast("string")
    planted = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"), did, F.lit("@example.com or 10.0."),
        F.pmod("doc_id", F.lit(256)).cast("string"),
        F.lit(".7 call +1 555 123 "),
        F.lpad(F.pmod("doc_id", F.lit(10000)).cast("string"), 4, "0"),
        F.when(F.pmod("doc_id", F.lit(5)) == 0, F.lit(" ssn 123-45-6789"))
        .otherwise(F.lit("")),
    )
    s = QL.pii_scrub(planted)
    return d.select(
        "doc_id",
        s["n_ssn"].alias("n_ssn"),
        s["n_email"].alias("n_email"),
        s["n_ip"].alias("n_ip"),
        s["n_phone"].alias("n_phone"),
        s["text"].alias("redacted"),
    )


def url_blocklist_docs(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style URL/domain + bad-words filtering: hosts synthesized per
    doc_id%5 include exact blocked domains and subdomains of them; the
    blocklist matches exact-or-dot-suffix only (no substring hits), and
    the bad-words counter plants 'badword' in every 7th document."""
    from recordmanager_spark.functions import quality as QL

    d = _t(spark, sf, "documents")
    host_pick = F.element_at(
        F.array(
            F.lit("ads.tracker.example"),
            F.lit("sub.spam.example"),
            F.lit("ok.example"),
            F.lit("notspam.example"),
            F.lit("spam.example"),
        ),
        (F.pmod(F.col("doc_id"), F.lit(5)) + 1).cast("int"),
    )
    url = F.concat(
        F.lit("https://"), host_pick, F.lit("/p/"),
        F.col("doc_id").cast("string"),
    )
    text2 = F.when(
        F.pmod(F.col("doc_id"), F.lit(7)) == 0,
        F.concat(F.col("text"), F.lit(" badword tail")),
    ).otherwise(F.col("text"))
    blocked = ["spam.example", "ads.tracker.example"]
    host = QL.url_host(url)
    return d.select(
        "doc_id",
        host.alias("host"),
        QL.host_blocked(host, blocked).alias("domain_blocked"),
        QL.blocklist_hits(text2, ["badword", "verboten"]).alias("bad_hits"),
    )


def url_canonical_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization + canonical-URL dedup: messy synthesized
    URLs (mixed-case hosts, default ports, tracking params, unsorted
    queries, fragments, www aliases) collapse per RFC 3986 §6 rules;
    one winner per canonical form (longest doc, then smallest id)."""
    from recordmanager_spark.functions import urls as U

    d = _t(spark, sf, "documents")
    host = F.element_at(
        F.array(
            F.lit("WWW.News.Example:443"), F.lit("news.example"),
            F.lit("Blog.Example:80"), F.lit("docs.example"),
            F.lit("News.example:8080"), F.lit("blog.example"),
        ),
        (F.pmod(F.col("doc_id"), F.lit(6)) + 1).cast("int"),
    )
    scheme = F.element_at(
        F.array(
            F.lit("HTTPS"), F.lit("https"), F.lit("http"),
            F.lit("https"), F.lit("http"), F.lit("https"),
        ),
        (F.pmod(F.col("doc_id"), F.lit(6)) + 1).cast("int"),
    )
    qs = F.element_at(
        F.array(
            F.lit("?utm_source=x&b=2&a=1"), F.lit("?a=1&b=2"),
            F.lit("?b=2&a=1&fbclid=zz"), F.lit(""),
        ),
        (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("int"),
    )
    frag = F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.lit("#sec")
    ).otherwise(F.lit(""))
    url = F.concat(
        scheme, F.lit("://"), host, F.lit("/p/"),
        F.pmod(F.col("doc_id"), F.lit(40)).cast("string"), qs, frag,
    )
    out = U.canonical_url_dedup(
        d.select("doc_id", "n_chars", url.alias("url")),
        url_col="url", id_col="doc_id", quality_col="n_chars",
        strip_www=True,
    )
    return out.select("doc_id", "canonical_url", "keep")


def dsir_select_docs(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance resampling: hashed unigram+bigram bucket
    distributions of the English slice (target) vs the full corpus
    (raw); per-doc log importance weight as integer micros; Gumbel
    top-120 = sampling without replacement by importance."""
    from recordmanager_spark.operators import dsir as DS

    d = _t(spark, sf, "documents", spread=True)
    target = d.where(F.col("lang") == "en")
    out = DS.dsir_select(
        d, target, k=120, n_buckets=256, alpha=0.5,
    )
    return out.select("doc_id", "log_weight", "score")


def nb_quality_docs(spark: SparkSession, sf: str) -> DataFrame:
    """fastText-style hashed-ngram quality classifier, trained closed
    form (NB log-odds, Laplace 0.5) on English vs non-English slices,
    scored with length-normalized sum + prior through a sigmoid."""
    from recordmanager_spark.operators import quality_classifier as QC

    d = _t(spark, sf, "documents", spread=True)
    model = QC.train_nb_quality(
        d.where(F.col("lang") == "en"),
        d.where(F.col("lang") != "en"),
        n_buckets=256,
    )
    out = QC.nb_quality_score(d, model)
    return out.select("doc_id", "nb_logit", "nb_prob", "nb_label")


def minhash_incremental_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental minhash dedup: a synthetic daily batch (exact copies
    of every 5th corpus doc + genuinely fresh docs for every 7th)
    probes the persisted signature index; matches are estimated from
    signature agreement alone — the corpus text is never re-read."""
    from recordmanager_spark.operators import text_dedup as TD

    d = _t(spark, sf, "documents", spread=True)
    index = TD.minhash_signature(d, "doc_id", "text")
    dup = d.where(F.pmod("doc_id", F.lit(5)) == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    i = F.col("doc_id").cast("string")
    fresh = d.where(F.pmod("doc_id", F.lit(7)) == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(
            F.lit("zq"), i, F.lit(" xv"), i, F.lit(" wk"), i,
            F.lit(" jt"), i, F.lit(" pf"), i,
        ).alias("text"),
    )
    batch = dup.unionByName(fresh)
    annotated, _ = TD.minhash_incremental(batch, index)
    return annotated.select("doc_id", "is_dup", "matched_id", "agreement")


def cluster_corpus_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus curation clustering: 16 deterministic seed centroids
    (lowest-id vectors), Arrow argmax assignment, per-cluster sizes;
    sim = centrality of each vector within its cluster."""
    from recordmanager_spark.operators import similarity as SM

    e = _t(spark, sf, "embeddings")
    assignments, stats = SM.cluster_corpus(e, n_cells=16, kmeans_iters=0)
    return assignments.join(
        F.broadcast(stats.select("cluster", "cluster_size")), "cluster"
    ).select("id", "cluster", "sim", "cluster_size")


def llm_corpus_pipeline_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship training-data pipeline, composed from the verified
    pieces: canonical-URL dedup (synthesized messy URLs) → token-count
    quality gate (5..2000 whitespace tokens) → deterministic
    train/val/test split; survivors carry their token budget."""
    from recordmanager_spark.functions import text as TXF
    from recordmanager_spark.functions import urls as U
    from recordmanager_spark.operators import packing as PK

    d = _t(spark, sf, "documents", spread=True)
    host = F.element_at(
        F.array(
            F.lit("WWW.News.Example:443"), F.lit("news.example"),
            F.lit("Blog.Example:80"), F.lit("docs.example"),
            F.lit("News.example:8080"), F.lit("blog.example"),
        ),
        (F.pmod(F.col("doc_id"), F.lit(6)) + 1).cast("int"),
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/p/"),
        F.pmod(F.col("doc_id"), F.lit(40)).cast("string"),
    )
    deduped = U.canonical_url_dedup(
        d.select("doc_id", "n_chars", "text", url.alias("url")),
        url_col="url", id_col="doc_id", quality_col="n_chars",
        strip_www=True,
    ).where(F.col("keep"))
    gated = deduped.withColumn(
        "n_tokens", TXF.token_count("text").cast("long")
    ).where(F.col("n_tokens").between(5, 2000))
    split = PK.train_val_test_split(gated, fractions=(0.75, 0.125, 0.125))
    return split.select("doc_id", "split", "n_tokens")


def bloom_contamination_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter decontamination: the benchmark slice's 5-gram set
    compressed into a 4096-bit / 3-hash filter (built distributed,
    collected as 64 longs), corpus checked scan-stage via literal-array
    bit tests — the scale path when the eval-suite gram set outgrows a
    broadcast."""
    from recordmanager_spark.operators import contamination as CT

    d = _t(spark, sf, "documents", spread=True)
    bench = d.filter(F.pmod("doc_id", F.lit(97)) == 0)
    words = CT.bloom_filter_words(bench, "text", n=5, m_bits=4096, k=3)
    out = CT.bloom_contaminated(
        d, "doc_id", "text", words, m_bits=4096, k=3, n=5, min_hits=1
    )
    return out.select("doc_id", "n_hits", "contaminated")


def domain_cap_docs(spark: SparkSession, sf: str) -> DataFrame:
    """RefinedWeb/C4-style per-group frequency cap: thin every
    (source, lang) group to ~8 documents — exact keep under the cap,
    deterministic hash-thinning with probability cap/n above it. The
    census join-back shape: one count groupBy, co-partitioned join,
    scan-stage keep filter; no windows, no unbounded state
    (operators/packing.py cap_per_group)."""
    from recordmanager_spark.operators import packing as PK

    d = _t(spark, sf, "documents")
    out = PK.cap_per_group(d, ["source", "lang"], cap=8, id_col="doc_id")
    return out.select("doc_id", "source", "lang")


CORPUS_INI = """
; config-driven curation: the datasources.ini surface applied to the
; training-data stages (recordmanager_spark/corpus_config.py)
[corpus:contract]
languages[] = en
dedup = exact
min_tokens = 5
max_tokens = 2000
cap_group[] = source
cap_n = 8
split[] = 0.75
split[] = 0.125
split[] = 0.125
"""

# the r9 vocabulary: near-dup tier + bad-words gate + benchmark
# decontamination, all from config ({blocklist} = driver-local file path)
CORPUS_INI2 = """
[corpus:contract2]
languages[] = en
blocklist = {blocklist}
dedup = minhash
minhash_threshold = 0.2
decontaminate = benchmark
decontaminate_ngram = 5
"""


# the r10 crawl tier: WARC segments as a config-declared source, WET
# extraction + derived language-ID + dedup + token gate from one section
CORPUS_INI_WARC = """
[corpus:warcdemo]
; source = warc:<dir> drives the CLI path; the contract query feeds the
; rendered segment DataFrame directly through the same operator chain
strip_html = true
languages[] = en
dedup = exact
min_tokens = 3
"""


def corpus_config_warc_docs(spark: SparkSession, sf: str) -> DataFrame:
    """WARC -> curate end-to-end: the corpus renders into framed WARC
    response segments (the warc_extract_docs fixture machinery), the
    warc_documents source maps content records onto (doc_id=target
    URI, source=segment, text=HTTP body), and a [corpus:] section
    curates them — WET-grade HTML strip, language-ID DERIVED
    per-document (crawls carry no lang column), exact dedup, token
    gate. This is the reference's harvest-source -> pipeline
    architecture (conf/datasources.ini.sample:23-101) applied to the
    crawl tier; the CLI equivalent is `curate --config ... --corpus
    warcdemo` with `source = warc:<dir>` in the section
    (tests/test_cli_curate_warc.py runs that path over rendered
    segment FILES)."""
    import hashlib
    import os
    import tempfile

    from recordmanager_spark import corpus_config as CC
    from recordmanager_spark.sources.warc import warc_documents

    files = _warc_fixture_files(_t(spark, sf, "documents"))
    # no optout stage in this section: drop the HTTP envelope before
    # staging, exactly as cmd_curate does (r11 A/B: carrying it cost
    # ~0.4 s of staging write at sf0.1 for nothing)
    docs = warc_documents(files).drop("http_headers")
    # stage the parsed landing zone like cmd_curate does: the dedup
    # stage's fingerprint-census join-back executes its source subtree
    # once per side, which over a crawl transport means parsing every
    # segment twice (two MapInPandas in the executed plan); one staging
    # write turns both passes into pruned parquet reads. The staging
    # path is DETERMINISTIC per scale factor (not mkdtemp): repeated
    # contract/bench invocations overwrite one directory instead of
    # accumulating temp dirs (r10 ADVICE). Runs are sequential per
    # driver contract, so the shared path cannot race.
    staging = os.path.join(
        tempfile.gettempdir(),
        "rm_warc_stage_" + hashlib.md5(sf.encode()).hexdigest()[:12],
    )
    docs.write.mode("overwrite").parquet(staging)
    docs = spark.read.parquet(staging)
    cfg = CC.parse_corpus_ini(CORPUS_INI_WARC)["warcdemo"]
    out = CC.apply_corpus_pipeline(docs, cfg)
    return out.select("doc_id", "source", "lang", "n_tokens")


def shard_manifest_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Shard manifests for the deterministic training shuffle: per-shard
    doc count, token budget, and an order-insensitive bit-XOR content
    hash — the artifact a loader validates before an epoch and re-runs
    diff (operators/packing.py shard_manifest; same md5(seed:id) device
    as shuffle_shards_docs, so the oracle replays it exactly)."""
    from recordmanager_spark.functions.text import token_count
    from recordmanager_spark.operators.packing import shard_manifest

    d = _t(spark, sf, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    return shard_manifest(
        d, id_col="doc_id", n_shards=16, seed="0", tokens_col="n_tokens"
    )


def boilerplate_ngrams_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level boilerplate mining: even-id docs carry an injected
    shared preamble (the ngram_novelty fixture), so its 3-grams must
    surface as the top document-frequency grams. The removal-list
    complement of the per-document novelty signal; top-k is a bounded
    sort-limit (TakeOrderedAndProject), ties broken on the gram string
    so the oracle reproduces the exact set."""
    from recordmanager_spark.operators.diagnostics import (
        boilerplate_ngram_report,
    )

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.when(
            F.pmod("doc_id", F.lit(2)) == 0,
            F.concat(F.lit("shared preamble words here "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return boilerplate_ngram_report(d, top_k=20, min_doc_frac=0.01)


# the r10 incremental tier: dedup against a persisted fingerprint index
CORPUS_INI_INCR = """
[corpus:incr]
languages[] = en
dedup_index = fpindex
min_tokens = 3
"""


def corpus_config_incremental_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental curate: `dedup_index` probes a fingerprint index
    built by a prior ingest (here: the even-doc_id half of the corpus)
    instead of deduping the full corpus — the reference's changed-since
    ingest architecture (SURVEY §2.14) applied to the corpus tier. The
    odd-id batch keeps only first-EVER occurrences: an index hit
    (canonical is an even id) drops the document, within-batch copies
    resolve to the min odd id; then the token gate. The CLI twin
    (tests/test_cli_curate_incremental.py) additionally covers the
    index-append side effect across two real runs."""
    from recordmanager_spark import corpus_config as CC
    from recordmanager_spark.functions.text import fingerprint

    d = _t(spark, sf, "documents")
    prior = d.where(F.pmod("doc_id", F.lit(2)) == 0)
    idx = (
        prior.select(
            fingerprint("text").alias("fp"),
            F.col("doc_id").alias("canonical_id"),
        )
        .groupBy("fp")
        .agg(F.min("canonical_id").alias("canonical_id"))
    )
    batch = d.where(F.pmod("doc_id", F.lit(2)) == 1)
    cfg = CC.parse_corpus_ini(CORPUS_INI_INCR)["incr"]
    out = CC.apply_corpus_pipeline(batch, cfg, tables={"fpindex": idx})
    return out.select("doc_id", "source", "lang", "n_tokens")


def corpus_config_pipeline_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Config-compiled curation pipeline: the [corpus:contract] ini
    section sequences lang keep -> exact dedup (first copy) -> token
    gate -> per-source frequency cap -> split, each stage the verified
    operator the section names — a curation run as a reviewable config
    artifact, the reference's datasources.ini architecture applied to
    the LLM extension."""
    from recordmanager_spark import corpus_config as CC

    cfg = CC.parse_corpus_ini(CORPUS_INI)["contract"]
    d = _t(spark, sf, "documents")
    out = CC.apply_corpus_pipeline(d, cfg)
    return out.select("doc_id", "source", "lang", "n_tokens", "split")


def corpus_config_minhash_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Config-compiled curation with the r9 stage vocabulary: lang keep
    -> C4-style bad-words gate (blocklist FILE, whole-token match) ->
    minhash/LSH near-dup prune (one min-id representative per verified
    cluster) -> benchmark n-gram decontamination against a named table
    — the flagship dedup tier and eval-leak scrub expressed as a
    reviewable datasources.ini-dialect artifact, every stage the
    already-verified operator the section names."""
    import os
    import tempfile

    from recordmanager_spark import corpus_config as CC

    bl_path = os.path.join(
        tempfile.gettempdir(), "rm_corpus_blocklist_contract2.txt"
    )
    with open(bl_path, "w", encoding="utf-8") as fh:
        fh.write("# eval-leak marker tokens\ndup\n")
    cfg = CC.parse_corpus_ini(CORPUS_INI2.format(blocklist=bl_path))[
        "contract2"
    ]
    d = _t(spark, sf, "documents")
    bench = d.where(F.pmod("doc_id", F.lit(97)) == 0)
    out = CC.apply_corpus_pipeline(d, cfg, tables={"benchmark": bench})
    return out.select("doc_id", "source", "lang")


def lm_perplexity_docs(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style LM quality gate: hashed backoff bigram LM trained on
    the English slice (construction-time bounded aggregations, logs
    fixed to integer micros driver-side), scored corpus-wide as a pure
    scan — zero exchanges (operators/lm_score.py). avg_logprob is the
    mean per-transition natural log-probability; perplexity =
    exp(-avg_logprob)."""
    from recordmanager_spark.operators import lm_score as LM

    d = _t(spark, sf, "documents")
    model = LM.train_hash_lm(d.where(F.col("lang") == "en"), "text")
    return LM.lm_logprob(d, model, "text", "doc_id")


def train_split_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test split by cumulative hash intervals
    (exact-binary fractions so the cut points are engine-identical);
    reruns never reassign previously split documents."""
    from recordmanager_spark.operators import packing as PK

    d = _t(spark, sf, "documents")
    out = PK.train_val_test_split(d, fractions=(0.75, 0.125, 0.125))
    return out.select("doc_id", "split")


def corpus_token_stats_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(source, lang) token-budget report: docs, whitespace tokens,
    BPE-ish subword tokens, chars, mean doc length, token share — the
    input table for mixture-weight planning."""
    from recordmanager_spark.operators import packing as PK

    d = _t(spark, sf, "documents", spread=True)
    return PK.corpus_token_stats(d, by=("source", "lang"))


def _mp_wav(i: int) -> bytes:
    """media_probe fixture WAV — numpy-vectorized (r13, guide §4.2):
    the alternating ±amp PCM16 frames build as one int16 array instead
    of a per-frame struct.pack join (byte-identity pinned old-vs-new in
    tests/test_media_fixture_vectorized.py)."""
    import struct as _struct

    import numpy as _np

    rate = 8000 + (i % 4) * 2000
    frames = 400 + i % 100
    amp = 1000 + i % 100
    samp = _np.empty(frames, dtype="<i2")
    samp[0::2] = amp
    samp[1::2] = -amp
    data = samp.tobytes()
    return (
        b"RIFF" + _struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, 1, rate,
                                 rate * 2, 2, 16)
        + b"data" + _struct.pack("<I", len(data)) + data
    )


def _mp_halfrow(w: int, invert: bool):
    """One half-white/half-black RGB row (the pattern is channel-
    symmetric, so BGR == RGB here), as a uint8 array of length w*3."""
    import numpy as _np

    white = (_np.arange(w) >= w // 2) != invert
    return _np.repeat(
        _np.where(white, 255, 0).astype(_np.uint8), 3
    )


def _mp_bmp(i: int) -> bytes:
    """media_probe fixture BMP — numpy-vectorized row tiling (r13)."""
    import struct as _struct

    import numpy as _np

    w, h = 16 + (i % 3) * 8, 16
    invert = i % 4 == 1
    stride = (w * 3 + 3) & ~3
    row = _mp_halfrow(w, invert)
    rowp = _np.concatenate(
        [row, _np.zeros(stride - w * 3, dtype=_np.uint8)]
    )
    data = _np.tile(rowp, h).tobytes()
    info = _struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                        len(data), 2835, 2835, 0, 0)
    hdr = b"BM" + _struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    return hdr + info + data


def _mp_png(i: int) -> bytes:
    """media_probe fixture PNG: same half/half pattern as _mp_bmp but
    PNG-encoded RGB with a DIFFERENT spec filter per row (y % 5 cycles
    None/Sub/Up/Average/Paeth) — the decoder must defilter every type
    to reproduce the analytically-predicted aHash. Filtering is
    vectorized per row over the RAW bytes (encode-side predictors read
    original neighbors, no sequential dependency; byte-identity with
    the per-pixel loop pinned in tests/test_media_fixture_vectorized.py)."""
    import struct as _struct
    import zlib as _zlib

    import numpy as _np

    w, h = 16 + (i % 3) * 8, 16
    invert = i % 8 == 3
    ch = 3
    row = _mp_halfrow(w, invert).astype(_np.int32)
    zeros = _np.zeros(ch, dtype=_np.int32)
    filtered = bytearray()
    prev = _np.zeros(w * ch, dtype=_np.int32)
    for y in range(h):
        f = y % 5
        filtered.append(f)
        a = _np.concatenate([zeros, row[:-ch]])
        b = prev
        if f == 0:
            enc = row
        elif f == 1:
            enc = row - a
        elif f == 2:
            enc = row - b
        elif f == 3:
            enc = row - ((a + b) >> 1)
        else:
            c = _np.concatenate([zeros, prev[:-ch]])
            p = a + b - c
            pa, pb, pc = _np.abs(p - a), _np.abs(p - b), _np.abs(p - c)
            pr = _np.where(
                (pa <= pb) & (pa <= pc), a, _np.where(pb <= pc, b, c)
            )
            enc = row - pr
        filtered.extend((enc & 0xFF).astype(_np.uint8).tobytes())
        prev = row

    def chunk(typ: bytes, data: bytes) -> bytes:
        crc = _zlib.crc32(typ + data) & 0xFFFFFFFF
        return (
            _struct.pack(">I", len(data)) + typ + data
            + _struct.pack(">I", crc)
        )

    ihdr = _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(bytes(filtered)))
        + chunk(b"IEND", b"")
    )


def media_probe_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Real byte-level media decoding: a generator stage builds genuine
    WAV (even doc_ids) and 24-bit BMP (odd doc_ids) payloads whose
    parameters derive from the id; media_probe sniffs the container and
    parses the BYTES (RIFF chunk walk + PCM RMS, BMP pixel decode +
    aHash). The oracle predicts every parsed field analytically from
    the generation arithmetic — the decoders cannot shortcut it because
    they only see the payload."""
    import pandas as _pd

    def _gen(batches):
        def payload(i: int) -> bytes:
            if i % 2 == 0:
                return _mp_wav(i)
            return _mp_png(i) if i % 4 == 3 else _mp_bmp(i)

        for pdf in batches:
            ids = pdf["id"]
            yield _pd.DataFrame({
                "id": ids,
                "payload": [payload(int(i)) for i in ids],
            })

    d = _t(spark, sf, "documents", spread=True).select(
        F.col("doc_id").alias("id")
    )
    payloads = d.mapInPandas(_gen, schema="id long, payload binary")
    return MM.media_probe(payloads)


def hamming_neardup_hashes(spark: SparkSession, sf: str) -> DataFrame:
    """Generic banded Hamming near-dup over FULL 64-bit fingerprints
    (aHash/audio-fingerprint shape): doc pairs (2g, 2g+1) share an
    md5-derived base hash with one planted bit flip, including hashes
    whose top bit makes the long negative — exercising the unsigned
    band shifts. The oracle is the exact brute-force O(n²) Hamming
    join; pigeonhole banding guarantees completeness at max_hamming=2
    with 3 bands, so the banded plan must reproduce it exactly."""
    from recordmanager_spark.operators import text_dedup as TD

    d = _t(spark, sf, "documents").select("doc_id")
    md = F.md5(F.concat(F.lit("hnd"), F.shiftright("doc_id", 1).cast("string")))
    hi = F.conv(F.substring(md, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(md, 9, 8), 16, 10).cast("long")
    base = F.shiftleft(hi, 32).bitwiseOR(lo)
    flip = F.expr("shiftleft(1L, cast(pmod(doc_id, 63) as int))")
    h = F.when(F.pmod("doc_id", F.lit(2)) == 0, base).otherwise(
        base.bitwiseXOR(flip)
    )
    sigs = d.select(F.col("doc_id").alias("id"), h.alias("hash"))
    return TD.hamming_near_duplicates(sigs, total_bits=64, max_hamming=2)


def skew_report_events(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-skew diagnostic over the events stream keyed by
    event_type: per-key count, corpus share, skew factor against a
    64-reducer shuffle, and the salt fan-out that levels the key.
    Grouped once (ReuseExchange dedupes the total branch); ranking is
    TakeOrdered, never a full sort."""
    from recordmanager_spark.operators import diagnostics as DG

    e = _t(spark, sf, "events")
    return DG.skew_report(e, ["event_type"], top_n=10, partitions=64)


def corpus_datacard_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(source, lang) corpus datacard: document/token/char budgets,
    exact-duplicate rate from content fingerprints, and quality-score
    mean/median — the release-notes table for a curated corpus. Exact
    mode here (hash-verifiable); approach='approx' is the bounded-state
    100 TB path."""
    from recordmanager_spark.operators import diagnostics as DG

    d = _t(spark, sf, "documents", spread=True)
    return DG.corpus_datacard(d, by=("source", "lang"), approach="exact")


def contamination_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark n-gram decontamination (GPT-3 appendix C style): flag
    corpus documents sharing any normalized 5-gram with the benchmark
    slice (doc_id % 97 == 0). Benchmark gram set broadcasts; the corpus
    never shuffles."""
    from recordmanager_spark.operators import contamination as CT

    d = _t(spark, sf, "documents", spread=True)
    bench = d.filter(F.pmod("doc_id", F.lit(97)) == 0)
    out = CT.flag_contaminated(
        d, "doc_id", "text", bench, "text", n=5, min_hits=1
    )
    return out.select("doc_id", "n_hits", "contaminated")


def forward_film_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Forward (EN15907) film extraction: main-element scoping (the
    sibling work and its agent must NOT leak in), IDTypeName-prefixed
    ctrlnum, directors-first author ordering, relator classification,
    unfiltered corporate list, Synopsis-then-contents description with
    language fallback."""
    from recordmanager_spark.extractors import forward as FWF

    p = _t(spark, sf, "part")
    k = F.col("p_partkey").cast("string")
    xml = F.format_string(
        "<ExchangeSet><ProductionWork>"
        '<Identifier IDTypeName="elonet">%s</Identifier>'
        "<IdentifyingTitle>%s</IdentifyingTitle>"
        "<Title><TitleText>%s</TitleText></Title>"
        "<Title><TitleText>Alt %s</TitleText></Title>"
        "<YearOfReference>%s</YearOfReference>"
        "<HasAgent><AgentName>Actor A%s</AgentName><Activity>E01</Activity></HasAgent>"
        "<HasAgent><AgentName>Producer P%s</AgentName><Activity>A00</Activity></HasAgent>"
        "<HasAgent><AgentName>Director D%s</AgentName><Activity>D02</Activity></HasAgent>"
        "<ContentDescription><DescriptionType>Synopsis</DescriptionType>"
        "<Language>en</Language><DescriptionText>Synopsis %s</DescriptionText>"
        "</ContentDescription>"
        "<ContentDescription><DescriptionType>Content description</DescriptionType>"
        "<Language>fi</Language><DescriptionText>Sisalto %s</DescriptionText>"
        "</ContentDescription>"
        "<CountryOfReference><Country><RegionName>Region %s</RegionName></Country>"
        "</CountryOfReference>"
        "</ProductionWork>"
        "<ProductionWork><IdentifyingTitle>Sibling</IdentifyingTitle>"
        "<HasAgent><AgentName>Ghost</AgentName><Activity>D02</Activity></HasAgent>"
        "</ProductionWork></ExchangeSet>",
        k, F.col("p_name"), F.col("p_name"), k,
        (F.lit(1900) + F.pmod(F.col("p_partkey"), F.lit(100))).cast("string"),
        k, k, k, k, k,
        F.pmod(F.col("p_partkey"), F.lit(7)).cast("string"),
    )
    out = FWF.to_solr_columns(p.select("p_partkey", xml.alias("xml")), "xml")
    return out.select(
        "p_partkey",
        "ctrlnum",
        "title",
        try_element_at("title_alt", 1).alias("alt1"),
        F.size("title_alt").alias("n_alt"),
        "publishDate",
        F.array_join("author", "|").alias("authors"),
        F.array_join("author_role", "|").alias("author_roles"),
        F.array_join("author2", "|").alias("authors2"),
        F.size("author_corporate").alias("n_agents"),
        "author_sort",
        "description",
        try_element_at("geographic", 1).alias("region1"),
        "format",
    )


def pack_sequences_docs(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: whitespace token
    counts, 4 shards (pmod of doc_id so the oracle can replicate the
    sharding), 512-token bins; per-document stream offset and bin span.
    The only shuffle is the hash partition by shard + in-shard sort."""
    from recordmanager_spark.functions import text as TX
    from recordmanager_spark.operators import packing as PK

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.pmod("doc_id", F.lit(4)).cast("long").alias("shard"),
        TX.token_count("text").cast("long").alias("n_tokens"),
    )
    out = PK.pack_sequences(
        d, id_col="doc_id", tokens_col="n_tokens", budget=512,
        shard_col="shard",
    )
    return out.select(
        "doc_id", "shard", "n_tokens", "pack_offset", "bin_start",
        "bin_end", "n_bins",
    )


def mix_sources_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Epoch-weighted source mixing (The Pile / LLaMA recipe): src0 gets
    2.4 epochs (2 copies + a deterministic 40% third), src1 is halved,
    everything else stays at 1.0. Row multiplication is map-side explode;
    the fractional choice is an md5 unit hash, so reruns are identical."""
    from recordmanager_spark.operators import packing as PK

    d = _t(spark, sf, "documents").select("doc_id", "source")
    out = PK.mix_sources(
        d, {"src0": 2.4, "src1": 0.5}, source_col="source",
        id_col="doc_id", salt="mix",
    )
    return out.select("doc_id", "source", "rep")


def temperature_mix_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-flattened source mixing (p_s ∝ f_s^(1/τ), τ=2 — the
    exponent-smoothed multilingual sampling rule): per-source epoch
    weights derive from the corpus's own frequency table so small
    sources upsample and dominant ones downsample; expansion is the same
    deterministic md5 fractional-epoch machinery as mix_sources."""
    from recordmanager_spark.operators import packing as PK

    d = _t(spark, sf, "documents").select("doc_id", "source")
    out = PK.temperature_mix(
        d, source_col="source", id_col="doc_id", temperature=2.0,
        salt="tmix",
    )
    return out.select("doc_id", "source", "rep")


def stratified_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-language Bernoulli downsampling: keep 30% of en,
    70% of zh, all the rest — scan-stage filter on a salted md5 unit
    hash, reproducible across runs/engines/partitionings."""
    from recordmanager_spark.operators import packing as PK

    d = _t(spark, sf, "documents").select("doc_id", "lang")
    return PK.stratified_sample(
        d, {"en": 0.3, "zh": 0.7}, stratum_col="lang", id_col="doc_id",
        salt="sample",
    )


# ---------------------------------------------------------------------------


def eaccpf_extract(spark: SparkSession, sf: str) -> DataFrame:
    """EAC-CPF authority extraction: TONI1+TONI4 heading composition,
    nameEntryParallel use_for, RDA-typed birth/death dates and places,
    TJ37 field-of-activity notes, occupations, agency/biogHist allfields."""
    from recordmanager_spark.extractors import eaccpf as EC

    s = _t(spark, sf, "supplier")
    k = F.col("s_suppkey").cast("string")
    xml = F.format_string(
        "<eac-cpf><control>"
        "<maintenanceAgency><agencyName>Agency %s</agencyName>"
        "</maintenanceAgency>"
        '<languageDeclaration><language languageCode="fin">Finnish'
        "</language></languageDeclaration></control>"
        "<cpfDescription><identity>"
        "<entityType>person</entityType>"
        '<nameEntry><part localType="TONI1">%s</part>'
        '<part localType="TONI4">F%s</part></nameEntry>'
        "<nameEntryParallel><nameEntry>"
        '<part localType="TONI1">Alt %s</part>'
        "</nameEntry></nameEntryParallel>"
        "</identity><description>"
        "<existDates><dateSet>"
        '<date localType="http://rdaregistry.info/Elements/a/P50121"'
        ' standardDate="%s-01-02">b</date>'
        '<date localType="http://rdaregistry.info/Elements/a/P50120"'
        ' standardDate="%s-12-31">d</date>'
        "</dateSet></existDates>"
        "<places>"
        '<place localType="http://rdaregistry.info/Elements/a/P50119">'
        "<placeEntry>Town %s</placeEntry></place>"
        "<place><placeEntry>Rel %s</placeEntry></place>"
        "</places>"
        '<functions><function localType="TJ37"><descriptiveNote>'
        "<p>Act %s</p><p>More</p></descriptiveNote></function></functions>"
        "<occupations><occupation><term>Occ %s</term></occupation>"
        "</occupations>"
        "<biogHist><p>Bio %s</p></biogHist>"
        "</description></cpfDescription></eac-cpf>",
        F.pmod(F.col("s_suppkey"), F.lit(3)).cast("string"),
        F.col("s_name"), k, k,
        (F.lit(1880) + F.pmod(F.col("s_suppkey"), F.lit(60))).cast("string"),
        (F.lit(1940) + F.pmod(F.col("s_suppkey"), F.lit(50))).cast("string"),
        F.pmod(F.col("s_suppkey"), F.lit(7)).cast("string"),
        F.pmod(F.col("s_suppkey"), F.lit(5)).cast("string"),
        F.pmod(F.col("s_suppkey"), F.lit(4)).cast("string"),
        F.pmod(F.col("s_suppkey"), F.lit(6)).cast("string"),
        k,
    )
    out = EC.to_solr_columns(s.select("s_suppkey", xml.alias("xml")), "xml")
    return out.select(
        "s_suppkey",
        "record_type",
        "heading",
        F.array_join("use_for", "|").alias("use_for_all"),
        "birth_date",
        "death_date",
        "birth_place",
        try_element_at("related_place", 1).alias("related1"),
        F.array_join("occupation", "|").alias("occupations"),
        F.array_join("field_of_activity", "|").alias("activity"),
        "language",
        "source",
        F.size("allfields").alias("n_allfields"),
    )


def uri_cache_ttl(spark: SparkSession, sf: str) -> DataFrame:
    """uriCache TTL semantics (AbstractEnrichment.getExternalData): split
    requests into fresh-cache hits vs misses at a deterministic `now`,
    fetch the misses through the (network-free, injectable) fetch
    boundary, and upsert them back — returns the resulting cache table."""
    from recordmanager_spark.operators import enrich as EN

    c = _t(spark, sf, "customer")
    key = F.col("c_custkey")
    requests = c.select(
        F.concat(F.lit("c"), key.cast("string")).alias("_id"),
        F.concat(F.lit("https://geo/c"), key.cast("string")).alias("url"),
    )
    cache = c.where(key % 3 != 2).select(
        F.concat(F.lit("c"), key.cast("string")).alias("_id"),
        (F.pmod(key, F.lit(5)) * 100000).cast("double").alias("timestamp"),
        F.concat(F.lit("https://geo/c"), key.cast("string")).alias("url"),
        F.concat(F.lit("cached:"), key.cast("string")).alias("data"),
    )
    now = 350000.0
    hits, misses = EN.uri_cache_split(
        requests, cache, now=now, max_age_minutes=2500
    )
    fetched = EN.fetch_uris(
        misses, lambda url: "fetched:" + url, now=now
    )
    final = EN.uri_cache_upsert(cache, fetched)
    return final.select(
        "_id",
        F.col("timestamp").alias("ts"),
        "data",
    ).orderBy("_id")


def bm25_topk_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Lexical retrieval: BM25 top-5 over the documents corpus for 8
    query texts (each query doc's first 80 chars). Inverted-index
    postings built in one scan; query-vocabulary prune broadcasts
    before any corpus shuffle; two-stage bounded top-k. The other half
    of the similarity family (the reference delegates this to its Solr
    cluster; here it's a native plan)."""
    from recordmanager_spark.operators import retrieval as RET

    docs = _t(spark, sf, "documents")
    queries_df = docs.where(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("query_id"),
        F.substring("text", 1, 80).alias("query_text"),
    )
    return RET.bm25_topk(docs, queries_df, k=5)


def hybrid_search_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (c=60) of a BM25 top-10
    lexical leg over documents and an exact cosine top-10 vector leg
    over the aligned embeddings table (doc_id == vec_id), re-ranked to
    a fused top-5 per query. Union+groupBy fusion — one exchange
    regardless of leg count, group state bounded by the leg count."""
    from recordmanager_spark.operators import retrieval as RET
    from recordmanager_spark.operators import similarity as SIM2

    docs = _t(spark, sf, "documents")
    emb = _t(spark, sf, "embeddings")
    queries_df = docs.where(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("query_id"),
        F.substring("text", 1, 80).alias("query_text"),
    )
    lex = RET.bm25_topk(docs, queries_df, k=10).select(
        "query_id", "doc_id", "rank"
    )
    vec = SIM2.knn_bruteforce(
        emb,
        emb.where(F.col("vec_id") < 8),
        "vec_id",
        "embedding",
        dim=64,
        k=10,
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return RET.rrf_fuse([lex, vec], k=5)


def ann_recall_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """ANN calibration: per-query recall@5 of the hyperplane-LSH search
    against exact brute force — the num_planes pre-flight (the LSH
    sibling of minhash_calibration_docs). Both legs are the verified
    knn queries; the report itself joins top-k lists co-partitioned on
    query_id, bounded state at any query count."""
    from recordmanager_spark.operators import diagnostics as DG

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 20)
    exact = SIM.knn_bruteforce(e, q, "vec_id", "embedding", dim=64, k=5)
    approx = SIM.knn_lsh(
        e, q, "vec_id", "embedding", k=5, num_planes=6, dim=64
    )
    return DG.ann_recall_report(exact, approx)


def mojibake_repair_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Encoding hygiene: repair UTF-8-as-cp1252 mojibake (the ftfy
    sloppy-windows-1252 family) as a pure scan-stage replace fold —
    zero shuffles, codegen-friendly. Corruptions are synthesized
    deterministically per doc_id (the paragraph_dedup fixture pattern)
    so the oracle sees identical inputs."""
    from recordmanager_spark.functions.text import fix_mojibake, has_mojibake

    docs = _t(spark, sf, "documents")
    p0, p1 = _mojibake_prefixes()
    corrupted = F.when(F.col("doc_id") % 3 == 0, F.lit(p0)).when(
        F.col("doc_id") % 3 == 1, F.lit(p1)
    ).otherwise(F.lit("")).cast("string")
    c = F.concat(corrupted, F.col("text"))
    return docs.select(
        "doc_id",
        F.substring(fix_mojibake(c), 1, 60).alias("fixed_head"),
        has_mojibake(c).alias("had_mojibake"),
    )


# deterministic markup fixture shared character-for-character with the
# oracle: <title>/h1 carry the doc id, nav + (doc_id%4==0) footer carry
# the link-density signal, script/style/comment/entities exercise the
# stripping chain
_HTML_P1 = "<html><head><title>Doc "
_HTML_P2 = (
    ' pages</title><script type="text/javascript">var x = 1 < 2;</script>'
    "<style>.nav{color:red}</style></head><body>"
    '<nav><a href="/">Home</a> <a href="/about">About <b>us</b></a></nav>'
    "<h1>Doc "
)
_HTML_P3 = "</h1><p>"
_HTML_P4 = "</p><!-- hidden comment --><div>tail &amp; more &lt;escaped&gt;</div>"
_HTML_FOOTER = '<footer><a href="/t">Terms</a> <a href="/p">Privacy</a></footer>'
_HTML_P5 = "</body></html>"


def html_extract_docs(spark: SparkSession, sf: str) -> DataFrame:
    """HTML text extraction (WET-grade crawl step 0): tag/script/style/
    comment strip, entity decode, title pull, and the jusText-style
    link-density boilerplate signal — all scan-stage expression chains
    (zero shuffles). Markup is synthesized deterministically around each
    corpus doc (nav + optional footer links vary by doc_id % 4) so the
    oracle replays the identical chain."""
    from recordmanager_spark.functions.html import (
        html_title,
        html_to_text,
        link_density,
    )

    docs = _t(spark, sf, "documents")
    ids = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit(_HTML_P1), ids, F.lit(_HTML_P2), ids, F.lit(_HTML_P3),
        F.substring("text", 1, 150),
        F.lit(_HTML_P4),
        F.when(F.col("doc_id") % 4 == 0, F.lit(_HTML_FOOTER)).otherwise(
            F.lit("")
        ),
        F.lit(_HTML_P5),
    )
    return docs.select(
        "doc_id",
        html_title(html).alias("title"),
        F.substring(html_to_text(html), 1, 100).alias("text_head"),
        F.length(html_to_text(html)).alias("n_chars"),
        link_density(html).alias("link_density"),
    )


def pack_bins_ffd_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Whole-document FFD bin packing: documents pack into 256-token
    bins across 8 hash shards without splitting. Deterministic (md5
    shard + (tokens desc, id) fit order), so the DuckDB oracle replays
    first-fit-decreasing exactly with a recursive CTE that carries each
    shard's bin-fill list as state. The contract window is capped at
    doc_id < 500 on BOTH sides so the oracle's sequential replay stays
    cheap at any sf (the Spark side's scale story is pytest-pinned
    Johnson bounds + the sharded applyInPandas shape)."""
    from recordmanager_spark.functions.text import token_count
    from recordmanager_spark.operators.packing import pack_bins_ffd

    d = (
        _t(spark, sf, "documents")
        .where(F.col("doc_id") < 500)
        .select("doc_id", token_count("text").cast("long").alias("n_tokens"))
    )
    return pack_bins_ffd(
        d, id_col="doc_id", tokens_col="n_tokens", budget=256, num_shards=8
    )


def soft_dedup_weights_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Soft deduplication (reweight-don't-remove): every copy of a
    duplicated text keeps sampling weight 1/n_copies — duplicated
    content contributes once in expectation while the loader keeps its
    stream order. Duplicates are synthesized (doc_id%100 buckets, the
    streaming fixture pattern); census join-back, never a hot-key
    window."""
    from recordmanager_spark.operators.text_dedup import duplication_weights

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("copy bucket "),
            F.pmod(F.col("doc_id"), F.lit(100)).cast("string"),
        ).alias("text"),
    )
    return duplication_weights(d, "doc_id", "text")


def token_divergence_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise token-distribution drift between sources (Jensen-
    Shannon + total variation over 256 hashed token buckets) — the
    distribution-shift companion to source_overlap_docs: overlap sees
    shared documents, this sees vocabulary drift with zero shared
    documents. One corpus scan; per-source state bounded by the bucket
    count."""
    from recordmanager_spark.operators.diagnostics import (
        token_divergence_report,
    )

    d = _t(spark, sf, "documents")
    return token_divergence_report(d, "source", "text", n_buckets=256)


def ngram_novelty_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document n-gram novelty (inverse-boilerplate): fraction of a
    doc's distinct 3-grams unseen in any other document. Half the docs
    get a shared preamble (doc_id%2, the fixture pattern) so the
    shared-gram path is exercised; census join-back on the gram key,
    never a hot-key window."""
    from recordmanager_spark.operators.text_dedup import ngram_novelty

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("shared preamble words here "), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return ngram_novelty(d, "doc_id", "text", n=3)


def source_overlap_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source content-overlap report for mixture planning:
    pairwise shared-fingerprint counts + Jaccard between corpus
    sources. Overlap is synthesized deterministically (fingerprint =
    md5 of a doc_id%50 boilerplate token — the paragraph_dedup fixture
    pattern) so every source pair shares some content; per-fingerprint
    join state is bounded by the source count, never doc²."""
    from recordmanager_spark.operators import diagnostics as DG

    docs = _t(spark, sf, "documents").select(
        "source",
        F.md5(
            F.concat(
                F.lit("boiler:"), (F.col("doc_id") % 50).cast("string")
            )
        ).alias("fingerprint"),
    )
    return DG.source_overlap_report(docs, "source", "fingerprint")


_WARC_HTTP_PREFIX = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"


def _warc_fixture_files(docs: DataFrame) -> DataFrame:
    """Render the corpus into framed WARC response segments (path,
    value): Content-Length HTTP envelopes over '<p>' + the first 120
    chars + '</p>', 25 segments of docs ordered by id — the splitter
    fixture pattern. Shared by warc_extract_docs (parser round-trip)
    and corpus_config_warc_docs (source -> curate end-to-end)."""
    body = F.concat(F.lit("<p>"), F.substring("text", 1, 120), F.lit("</p>"))
    block = F.concat(F.lit(_WARC_HTTP_PREFIX), body)
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:doc:"),
        F.col("doc_id").cast("string"),
        F.lit(">\r\nWARC-Target-URI: https://corpus.example/"),
        F.col("doc_id").cast("string"),
        F.lit(
            "\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            "Content-Length: "
        ),
        F.octet_length(block).cast("string"),
        F.lit("\r\n\r\n"),
        block,
        F.lit("\r\n\r\n"),
    )
    return (
        docs.select(
            (F.col("doc_id") % 25).cast("string").alias("path"),
            F.struct(F.col("doc_id"), rec.alias("rec")).alias("s"),
        )
        .groupBy("path")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda x: x["rec"]
                ),
                "",
            ).alias("value")
        )
    )


def warc_extract_docs(spark: SparkSession, sf: str) -> DataFrame:
    """WARC source round-trip: documents render into framed WARC
    response records (Content-Length envelopes, 25 segments of docs
    ordered by id — the splitter fixture pattern), the mapInPandas
    cursor parser extracts them back, and the oracle computes the
    expected records INDEPENDENTLY (no parsing) — so a framing bug on
    either side breaks the hash."""
    from recordmanager_spark.sources.warc import warc_records

    files = _warc_fixture_files(_t(spark, sf, "documents"))
    return warc_records(files).select(
        F.col("warc_file").cast("int").alias("warc_file"),
        "record_ord",
        "target_uri",
        "content_length",
        "payload",
    )


def _mojibake_prefixes() -> tuple[str, str]:
    """Deterministic corrupted prefixes, derived from MOJIBAKE_MAP so
    the Spark literal and the oracle SQL literal are the same string."""
    from recordmanager_spark.functions.text import MOJIBAKE_MAP

    inv = {good: bad for bad, good in MOJIBAKE_MAP}
    p0 = "Caf" + inv["é"] + " " + inv["—"] + " na" + inv["ï"] + "ve "
    p1 = (
        inv["“"]
        + "qu"
        + inv["’"]
        + "oted"
        + inv["”"]
        + " "
        + inv["ü"]
        + "ber "
    )
    return p0, p1


def index_diff_docs(spark: SparkSession, sf: str) -> DataFrame:
    """The `solr compare-records` analogue (SolrComparer.php:220) on a
    deterministic fixture: the would-be index docs perturb lang
    (upper-cased on doc_id%5==0) and the published index perturbs
    n_chars (+1 on doc_id%7==0), drops doc_id%11==0 rows entirely
    (missing-from-index → every field added) and carries a legacy
    field the new docs no longer compute (index-only field → removed).
    Output is the reference's log line as rows: (id, field, added,
    removed) with the value lists pipe-joined for the driver hash."""
    from recordmanager_spark.operators.index_compare import (
        compare_index_docs,
    )

    d = _t(spark, sf, "documents")
    new_docs = d.select(
        F.col("doc_id").alias("id"),
        F.concat(F.lit("Title "), F.col("doc_id").cast("string")).alias(
            "title"
        ),
        F.when(
            F.pmod("doc_id", F.lit(5)) == 0, F.upper("lang")
        ).otherwise(F.col("lang")).alias("lang"),
        "n_chars",
    )
    indexed = d.where(F.pmod("doc_id", F.lit(11)) != 0).select(
        F.col("doc_id").alias("id"),
        F.concat(F.lit("Title "), F.col("doc_id").cast("string")).alias(
            "title"
        ),
        "lang",
        (
            F.col("n_chars")
            + F.when(F.pmod("doc_id", F.lit(7)) == 0, 1).otherwise(0)
        ).alias("n_chars"),
        F.concat(
            F.lit("old-"), F.pmod("doc_id", F.lit(3)).cast("string")
        ).alias("legacy"),
    )
    diff = compare_index_docs(new_docs, indexed)
    return diff.select(
        "id",
        "field",
        F.array_join("added", "|").alias("added"),
        F.array_join("removed", "|").alias("removed"),
    )


def check_index_docs(spark: SparkSession, sf: str) -> DataFrame:
    """The `solr check-index` analogue (SolrUpdater.php:1476): the
    published index carries phantom rows (doc_id%13==0 shifted by 1e6,
    never in the record store) and merged rows (doc_id%10==0) that
    check the DEDUP table instead of records. Records drop doc_id%3==0
    (missing) and flag doc_id%7==0 deleted; the dedup table drops
    doc_id%30==0 and flags doc_id%20==0. Output = the orphan delete
    list (id, merged, reason, deleted_at)."""
    from recordmanager_spark.operators.index_compare import check_index

    d = _t(spark, sf, "documents")
    ts = F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id"))
    indexed = d.select(
        F.col("doc_id").alias("id"),
        F.when(F.pmod("doc_id", F.lit(10)) == 0, F.lit("merged"))
        .otherwise(F.lit("standard"))
        .alias("record_format"),
    ).unionByName(
        d.where(F.pmod("doc_id", F.lit(13)) == 0).select(
            (F.col("doc_id") + 1000000).alias("id"),
            F.lit("standard").alias("record_format"),
        )
    )
    records = d.where(F.pmod("doc_id", F.lit(3)) != 0).select(
        F.col("doc_id").alias("id"),
        (F.pmod("doc_id", F.lit(7)) == 0).alias("deleted"),
        ts.alias("updated"),
    )
    dedup = d.where(F.pmod("doc_id", F.lit(30)) != 0).select(
        F.col("doc_id").alias("id"),
        (F.pmod("doc_id", F.lit(20)) == 0).alias("deleted"),
        ts.alias("updated"),
    )
    return check_index(
        indexed, records, dedup=dedup, updated_col="updated"
    )


def optout_filter_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-tier opt-out gate (C4/RefinedWeb compliance practice; REP
    robots-meta + X-Robots-Tag): deterministic fixture plants a robots
    noindex meta on doc_id%4==0, an unquoted upper-case NONE variant on
    doc_id%8==1, a benign robots meta on %4==2, a 'nonevent' trap on
    %4==3 (word boundary must not trip), an X-Robots-Tag: noindex
    response header on %5==0, a body echoing the header phrase on
    %7==0 (only the header column may count), and hosts cycling
    through 3 domains of which optout.example (%3==0) is on the domain
    opt-out list. Returns every doc with its three verdicts + kept."""
    from recordmanager_spark.functions.html import (
        robots_header_noindex,
        robots_meta_noindex,
    )
    from recordmanager_spark.functions.quality import (
        host_blocked,
        url_host,
    )

    d = _t(spark, sf, "documents")
    host = F.element_at(
        F.array(
            F.lit("optout.example"),
            F.lit("news.example"),
            F.lit("blog.example"),
        ),
        (F.pmod("doc_id", F.lit(3)) + 1).cast("int"),
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/p/"),
        F.col("doc_id").cast("string"),
    )
    meta = (
        F.when(
            F.pmod("doc_id", F.lit(8)) == 1,
            F.lit('<META NAME=ROBOTS CONTENT="NONE">'),
        )
        .when(
            F.pmod("doc_id", F.lit(4)) == 0,
            F.lit('<meta name="robots" content="noindex, nofollow">'),
        )
        .when(
            F.pmod("doc_id", F.lit(4)) == 2,
            F.lit('<meta name="robots" content="index, follow">'),
        )
        .when(
            F.pmod("doc_id", F.lit(4)) == 3,
            F.lit('<meta name="robots" content="nonevent">'),
        )
        .otherwise(F.lit(""))
    )
    body_trap = F.when(
        F.pmod("doc_id", F.lit(7)) == 0,
        F.lit(" x-robots-tag: noindex"),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"), meta, F.lit("</head><body>"),
        F.col("text"), body_trap, F.lit("</body></html>"),
    )
    headers = F.when(
        F.pmod("doc_id", F.lit(5)) == 0,
        F.lit("HTTP/1.1 200 OK\r\nX-Robots-Tag: noindex\r\nServer: x"),
    ).when(
        F.pmod("doc_id", F.lit(5)) == 1,
        F.lit("HTTP/1.1 200 OK\r\nServer: x"),
    )
    out = d.select(
        "doc_id",
        robots_meta_noindex(html).alias("meta_optout"),
        robots_header_noindex(headers).alias("header_optout"),
        host_blocked(url_host(url), ["optout.example"]).alias(
            "domain_optout"
        ),
    )
    return out.withColumn(
        "kept",
        ~(
            F.col("meta_optout")
            | F.col("header_optout")
            | F.col("domain_optout")
        ),
    )


def image_resize_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Real byte-level image RESIZE (operators/multimodal.resize_images
    — the preprocessing stage before any vision feature extractor): a
    generator builds genuine 24-bit BMPs whose pixel values derive from
    (doc_id, x, y) arithmetic, the stage decodes + nearest-neighbor
    resamples to 4x4, and the query explodes the resized RGB bytes into
    per-pixel rows with builtin byte access (hex/conv over substring) —
    so the oracle predicts every byte analytically from the generation
    arithmetic + the floor-sampling rule, and the resize cannot
    shortcut it because it only sees the payload."""
    import struct as _struct

    import pandas as _pd

    from recordmanager_spark.operators.multimodal import resize_images

    def _gen(batches):
        def bmp(i: int) -> bytes:
            w, h = 8 + (i % 3) * 4, 8
            stride = (w * 3 + 3) & ~3
            rows = []
            # file rows bottom-up (positive height): logical y = h-1-row
            for y in range(h - 1, -1, -1):
                row = bytearray()
                for x in range(w):
                    row += bytes(
                        ((i % 256), (y * 24) % 256, (x * 16) % 256)
                    )  # B, G, R
                row += b"\x00" * (stride - len(row))
                rows.append(bytes(row))
            data = b"".join(rows)
            off = 54
            return (
                b"BM" + _struct.pack("<I", off + len(data)) + b"\x00" * 4
                + _struct.pack("<I", off)
                + _struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                               len(data), 2835, 2835, 0, 0)
                + data
            )

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "payload": [bmp(int(i)) for i in pdf["doc_id"]],
                }
            )

    d = _t(spark, sf, "documents").where(
        F.pmod("doc_id", F.lit(5)) == 0
    ).select("doc_id")
    gen = d.mapInPandas(_gen, "id long, payload binary")
    small = resize_images(gen, width=4, height=4)
    return (
        small.select(
            F.col("id").alias("doc_id"),
            "src_width",
            "src_height",
            F.posexplode(F.sequence(F.lit(0), F.lit(47))).alias(
                "pos", "idx"
            ),
            "pixels",
        )
        .select(
            "doc_id",
            "src_width",
            "src_height",
            "idx",
            F.conv(
                F.hex(F.expr("substring(pixels, idx + 1, 1)")), 16, 10
            ).cast("int").alias("val"),
        )
    )


def audio_neardup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Audio near-dup through the REAL payload path
    (examples/audio_fingerprint.py): a generator builds genuine PCM16
    WAVs whose per-window amplitudes derive from (doc_id, window)
    arithmetic — pair-mates share a pattern, one mate is re-levelled at
    2x gain, and every 4th pair's first mate gets one perturbed window
    — the stage decodes the RIFF bytes, mean-mixes, computes the 65
    window RMS energies, packs the 64 energy-delta bits, and the banded
    Hamming engine pairs fingerprints within distance 3. The oracle
    predicts every bit analytically (constant-amplitude windows make
    RMS == |amp| exactly; gain cancels in the comparisons) and brute
    forces the pair criterion — exact, because 4x16-bit pigeonhole
    banding is lossless at max_hamming=3 and no bucket nears the cap.
    """
    import pandas as _pd

    from recordmanager_spark.examples.audio_fingerprint import (
        audio_near_duplicates,
        audio_segment_fingerprints,
    )

    rate, win = 4000, 65

    def _gen(batches):
        import io as _io
        import wave as _wave

        import numpy as _np

        def wav(did: int) -> bytes:
            p = did // 20
            scale = 2 if (did // 10) % 2 else 1
            base, extra = rate // win, rate % win
            samples = []
            for j in range(win):
                amp = ((p * 131 + j * 37) % 89) + 1
                if did % 40 == 0 and j == 10:
                    amp += 50
                samples.extend(
                    [amp * scale] * (base + (1 if j < extra else 0))
                )
            buf = _io.BytesIO()
            with _wave.open(buf, "wb") as wf:
                wf.setnchannels(1)
                wf.setsampwidth(2)
                wf.setframerate(rate)
                wf.writeframes(
                    _np.array(samples, dtype="<i2").tobytes()
                )
            return buf.getvalue()

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "id": pdf["doc_id"].astype("int64"),
                    "payload": [wav(int(i)) for i in pdf["doc_id"]],
                }
            )

    d = _t(spark, sf, "documents").where(
        F.pmod("doc_id", F.lit(10)) == 0
    ).select("doc_id")
    gen = d.mapInPandas(_gen, "id long, payload binary")
    fps = audio_segment_fingerprints(gen, seg_ms=1000)
    return audio_near_duplicates(
        fps, max_hamming=3, min_matching_segments=1
    )


# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full §3 lifecycle — OAI harvest parse → extraction →
    cross-source dedup → group merge — at sf0.001."""
    return pipeline_end_to_end(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- driver oracle window (first 50), rotated per round so
        # every contract query gets a fresh driver-recorded oracle row.
        # r13 rotation: the four r12-STRUCTURALLY-REWRITTEN queries
        # first (bm25 prune-before-aggregation, ngram_novelty census
        # owner, minhash localCheckpoint — all missed the r12 window,
        # so the driver has not re-oracled them since the rewrite),
        # then stalest-first: the r8/r9 cohorts, topped up with the
        # oldest 34 of the r10 cohort.
        # r12-rewritten, last driver-green r10
        "bm25_topk_docs": bm25_topk_docs,
        "hybrid_search_docs": hybrid_search_docs,
        "ngram_novelty_docs": ngram_novelty_docs,
        "minhash_incremental_docs": minhash_incremental_docs,
        # last driver-green: r8
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "filter_dsl_orders": filter_dsl_orders,
        "filter_dsl_events_page": filter_dsl_events_page,
        "range_scan_page": range_scan_page,
        "count_values_lang": count_values_lang,
        "count_values_event_type": count_values_event_type,
        "count_values_tokens": count_values_tokens,
        "count_values_mapped": count_values_mapped,
        # last driver-green: r9
        "hamming_neardup_hashes": hamming_neardup_hashes,
        "streaming_content_dedup": streaming_content_dedup,
        "config_pipeline_orders": config_pipeline_orders,
        "quality_buckets_docs": quality_buckets_docs,
        # last driver-green: r10 (first 34 complete the 50-query window)
        "mojibake_repair_docs": mojibake_repair_docs,
        "ann_recall_lsh": ann_recall_lsh,
        "streaming_neardup_docs": streaming_neardup_docs,
        "html_extract_docs": html_extract_docs,
        "warc_extract_docs": warc_extract_docs,
        "source_overlap_docs": source_overlap_docs,
        "pack_bins_ffd_docs": pack_bins_ffd_docs,
        "soft_dedup_weights_docs": soft_dedup_weights_docs,
        "token_divergence_docs": token_divergence_docs,
        "knn_pq_full": knn_pq_full,
        "knn_ivfadc_full": knn_ivfadc_full,
        "tfidf_keywords_docs": tfidf_keywords_docs,
        "fuzzy_decontamination_docs": fuzzy_decontamination_docs,
        "shuffle_shards_docs": shuffle_shards_docs,
        "paragraph_dedup_docs": paragraph_dedup_docs,
        "domain_cap_docs": domain_cap_docs,
        "lm_perplexity_docs": lm_perplexity_docs,
        "exact_dup_incremental_docs": exact_dup_incremental_docs,
        "corpus_config_pipeline_docs": corpus_config_pipeline_docs,
        "corpus_config_minhash_docs": corpus_config_minhash_docs,
        "corpus_config_warc_docs": corpus_config_warc_docs,
        "corpus_config_incremental_docs": corpus_config_incremental_docs,
        "boilerplate_ngrams_docs": boilerplate_ngrams_docs,
        "shard_manifest_docs": shard_manifest_docs,
        "minhash_calibration_docs": minhash_calibration_docs,
        "dedup_er": dedup_er,
        "marc_rich_extract": marc_rich_extract,
        "lrmi_extract": lrmi_extract,
        "winnow_fingerprint_docs": winnow_fingerprint_docs,
        "fulltext_trait_docs": fulltext_trait_docs,
        "uri_cache_ttl": uri_cache_ttl,
        "eaccpf_extract": eaccpf_extract,
        "exact_substring_dedup_docs": exact_substring_dedup_docs,
        "temperature_mix_docs": temperature_mix_docs,
        "url_blocklist_docs": url_blocklist_docs,
        "url_canonical_dedup_docs": url_canonical_dedup_docs,
        "dsir_select_docs": dsir_select_docs,
        "nb_quality_docs": nb_quality_docs,
        "train_split_docs": train_split_docs,
        "cluster_corpus_embeddings": cluster_corpus_embeddings,
        "bloom_contamination_docs": bloom_contamination_docs,
        "llm_corpus_pipeline_docs": llm_corpus_pipeline_docs,
        "corpus_token_stats_docs": corpus_token_stats_docs,
        "skew_report_events": skew_report_events,
        "corpus_datacard_docs": corpus_datacard_docs,
        "media_probe_docs": media_probe_docs,
        # last driver-green: r11
        "index_diff_docs": index_diff_docs,
        "check_index_docs": check_index_docs,
        "optout_filter_docs": optout_filter_docs,
        "image_resize_docs": image_resize_docs,
        "geocode_customers": geocode_customers,
        "xml_split_customers": xml_split_customers,
        "ese_extract": ese_extract,
        "doaj_extract": doaj_extract,
        "marc_authority_extract": marc_authority_extract,
        "forward_authority_extract": forward_authority_extract,
        "ead3_split_extract": ead3_split_extract,
        "value_mapping_orders": value_mapping_orders,
        "hierarchical_facets_geo": hierarchical_facets_geo,
        "callnumber_sort_keys": callnumber_sort_keys,
        "geo_centers": geo_centers,
        "enrich_topics_nation": enrich_topics_nation,
        "link_resolution_lineitem": link_resolution_lineitem,
        "xslt_normalize_orders": xslt_normalize_orders,
        "multimodal_features": multimodal_features,
        "allfields_customer": allfields_customer,
        "normalize_fields_docs": normalize_fields_docs,
        "regexp_mapping_orders": regexp_mapping_orders,
        "field_rules_orders": field_rules_orders,
        "title_keys_docs": title_keys_docs,
        "id_sort_keys": id_sort_keys,
        "text_quality": text_quality,
        "lang_id_pred": lang_id_pred,
        "token_stats": token_stats,
        "exact_dup_docs": exact_dup_docs,
        "ngram_jaccard_pairs": ngram_jaccard_pairs,
        "minhash_near_dup": minhash_near_dup,
        "winnow_neardup_pairs": winnow_neardup_pairs,
        "semantic_dedup_embeddings": semantic_dedup_embeddings,
        "line_dedup_docs": line_dedup_docs,
        "simhash_near_dup": simhash_near_dup,
        "knn_bruteforce": knn_bruteforce,
        "knn_ivf_full": knn_ivf_full,
        "knn_lsh": knn_lsh,
        "embedding_neardup": embedding_neardup,
        "solr_batch_sizes": solr_batch_sizes,
        "export_filtered_orders": export_filtered_orders,
        "preview_marc_record": preview_marc_record,
        "linemarc_extract": linemarc_extract,
        "ead_split_extract": ead_split_extract,
        "music_enrich_orders": music_enrich_orders,
        "authority_enrich_customers": authority_enrich_customers,
        "scalar_functions_grid": scalar_functions_grid,
        "scalar_functions_grid2": scalar_functions_grid2,
        "copy_down_parent": copy_down_parent,
        "geocode_simplify_customers": geocode_simplify_customers,
        # last driver-green: r12
        "audio_neardup_docs": audio_neardup_docs,
        "indexed_timestamps_orders": indexed_timestamps_orders,
        "renormalize_marc": renormalize_marc,
        "robots_gate_docs": robots_gate_docs,
        "sfx_harvest_files": sfx_harvest_files,
        "oai_provider_serve": oai_provider_serve,
        "once_per_group_orders": once_per_group_orders,
        "dirty_hosts_propagation": dirty_hosts_propagation,
        "streaming_hourly_rollup": streaming_hourly_rollup,
        "stateful_skip_unchanged": stateful_skip_unchanged,
        "gopher_repetition_docs": gopher_repetition_docs,
        "gopher_quality_docs": gopher_quality_docs,
        "c4_clean_docs": c4_clean_docs,
        "pii_scrub_docs": pii_scrub_docs,
        "contamination_docs": contamination_docs,
        "forward_film_extract": forward_film_extract,
        "pack_sequences_docs": pack_sequences_docs,
        "mix_sources_docs": mix_sources_docs,
        "stratified_sample_docs": stratified_sample_docs,
        "ead_extract": ead_extract,
        "lido_extract": lido_extract,
        "qdc_extract": qdc_extract,
        "upsert_orders": upsert_orders,
        "copy_down_merged": copy_down_merged,
        "suppression_filter": suppression_filter,
        "work_keys_marc": work_keys_marc,
        "dc_extract": dc_extract,
        "dc_extract_struct": dc_extract,
        "marc_holdings_normalize": marc_holdings_normalize,
        "oai_harvest_parse": oai_harvest_parse,
        "sierra_harvest_extract": sierra_harvest_extract,
        "genieplus_harvest_extract": genieplus_harvest_extract,
        "rdf_import_entities": rdf_import_entities,
        "pipeline_end_to_end": pipeline_end_to_end,
        "deletion_antijoin": deletion_antijoin,
        "incremental_changed": incremental_changed,
        "events_hourly_rollup": events_hourly_rollup,
        "events_json_extract": events_json_extract,
        "host_component_merge": host_component_merge,
        "component_parts_policy": component_parts_policy,
        "group_merge_orders": group_merge_orders,
        "dedup_incremental": dedup_incremental,
        "dedup_check": dedup_check,
        "component_dedup": component_dedup,
        "marc_extract": marc_extract,
        "near_dup_prune_docs": near_dup_prune_docs,
        "chunk_documents_docs": chunk_documents_docs,
        "bpe_tokenize_docs": bpe_tokenize_docs,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
    }


# DuckDB-dialect oracles. Tables are pre-registered views. Every column
# name and type matches the Spark side; doubles rounded identically.

_NORM = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)

_SHINGLES3 = (
    "list_distinct(list_transform(range(1, greatest(len({t})-2, 0)+1),"
    " i -> array_to_string(({t})[i:i+2], ' ')))"
)

_EN = "['the','and','of','to','in','is','a','that','for','with']"
_DE = "['der','die','das','und','ist','nicht','ein','mit','zu','auf']"
_FR = "['le','la','les','et','est','un','une','pour','dans','que']"
_ES = "['el','la','los','y','es','un','una','para','en','que']"
_FI = "['ja','on','ei','että','se','oli','hän','mutta','kun','niin']"


def oracle_sql() -> dict[str, str]:
    toks = f"string_split_regex({_NORM.format(c='text')}, '\\s+')"
    raw_toks = "string_split_regex(trim(text), '\\s+')"
    hits = "len(list_filter({t}, x -> list_contains({lst}, x)))"
    return {
        # new this round (r12)
        "robots_gate_docs": """
            -- the decision table the four robots.txt texts imply:
            -- h0: /p2 blocked; /p1/x rescued by the longer $-anchored
            --     allow; h1: blanket disallow except the /p3 allow;
            -- h2 (nlbot group): only /p4 blocked; h3: no group matches
            -- nlbot -> all allowed; h4: no robots row -> allowed
            SELECT doc_id,
                   'https://h' || (doc_id % 5)::VARCHAR || '.example/p'
                       || (doc_id % 7)::VARCHAR || '/x' AS url,
                   CASE (doc_id % 5)
                       WHEN 0 THEN (doc_id % 7) != 2
                       WHEN 1 THEN (doc_id % 7) = 3
                       WHEN 2 THEN (doc_id % 7) != 4
                       ELSE TRUE
                   END AS allowed
            FROM documents
        """,
        "renormalize_marc": """
            WITH r AS (
                SELECT o_orderkey AS k FROM orders
                WHERE o_orderkey % 4 = 0
            )
            SELECT 's' || k AS _id,
                   (k % 2 = 0 AND k % 11 = 0) AS deleted,
                   CASE WHEN k % 2 = 0 AND k % 11 <> 0 AND k % 7 <> 0
                        THEN 'title' || (k % 50) || 'auth' || (k % 20)
                        ELSE '' END AS title_key,
                   (k % 2 = 0 AND k % 11 <> 0 AND k % 7 <> 0
                    AND k % 5 <> 0) AS update_needed,
                   CASE WHEN k % 2 = 0 AND k % 11 <> 0 AND k % 7 <> 0
                             AND k % 3 = 0
                        THEN 'g' || k ELSE '' END AS dedup_id,
                   CASE WHEN k % 7 = 0 THEN 'h' || (k // 7)
                        ELSE '' END AS host_id,
                   'r' || k AS link_id,
                   TRUE AS roundtrip_clean
            FROM r
        """,
        "indexed_timestamps_orders": """
            SELECT o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ')
                       AS first_indexed,
                   strftime(o_orderdate + INTERVAL 3 DAY,
                            '%Y-%m-%dT%H:%M:%SZ') AS last_indexed
            FROM orders
        """,
        "audio_neardup_docs": """
            WITH d AS (
                SELECT doc_id FROM documents WHERE doc_id % 10 = 0
            ), amps AS (
                -- the generator's closed form: constant-amplitude
                -- windows make engine-side RMS == |amp| exactly, and
                -- the 2x gain on odd pair-mates cancels in every
                -- energy comparison, so the bits derive from the raw
                -- pattern alone
                SELECT doc_id, j.range AS j,
                       (((doc_id // 20) * 131 + j.range * 37) % 89) + 1
                       + CASE WHEN doc_id % 40 = 0 AND j.range = 10
                              THEN 50 ELSE 0 END AS amp
                FROM d, range(0, 65) j
            ), fps AS (
                SELECT doc_id, list(amp ORDER BY j) AS a
                FROM amps GROUP BY doc_id
            ), ham AS (
                SELECT f1.doc_id AS id_a, f2.doc_id AS id_b,
                       list_sum(list_transform(range(1, 65),
                           i -> ((f1.a[i+1] > f1.a[i])
                                 != (f2.a[i+1] > f2.a[i]))::INT)) AS h
                FROM fps f1 JOIN fps f2 ON f1.doc_id < f2.doc_id
            )
            SELECT id_a, id_b, 1::BIGINT AS n_segment_matches
            FROM ham WHERE h <= 3
        """,
        # new in r11
        "image_resize_docs": """
            WITH d AS (
                SELECT doc_id, 8 + (doc_id % 3) * 4 AS w, 8 AS h
                FROM documents WHERE doc_id % 5 = 0
            )
            SELECT doc_id,
                   w::INT AS src_width,
                   h::INT AS src_height,
                   i.range AS idx,
                   CASE (i.range % 3)
                       -- out pixel (r = idx//12, c = (idx%12)//3);
                       -- nearest floor sampling: src_x = c*(w/4),
                       -- src_y = r*(h/4); R=(x*16)%256, G=(y*24)%256,
                       -- B = doc_id % 256
                       WHEN 0 THEN ((((i.range % 12) // 3) * (w // 4))
                                    * 16) % 256
                       WHEN 1 THEN (((i.range // 12) * (h // 4)) * 24)
                                   % 256
                       ELSE doc_id % 256
                   END::INT AS val
            FROM d, range(0, 48) i
        """,
        "optout_filter_docs": """
            SELECT doc_id,
                   (doc_id % 4 = 0 OR doc_id % 8 = 1) AS meta_optout,
                   doc_id % 5 = 0 AS header_optout,
                   doc_id % 3 = 0 AS domain_optout,
                   NOT (doc_id % 4 = 0 OR doc_id % 8 = 1
                        OR doc_id % 5 = 0 OR doc_id % 3 = 0) AS kept
            FROM documents
        """,
        "index_diff_docs": """
            WITH newd AS (
                SELECT doc_id::VARCHAR AS id,
                       'Title ' || doc_id::VARCHAR AS title,
                       CASE WHEN doc_id % 5 = 0 THEN upper(lang)
                            ELSE lang END AS lang,
                       n_chars
                FROM documents
            ), oldd AS (
                SELECT doc_id::VARCHAR AS id,
                       'Title ' || doc_id::VARCHAR AS title,
                       lang,
                       n_chars + CASE WHEN doc_id % 7 = 0 THEN 1
                                      ELSE 0 END AS n_chars,
                       'old-' || (doc_id % 3)::VARCHAR AS legacy
                FROM documents WHERE doc_id % 11 <> 0
            ), newm AS (
                SELECT id, 'title' AS field, [title] AS vals
                FROM newd WHERE title IS NOT NULL
                UNION ALL SELECT id, 'lang', [lang]
                FROM newd WHERE lang IS NOT NULL
                UNION ALL SELECT id, 'n_chars', [n_chars::VARCHAR]
                FROM newd WHERE n_chars IS NOT NULL
            ), oldm AS (
                SELECT id, 'title' AS field, [title] AS vals
                FROM oldd WHERE title IS NOT NULL
                UNION ALL SELECT id, 'lang', [lang]
                FROM oldd WHERE lang IS NOT NULL
                UNION ALL SELECT id, 'n_chars', [n_chars::VARCHAR]
                FROM oldd WHERE n_chars IS NOT NULL
                UNION ALL SELECT id, 'legacy', [legacy]
                FROM oldd WHERE legacy IS NOT NULL
            ), j AS (
                SELECT coalesce(n.id, o.id) AS id,
                       coalesce(n.field, o.field) AS field,
                       coalesce(n.vals, []) AS nv,
                       coalesce(o.vals, []) AS ov
                FROM newm n FULL OUTER JOIN oldm o
                  ON n.id = o.id AND n.field = o.field
            )
            SELECT id, field,
                   coalesce(array_to_string(list_sort(list_filter(nv,
                       x -> NOT list_contains(ov, x))), '|'), '') AS added,
                   coalesce(array_to_string(list_sort(list_filter(ov,
                       x -> NOT list_contains(nv, x))), '|'), '') AS removed
            FROM j
            WHERE len(list_filter(nv, x -> NOT list_contains(ov, x))) > 0
               OR len(list_filter(ov, x -> NOT list_contains(nv, x))) > 0
        """,
        "check_index_docs": """
            WITH idx AS (
                SELECT doc_id::VARCHAR AS id, doc_id AS key,
                       CASE WHEN doc_id % 10 = 0 THEN 'merged'
                            ELSE 'standard' END AS fmt
                FROM documents
                UNION ALL
                SELECT (doc_id + 1000000)::VARCHAR, doc_id + 1000000,
                       'standard'
                FROM documents WHERE doc_id % 13 = 0
            ), rec AS (
                SELECT doc_id, doc_id % 7 = 0 AS deleted,
                       make_timestamp((1704067200 + doc_id) * 1000000)
                           AS updated
                FROM documents WHERE doc_id % 3 <> 0
            ), ded AS (
                SELECT doc_id, doc_id % 20 = 0 AS deleted,
                       make_timestamp((1704067200 + doc_id) * 1000000)
                           AS updated
                FROM documents WHERE doc_id % 30 <> 0
            )
            SELECT i.id, false AS merged,
                   CASE WHEN r.doc_id IS NULL THEN 'missing'
                        ELSE 'deleted' END AS reason,
                   CASE WHEN r.deleted THEN r.updated END AS deleted_at
            FROM idx i LEFT JOIN rec r ON i.key = r.doc_id
            WHERE i.fmt = 'standard' AND (r.doc_id IS NULL OR r.deleted)
            UNION ALL
            SELECT i.id, true,
                   CASE WHEN d.doc_id IS NULL THEN 'missing'
                        ELSE 'deleted' END,
                   CASE WHEN d.deleted THEN d.updated END
            FROM idx i LEFT JOIN ded d ON i.key = d.doc_id
            WHERE i.fmt = 'merged' AND (d.doc_id IS NULL OR d.deleted)
        """,
        # new in r9
        "bm25_topk_docs": _bm25_oracle_sql(5),
        "hybrid_search_docs": _hybrid_oracle_sql(),
        "mojibake_repair_docs": _mojibake_oracle_sql(),
        "html_extract_docs": _html_extract_oracle_sql(),
        "warc_extract_docs": _warc_extract_oracle_sql(),
        "streaming_neardup_docs": _streaming_neardup_oracle_sql(),
        "pack_bins_ffd_docs": _pack_bins_ffd_oracle_sql(),
        "corpus_config_warc_docs": _corpus_config_warc_oracle_sql(),
        "boilerplate_ngrams_docs": f"""
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 0
                          THEN 'shared preamble words here ' || text
                          ELSE text END AS t
              FROM documents
            ),
            toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(
                       {_NORM.format(c='t')}, '\\s+'), x -> x <> '') AS ts
              FROM base
            ),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(ts) >= 3 THEN {_SHINGLES3.format(t='ts')}
                          ELSE [array_to_string(ts, ' ')] END AS sh
              FROM toks
            ),
            g AS (SELECT doc_id, unnest(sh) AS gram FROM sh),
            c AS (SELECT gram, count(*) AS n_docs FROM g GROUP BY 1),
            t AS (SELECT count(*) AS total FROM documents)
            SELECT gram, n_docs,
                   round(n_docs / CAST(total AS DOUBLE), 6) AS doc_frac
            FROM c, t
            WHERE n_docs >= total * 0.01
            ORDER BY n_docs DESC, gram ASC
            LIMIT 20
        """,
        "corpus_config_incremental_docs": f"""
            WITH idx AS (
              SELECT md5({_NORM.format(c='text')}) AS fp,
                     min(doc_id) AS cid
              FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
            ),
            batch AS (
              SELECT doc_id, source, lang, text,
                     md5({_NORM.format(c='text')}) AS fp
              FROM documents WHERE doc_id % 2 = 1 AND lang = 'en'
            ),
            miss AS (
              SELECT fp, min(doc_id) AS bc FROM batch
              WHERE fp NOT IN (SELECT fp FROM idx) GROUP BY fp
            ),
            kept AS (
              SELECT b.doc_id, b.source, b.lang, b.text
              FROM batch b
              LEFT JOIN idx i USING (fp)
              LEFT JOIN miss m USING (fp)
              WHERE b.doc_id = coalesce(i.cid, m.bc)
            )
            SELECT doc_id, source, lang, n_tokens FROM (
              SELECT doc_id, source, lang,
                     CAST(len(list_filter(
                       string_split_regex(trim(text), '\\s+'),
                       x -> x <> '')) AS BIGINT) AS n_tokens
              FROM kept)
            WHERE n_tokens >= 3
        """,
        "soft_dedup_weights_docs": f"""
            WITH d AS (
              SELECT doc_id,
                     md5({_NORM.format(c="'copy bucket ' || CAST(doc_id % 100 AS VARCHAR)")})
                       AS fp
              FROM documents
            ),
            c AS (SELECT fp, count(*) AS n_copies FROM d GROUP BY 1)
            SELECT d.doc_id AS id, d.fp, c.n_copies,
                   round(1.0 / c.n_copies, 6) AS weight
            FROM d JOIN c ON d.fp = c.fp
        """,
        "ngram_novelty_docs": f"""
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 0
                          THEN 'shared preamble words here ' || text
                          ELSE text END AS t
              FROM documents
            ),
            toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(
                       {_NORM.format(c='t')}, '\\s+'), x -> x <> '') AS ts
              FROM base
            ),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(ts) >= 3 THEN {_SHINGLES3.format(t='ts')}
                          ELSE [array_to_string(ts, ' ')] END AS sh
              FROM toks
            ),
            g AS (SELECT doc_id, unnest(sh) AS g FROM sh),
            c AS (SELECT g, count(*) AS dfn FROM g GROUP BY 1),
            per AS (
              -- CAST the sum: DuckDB sum(INTEGER) returns HUGEINT (int128),
              -- which a driver-side hasher may canonicalize differently from
              -- BIGINT even when values and printed schema agree (r9's one
              -- unreproducible hash-FAIL). Spark's sum is LongType; pin the
              -- oracle to the same 64-bit type.
              SELECT doc_id, count(*) AS n_grams,
                     CAST(sum(CASE WHEN dfn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_novel
              FROM g JOIN c USING (g) GROUP BY 1
            )
            SELECT doc_id AS id, n_grams, n_novel,
                   round(CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
                     AS novelty
            FROM per
        """,
        "token_divergence_docs": f"""
            WITH tok AS (
              SELECT source AS g,
                     unnest(list_filter(string_split_regex(
                       {_NORM.format(c='text')}, '\\s+'), t -> t <> ''))
                       AS t
              FROM documents
            ),
            cen AS (
              SELECT g, {_HEX8.format(h="md5(t)")} % 256 AS b, count(*) AS c
              FROM tok GROUP BY 1, 2
            ),
            tot AS (SELECT g, sum(c) AS n FROM cen GROUP BY 1),
            p AS (SELECT g, b, c / CAST(n AS DOUBLE) AS p
                  FROM cen JOIN tot USING (g)),
            m AS (
              SELECT a.g AS sa, bb.g AS sb,
                     sum(0.5 * a.p * ln(2 * a.p / (a.p + bb.p))
                         + 0.5 * bb.p * ln(2 * bb.p / (a.p + bb.p)))
                       AS js_m,
                     sum(a.p) AS ma, sum(bb.p) AS mb,
                     sum(abs(a.p - bb.p)) AS tv_m
              FROM p a JOIN p bb ON a.b = bb.b AND a.g < bb.g
              GROUP BY 1, 2
            ),
            prs AS (
              SELECT a.g AS sa, b.g AS sb
              FROM tot a JOIN tot b ON a.g < b.g
            )
            SELECT prs.sa AS source_a, prs.sb AS source_b,
                   round(coalesce(m.js_m, 0)
                         + 0.5 * ln(2) * ((1 - coalesce(m.ma, 0))
                                          + (1 - coalesce(m.mb, 0))), 6)
                     AS js_divergence,
                   round(0.5 * (coalesce(m.tv_m, 0)
                                + (1 - coalesce(m.ma, 0))
                                + (1 - coalesce(m.mb, 0))), 6)
                     AS total_variation
            FROM prs LEFT JOIN m ON prs.sa = m.sa AND prs.sb = m.sb
        """,
        "source_overlap_docs": """
            WITH fp AS (
              SELECT DISTINCT source AS g,
                     md5('boiler:' || CAST(doc_id % 50 AS VARCHAR)) AS f
              FROM documents
            ),
            pairs AS (
              SELECT a.g AS source_a, b.g AS source_b, count(*) AS n_shared
              FROM fp a JOIN fp b ON a.f = b.f AND a.g < b.g
              GROUP BY 1, 2
            ),
            tot AS (SELECT g, count(*) AS nf FROM fp GROUP BY 1)
            SELECT source_a, source_b, n_shared,
                   ta.nf AS n_a, tb.nf AS n_b,
                   round(n_shared / CAST(ta.nf + tb.nf - n_shared AS DOUBLE),
                         6) AS jaccard
            FROM pairs
            JOIN tot ta ON pairs.source_a = ta.g
            JOIN tot tb ON pairs.source_b = tb.g
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice*(1-l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_extendedprice), 6) AS avg_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
              AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q5_local_supplier_volume": """
            SELECT n_name,
                   round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
        """,
        "filter_dsl_orders": """
            SELECT * FROM orders
            WHERE o_orderstatus IN ('F','P')
              AND o_totalprice >= 50000.0 AND o_totalprice < 200000.0
              AND (o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH')
        """,
        "filter_dsl_events_page": """
            SELECT * FROM events
            WHERE event_type <> 'click' AND value > 10.0
            ORDER BY ts, event_id
            LIMIT 50 OFFSET 100
        """,
        "range_scan_page": """
            SELECT * FROM events
            WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
              AND ts <= TIMESTAMP '2024-01-20 00:00:00'
            ORDER BY ts, event_id
            LIMIT 100 OFFSET 50
        """,
        "count_values_mapped": """
            SELECT CASE o_orderstatus WHEN 'O' THEN 'Open'
                        WHEN 'F' THEN 'Finished' ELSE 'Other' END AS value,
                   count(*) AS count
            FROM orders GROUP BY 1 ORDER BY count DESC, value ASC
        """,
        "count_values_lang": """
            SELECT lang AS value, count(*) AS count
            FROM documents WHERE lang IS NOT NULL GROUP BY lang
        """,
        "count_values_event_type": """
            SELECT event_type AS value, count(*) AS count
            FROM events WHERE event_type IS NOT NULL GROUP BY event_type
        """,
        "count_values_tokens": f"""
            SELECT t AS value, count(*) AS count
            FROM (SELECT unnest({raw_toks}) AS t FROM documents)
            WHERE t IS NOT NULL AND t <> ''
            GROUP BY t
        """,
        "deletion_antijoin": """
            SELECT o_orderkey FROM orders o
            WHERE NOT EXISTS (
                SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        """,
        "incremental_changed": """
            SELECT event_type, count(*) AS n,
                   round(sum(value), 2) AS total_value
            FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
            GROUP BY event_type
        """,
        "events_hourly_rollup": """
            SELECT date_trunc('hour', ts) AS win_start, event_type,
                   count(*) AS n, round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "events_json_extract": """
            SELECT event_type, count(*) AS n,
                   round(avg(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k
            FROM events GROUP BY event_type
        """,
        "host_component_merge": """
            SELECT o_orderkey, o_orderpriority,
                   n_components, sum_qty, first_ship, parts_str
            FROM (
                SELECT l_orderkey,
                       count(*) AS n_components,
                       round(sum(l_quantity), 2) AS sum_qty,
                       min(l_shipdate) AS first_ship,
                       string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS parts_str
                FROM lineitem GROUP BY l_orderkey
            ) comp JOIN orders ON comp.l_orderkey = orders.o_orderkey
        """,
        "group_merge_orders": """
            WITH ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
                FROM orders)
            SELECT o_custkey AS id,
                   count(*) AS group_size,
                   string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS local_ids_str,
                   max(CASE WHEN rn = 1 THEN o_orderpriority END) AS base_priority,
                   round(sum(o_totalprice), 2) AS total_price_sum
            FROM ranked GROUP BY o_custkey
        """,
        "dedup_er": """
            WITH m AS (
                SELECT p_partkey AS pk FROM part
                WHERE pk % 10 NOT IN (0, 5, 7))
            SELECT 'a.' || pk AS id, 'a.' || pk AS dedup_id FROM m
            UNION ALL
            SELECT 'b.' || pk AS id, 'a.' || pk AS dedup_id FROM m
        """,
        "dedup_check": """
            WITH rec AS (
                SELECT 'r' || CAST(o_orderkey AS VARCHAR) AS id,
                       's' || CAST(o_orderkey % 3 AS VARCHAR) AS src
                FROM orders
            ), asgn AS (
                SELECT 'r' || CAST(o_orderkey AS VARCHAR) AS id,
                       'g' || CAST(o_custkey AS VARCHAR) AS dedup_id
                FROM orders WHERE o_orderkey % 7 <> 0
                UNION ALL
                SELECT DISTINCT 'ghost' || CAST(o_custkey AS VARCHAR),
                       'g' || CAST(o_custkey AS VARCHAR)
                FROM orders WHERE o_custkey % 100 = 0
            ), j AS (
                SELECT asgn.id, asgn.dedup_id, rec.src
                FROM asgn LEFT JOIN rec USING (id)
            ), dangling AS (
                SELECT id, dedup_id, 'dangling_record' AS issue
                FROM j WHERE src IS NULL
            ), sizes AS (
                SELECT dedup_id, count(*) AS n FROM j WHERE src IS NOT NULL
                GROUP BY dedup_id
            ), singleton AS (
                SELECT j.id, j.dedup_id, 'singleton_group' AS issue
                FROM j JOIN sizes USING (dedup_id)
                WHERE sizes.n < 2 AND j.src IS NOT NULL
            ), coll AS (
                SELECT id, dedup_id, 'same_source_collision' AS issue
                FROM (
                    SELECT id, dedup_id,
                           row_number() OVER (PARTITION BY dedup_id, src ORDER BY id) AS rn
                    FROM j WHERE src IS NOT NULL
                ) WHERE rn > 1
            )
            SELECT * FROM dangling
            UNION ALL SELECT * FROM singleton
            UNION ALL SELECT * FROM coll
        """,
        "dedup_incremental": """
            -- incremental == full recompute on the same universe
            WITH m AS (
                SELECT p_partkey AS pk FROM part
                WHERE pk % 10 NOT IN (0, 5, 7))
            SELECT 'a.' || pk AS id, 'a.' || pk AS dedup_id FROM m
            UNION ALL
            SELECT 'b.' || pk AS id, 'a.' || pk AS dedup_id FROM m
        """,
        "component_dedup": """
            WITH li AS (
                SELECT l_orderkey AS k,
                       lpad(CAST(row_number() OVER (
                           PARTITION BY l_orderkey
                           ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity
                       ) AS VARCHAR), 2, '0') AS ln
                FROM lineitem
                WHERE l_orderkey % 5 = 0
            ), good AS (
                SELECT DISTINCT k FROM li WHERE k % 10 <> 5
            )
            SELECT 'a.c' || k || 'x' || ln AS id,
                   'a.c' || k || 'x' || ln AS dedup_id
            FROM li WHERE k IN (SELECT k FROM good)
            UNION ALL
            SELECT 'b.c' || k || 'x' || ln,
                   'a.c' || k || 'x' || ln
            FROM li WHERE k IN (SELECT k FROM good)
        """,
        "title_keys_docs": """
            WITH w AS (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS w,
                       generate_subscripts(string_split(text, ' '), 1) AS i
                FROM documents),
            c AS (
                SELECT doc_id, w, i,
                       coalesce(sum(len(w)) OVER (
                           PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS len_before,
                       coalesce(sum(CASE WHEN len(w) > 3 THEN 1 ELSE 0 END) OVER (
                           PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lw_before
                FROM w),
            k AS (
                SELECT doc_id,
                       coalesce(string_agg(w, '' ORDER BY i)
                           FILTER (WHERE len_before <= 35 AND lw_before <= 3), '') AS key
                FROM c GROUP BY doc_id)
            SELECT doc_id,
                   lower(regexp_replace(substr(key, 1, 200),
                         '[\\x00-\\x20!-/:-@\\[-`{-\\x7f]', '', 'g')) AS title_key
            FROM k
        """,
        "marc_extract": """
            SELECT c_custkey,
                   CAST(c_custkey AS VARCHAR) AS id,
                   c_name || ' : a test record' AS title,
                   c_name AS title_short,
                   'Writer, W.' AS author1,
                   CAST(1990 + c_custkey % 10 AS VARCHAR) AS publish_year,
                   CAST((c_custkey % 500) + 1 AS INTEGER) AS page_count,
                   'eng' AS lang1
            FROM customer
        """,
        "qdc_extract": """
            SELECT c_custkey,
                   'q' || CAST(c_custkey AS VARCHAR) AS id,
                   c_name AS title_short,
                   'qualified' AS title_sub,
                   'Alias ' || CAST(c_custkey AS VARCHAR) AS alt1,
                   '1234-567' || CAST(c_custkey % 10 AS VARCHAR) AS issn1
            FROM customer
        """,
        "lido_extract": """
            SELECT p_partkey,
                   p_name AS title,
                   p_type AS format,
                   'Museum ' || p_brand AS institution,
                   'Maker, M' || CAST(p_partkey AS VARCHAR) AS author1,
                   1 AS n_authors,
                   CAST(1800 + p_partkey % 200 AS VARCHAR) AS display_date,
                   p_brand AS material1,
                   'City ' || CAST(p_partkey % 77 AS VARCHAR) AS place1,
                   '(local)L' || CAST(p_partkey AS VARCHAR) AS ctrlnum1
            FROM part
        """,
        "upsert_orders": """
            SELECT 'o.' || CAST(o_orderkey AS VARCHAR) AS _id,
                   CASE WHEN o_orderkey % 2 = 0 THEN 'NEW-' || o_orderstatus
                        ELSE o_orderstatus END AS status,
                   CASE WHEN o_orderkey % 3 <> 0 THEN TIMESTAMP '2020-01-01'
                        ELSE TIMESTAMP '2021-06-01' END AS created,
                   CASE WHEN o_orderkey % 2 = 0 THEN TIMESTAMP '2021-06-01'
                        ELSE TIMESTAMP '2020-01-01' END AS updated
            FROM orders
            WHERE o_orderkey % 3 <> 0 OR o_orderkey % 2 = 0
        """,
        "copy_down_merged": """
            WITH m AS (
                SELECT 'o.' || CAST(o_orderkey AS VARCHAR) AS id,
                       o_custkey AS grp, o_orderpriority AS p
                FROM orders
            ), ord AS (
                SELECT grp, p, row_number() OVER (PARTITION BY grp ORDER BY id) AS rn
                FROM m
            ), dd AS (
                SELECT grp, p, min(rn) AS mrn FROM ord GROUP BY grp, p
            ), agg AS (
                SELECT grp, list(p ORDER BY mrn) AS group_topics FROM dd GROUP BY grp
            )
            SELECT m.id AS member_id, m.grp,
                   array_to_string(agg.group_topics, '|') AS group_topics
            FROM m JOIN agg USING (grp)
        """,
        "ead_extract": """
            SELECT s_suppkey,
                   'c' || CAST(s_suppkey AS VARCHAR) AS ctrlnum,
                   'file' AS level,
                   s_name AS title_short,
                   lower(regexp_replace(s_name, '[^a-zA-Z0-9]+', ' ', 'g')) AS title_sort,
                   'Lib' || CAST(s_nationkey AS VARCHAR) AS institution,
                   'About ' || s_name || '.   /   More.' AS description,
                   'Person, P' || CAST(s_suppkey AS VARCHAR) AS author1,
                   'Topic' || CAST(s_suppkey % 5 AS VARCHAR) AS topic1,
                   CAST(s_suppkey AS VARCHAR) || ' boxes' AS physical1
            FROM supplier
        """,
        "suppression_filter": """
            SELECT o_orderkey, o_orderstatus, o_orderpriority
            FROM orders
            WHERE NOT (o_orderstatus = 'F' OR o_orderpriority LIKE '1-%')
        """,
        "work_keys_marc": """
            SELECT c_custkey,
                   'AT writerw ' ||
                   regexp_replace(lower(c_name), '[^a-z0-9]', '', 'g')
                   || 'atestrecord' AS work_key,
                   1 AS n_keys
            FROM customer
        """,
        "dc_extract": _DC_EXTRACT_SQL,
        "pipeline_end_to_end": """
            SELECT 'pa.rec' || k AS dedup_id,
                   'Chronicle ' || k || ' of ' || c_name AS title,
                   CAST(1900 + c_custkey % 100 AS VARCHAR) AS publish_year,
                   'pa.rec' || k || ',pb.rec' || k AS members,
                   2 AS group_size
            FROM (SELECT c_custkey, c_name,
                         CAST(c_custkey AS VARCHAR) AS k FROM customer)
        """,
        "rdf_import_entities": """
            SELECT 'http://ent.example/' || k AS uri,
                   CASE WHEN s_name < ('namn ' || k)
                        THEN s_name || '|namn ' || k
                        ELSE 'namn ' || k || '|' || s_name END AS pref,
                   'alt' || k AS alt,
                   '6' || CAST(s_suppkey % 10 AS VARCHAR) || '.5' AS geo_lat
            FROM (SELECT s_suppkey, s_name,
                         CAST(s_suppkey AS VARCHAR) AS k FROM supplier)
        """,
        "genieplus_harvest_extract": """
            SELECT c_custkey,
                   'genieplus:lib:G' || k AS oai_id,
                   'G' || k AS local_id,
                   c_name || ' :' AS title245,
                   n_name AS pub260,
                   'G' || k AS id999,
                   1 AS n852,
                   'b1-' || k AS barcode852
            FROM (SELECT c_custkey, c_name, c_nationkey,
                         CAST(c_custkey AS VARCHAR) AS k FROM customer)
            JOIN nation ON c_nationkey = n_nationkey
        """,
        "sierra_harvest_extract": """
            SELECT s_suppkey,
                   'sierra:lib:' || k AS oai_id,
                   k AS local_id,
                   (s_suppkey % 7 = 0 OR s_suppkey % 5 = 0) AS deleted,
                   CASE WHEN s_suppkey % 7 = 0 OR s_suppkey % 5 = 0 THEN ''
                        ELSE s_name END AS title245,
                   CASE WHEN s_suppkey % 7 = 0 OR s_suppkey % 5 = 0 THEN ''
                        ELSE 'L' || CAST(s_nationkey AS VARCHAR) END AS loc852,
                   CASE WHEN s_suppkey % 7 = 0 OR s_suppkey % 5 = 0 THEN ''
                        ELSE 'm' || CAST(s_suppkey % 4 AS VARCHAR) END AS mat977,
                   CASE WHEN s_suppkey % 7 = 0 OR s_suppkey % 5 = 0 THEN ''
                        ELSE 'ctl' || k END AS ctl008
            FROM (SELECT *, CAST(s_suppkey AS VARCHAR) AS k FROM supplier)
        """,
        "oai_harvest_parse": """
            WITH two(i) AS (VALUES (1), (2))
            SELECT c_custkey,
                   CASE i WHEN 1 THEN 'oai:ex.org:rec-' || k
                          ELSE 'oai:ex.org:gone-' || k END AS oai_id,
                   CASE i WHEN 1 THEN 'src.rec-' || k
                          ELSE 'src.gone-' || k END AS _id,
                   CASE i WHEN 1 THEN '2024-01-0' || CAST(c_custkey % 9 + 1 AS VARCHAR)
                          ELSE '2024-01-09' END AS datestamp,
                   i = 2 AS deleted,
                   CASE i WHEN 1 THEN 'books,new' ELSE '' END AS sets,
                   CASE i WHEN 1 THEN '<dc><recordID>rec-' || k
                          || '</recordID><title>' || c_name || '</title></dc>'
                          ELSE '' END AS payload,
                   'tok' || k AS token
            FROM (SELECT c_custkey, c_name,
                         CAST(c_custkey AS VARCHAR) AS k FROM customer)
            CROSS JOIN two
        """,
        "marc_holdings_normalize": """
            SELECT o_orderkey,
                   'BR' || CAST(o_orderkey % 3 AS VARCHAR) AS branch,
                   'CN' || CAST(o_orderkey % 7 AS VARCHAR) AS callnumber,
                   o_orderkey % 5 <> 0 AS available
            FROM orders
        """,
        "dc_extract_struct": _DC_EXTRACT_SQL,
        "ese_extract": """
            SELECT c_custkey,
                   'e' || CAST(c_custkey AS VARCHAR) AS id,
                   c_name AS title_short,
                   'europeana' AS title_sub,
                   'eng,fin' AS langs,
                   CAST(1900 + c_custkey % 100 AS VARCHAR) AS publish_year,
                   '9780306406157' AS isbn1,
                   'https://last/' || CAST(c_custkey AS VARCHAR) AS url
            FROM customer
        """,
        "doaj_extract": """
            SELECT s_suppkey,
                   CASE WHEN s_suppkey % 2 = 0
                        THEN 'art-' || CAST(s_suppkey AS VARCHAR)
                        ELSE 'd' || CAST(s_suppkey AS VARCHAR) END AS id,
                   s_name AS title_short,
                   'an article' AS title_sub,
                   'First, F' || CAST(s_suppkey AS VARCHAR) AS author1,
                   1 AS n_authors,
                   'Kw' || CAST(s_suppkey % 7 AS VARCHAR) AS topic1,
                   'eng,swe' AS langs,
                   CAST(1990 + s_suppkey % 30 AS VARCHAR) AS publish_year,
                   'https://doaj.example/' || CAST(s_suppkey AS VARCHAR) AS url
            FROM supplier
        """,
        "exact_substring_dedup_docs": """
            WITH base AS (
                SELECT doc_id,
                       trim(text) || ' sh1 sh2 sh3 sh4 sh5 sh6 sh7 sh8 grp'
                           || CAST(doc_id % 3 AS VARCHAR) AS t2
                FROM documents
            ),
            toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(t2), '\\s+'),
                                   x -> x <> '') AS t
                FROM base
            ),
            grams AS (
                SELECT doc_id, CAST(pos AS INT) AS pos,
                       md5(array_to_string(t[pos:pos+7], ' ')) AS h
                FROM (
                    SELECT doc_id, t,
                           unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS pos
                    FROM toks
                )
            ),
            dup AS (SELECT h FROM grams GROUP BY h HAVING COUNT(*) >= 2),
            hits AS (
                SELECT doc_id, pos FROM grams WHERE h IN (SELECT h FROM dup)
            ),
            isl AS (
                SELECT doc_id, pos,
                       CASE WHEN lag(pos) OVER w IS NULL
                                 OR pos - lag(pos) OVER w >= 8
                            THEN 1 ELSE 0 END AS brk
                FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ),
            isl2 AS (
                SELECT doc_id, pos,
                       SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                FROM isl
            ),
            spans AS (
                SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 8 AS e,
                       COUNT(*) AS ng
                FROM isl2 GROUP BY 1, 2
            ),
            per_doc AS (
                SELECT doc_id, SUM(e - s) AS removed, SUM(ng) AS ndup
                FROM spans GROUP BY 1
            )
            SELECT t.doc_id,
                   CAST(len(t.t) AS BIGINT) AS n_tokens,
                   CAST(COALESCE(p.ndup, 0) AS BIGINT) AS n_dup_grams,
                   CAST(COALESCE(p.removed, 0) AS BIGINT) AS removed_tokens,
                   CAST(len(t.t) - COALESCE(p.removed, 0) AS BIGINT) AS kept_tokens
            FROM toks t LEFT JOIN per_doc p USING (doc_id)
        """,
        "lrmi_extract": """
            SELECT c_custkey,
                   'lr' || CAST(c_custkey AS VARCHAR) AS id,
                   c_name || ' : learning unit' AS title,
                   c_name || ' : learning unit' AS title_short,
                   CASE WHEN c_custkey % 3 = 0 THEN 'sv' ELSE 'fi,sv' END AS langs,
                   'Teacher, T' || CAST(c_custkey AS VARCHAR) AS author1,
                   2 AS n_author2,
                   'Edu Org' AS corp1,
                   'Topic ' || CAST(c_custkey % 9 AS VARCHAR) AS topic1,
                   'http://example.org/t/' || CAST(c_custkey AS VARCHAR) AS topic_id1
            FROM customer
        """,
        "ead3_split_extract": """
            WITH parts(i) AS (VALUES (1), (2), (3))
            SELECT s_suppkey,
                   CASE i WHEN 1 THEN 'A' || k
                          WHEN 2 THEN 'A' || k || '_S' || k
                          ELSE 'A' || k || '_F' || k END AS part_id,
                   CASE i WHEN 1 THEN 'fonds' WHEN 2 THEN 'series'
                          ELSE 'file' END AS level,
                   '000000' || CAST(i AS VARCHAR) AS sequence,
                   CASE i WHEN 1 THEN 'fonds' WHEN 2 THEN 'series'
                          ELSE 'file' END AS format,
                   CASE i WHEN 1 THEN 'Fonds ' || s_name
                          WHEN 2 THEN 'S' || k || ' Series One'
                          ELSE 'F' || k || ' File ' || s_name END AS title,
                   CASE i WHEN 1 THEN ''
                          WHEN 2 THEN 'S' || k
                          ELSE 'F' || k END AS title_sub,
                   CASE i WHEN 3 THEN 'Series One' ELSE '' END AS series,
                   CASE i WHEN 1 THEN NULL
                          WHEN 2 THEN 'A' || k
                          ELSE 'A' || k || '_S' || k END AS hierarchy_parent_id,
                   'Fonds ' || s_name AS hierarchy_top_title,
                   CASE i WHEN 3 THEN 'Topic' || CAST(s_suppkey % 6 AS VARCHAR)
                          ELSE NULL END AS topic1,
                   CASE i WHEN 3 THEN 'Person P' || k ELSE NULL END AS author1,
                   CASE i WHEN 3 THEN 'Archive ' || CAST(s_nationkey AS VARCHAR)
                          ELSE '' END AS institution
            FROM (SELECT s_suppkey, s_name, s_nationkey,
                         CAST(s_suppkey AS VARCHAR) AS k FROM supplier)
            CROSS JOIN parts
        """,
        "marc_authority_extract": """
            SELECT c_custkey,
                   'auth' || CAST(c_custkey AS VARCHAR) AS id,
                   CASE WHEN c_custkey % 4 = 0
                        THEN 'Corp ' || c_name || ' / Unit B'
                        ELSE 'Person, P' || CAST(c_custkey AS VARCHAR) END AS heading,
                   CASE WHEN c_custkey % 4 = 0
                        THEN 'Corporate Name' ELSE 'Personal Name' END AS record_type,
                   CASE WHEN c_custkey % 4 = 0
                        THEN 'CorpAlias ' || CAST(c_custkey AS VARCHAR)
                        ELSE 'Alias, A' || CAST(c_custkey AS VARCHAR) END AS use_for1,
                   CASE WHEN c_custkey % 4 = 0 THEN ''
                        ELSE CAST(1820 + c_custkey % 100 AS VARCHAR) END AS birth_date,
                   CASE WHEN c_custkey % 4 = 0 THEN ''
                        ELSE CAST(1880 + c_custkey % 100 AS VARCHAR) END AS death_date,
                   CASE WHEN c_custkey % 4 = 0 THEN '' ELSE 'Turku' END AS birth_place,
                   CASE WHEN c_custkey % 4 = 0 THEN '' ELSE 'Finland' END AS country,
                   CASE WHEN c_custkey % 4 = 0 THEN '' ELSE 'Music,Opera' END AS activities,
                   CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE 'Composer' END AS occupation1,
                   CASE WHEN c_custkey % 4 = 0 THEN NULL
                        ELSE 'occ' || CAST(c_custkey AS VARCHAR) END AS occ_id1
            FROM customer
        """,
        "forward_authority_extract": """
            SELECT s_suppkey,
                   'elonet_henkilo_' || CAST(s_suppkey AS VARCHAR) AS id,
                   s_name AS heading,
                   'elonet_henkilo' AS record_type,
                   CAST(1900 + s_suppkey % 80 AS VARCHAR) AS birth_date,
                   CAST(1950 + s_suppkey % 70 AS VARCHAR) AS death_date,
                   'Oulu' AS birth_place,
                   'Lahti' AS death_place,
                   'Kuopio' AS related_place1,
                   'Studio ' || CAST(s_suppkey % 5 AS VARCHAR) || ': Director' AS occupation1,
                   'Filmography|' || s_name || '|' || s_name AS allfields_joined
            FROM supplier
        """,
        "value_mapping_orders": """
            SELECT o_orderkey,
                   CASE o_orderstatus
                        WHEN 'O' THEN 'Open|Ongoing'
                        WHEN 'F' THEN 'Finished'
                        ELSE 'Other' END AS status_mapped
            FROM orders
        """,
        "regexp_mapping_orders": """
            SELECT o_orderkey,
                   CASE
                        WHEN o_orderpriority = '1-URGENT' THEN 'P1'
                        WHEN regexp_matches(o_orderpriority, '^([0-9])-(.*)$')
                             THEN 'P' || regexp_extract(o_orderpriority, '^([0-9])-(.*)$', 1)
                                   || ' (' || regexp_extract(o_orderpriority, '^([0-9])-(.*)$', 2) || ')'
                        ELSE 'UNKNOWN' END AS prio_mapped
            FROM orders
        """,
        "field_rules_orders": """
            WITH base AS (
                SELECT o_orderkey, [o_orderstatus, o_orderpriority] AS flags0
                FROM orders
            ), r1 AS (  -- copy flags prio match=/^[0-9]-/
                SELECT o_orderkey, flags0,
                       list_filter(flags0, v -> regexp_matches(v, '^[0-9]-')) AS prio
                FROM base
            ), r2 AS (  -- move flags status match=/^[A-Z]$/
                SELECT o_orderkey,
                       CASE WHEN len(list_filter(flags0, v -> regexp_matches(v, '^[A-Z]$'))) > 0
                            THEN list_filter(flags0, v -> NOT regexp_matches(v, '^[A-Z]$'))
                            ELSE flags0 END AS flags,
                       prio,
                       list_filter(flags0, v -> regexp_matches(v, '^[A-Z]$')) AS status
                FROM r1
            )
            SELECT o_orderkey,
                   array_to_string(flags, '|') AS flags,
                   array_to_string(prio, '|') AS prio,
                   array_to_string(status, '|') AS status,
                   array_to_string(
                     CASE WHEN len(flags) > 0 THEN flags ELSE ['NONE'] END,
                     '|') AS rest
            FROM r2
        """,
        "hierarchical_facets_geo": """
            SELECT n_nationkey,
                   '0/INST/' ||
                    '|1/INST/' || r_name || '/' ||
                    '|2/INST/' || r_name || '/' || n_name || '/' AS building_facets
            FROM nation JOIN region ON n_regionkey = r_regionkey
        """,
        "allfields_customer": """
            -- allfields = [name, segment, lower(segment), phone] with
            -- case-insensitive dedup keeping first occurrence: lower(segment)
            -- collides with segment and is dropped
            SELECT c_custkey,
                   c_name || '|' || c_mktsegment || '|'
                     || CAST(c_nationkey AS VARCHAR) AS allfields
            FROM customer
        """,
        "normalize_fields_docs": """
            SELECT doc_id,
                   left(text, 50) AS title,
                   array_to_string(list_filter([lang, source], v -> v != 'n/a'), '|') AS tags  -- list_distinct reorders in duckdb; no dups here
            FROM documents
        """,
        "callnumber_sort_keys": """
            WITH b AS (
                SELECT p_partkey,
                       CAST((p_partkey % 999) + 1 AS VARCHAR) AS d,
                       CAST((p_partkey % 89) + 10 AS VARCHAR) AS c
                FROM part
            )
            SELECT p_partkey,
                   'QA ' || length(d) || d || '.5 A' || length(c) || c AS lc_key,
                   true AS lc_valid
            FROM b
        """,
        "geo_centers": """
            WITH b AS (
                SELECT s_suppkey,
                       s_suppkey % 180 AS deg,
                       s_suppkey % 60 AS mm,
                       (s_suppkey * 7) % 60 AS ss,
                       s_suppkey % 100 AS x
                FROM supplier
            )
            SELECT s_suppkey,
                   round(deg + mm/60.0 + ss/3600.0, 6) AS dms_decimal,
                   CAST(x + 5 AS VARCHAR) || ' ' || CAST(x + 35 AS VARCHAR) AS env_center,
                   CAST(CAST(x AS DOUBLE) AS VARCHAR) || ' ' ||
                   CAST(CAST(x + 10 AS DOUBLE) AS VARCHAR) || ' ' ||
                   CAST(CAST(x + 50 AS DOUBLE) AS VARCHAR) || ' ' ||
                   CAST(CAST(x + 20 AS DOUBLE) AS VARCHAR) AS env_display,
                   CAST(x AS VARCHAR) || ' ' || CAST(x + 5 AS VARCHAR) AS point_center
            FROM b
        """,
        "enrich_topics_nation": """
            SELECT c_custkey,
                   n_name || '|N' || CAST(n_nationkey AS VARCHAR) AS topic_add
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        """,
        "link_resolution_lineitem": """
            SELECT l_orderkey, l_linenumber,
                   CAST(l_partkey AS VARCHAR) AS w,
                   CASE WHEN l_partkey % 2 = 0
                        THEN 'src.' || CAST(l_partkey AS VARCHAR) || '#r'
                        ELSE 'src.' || CAST(l_partkey AS VARCHAR) END AS resolved_id
            FROM lineitem
        """,
        "geocode_customers": """
            SELECT c_custkey, n_name AS loc,
                   CASE WHEN n_nationkey % 2 = 0 THEN
                     'ENVELOPE(' || CAST(CAST(n_nationkey AS DOUBLE) AS VARCHAR) || ', '
                       || CAST(CAST(n_nationkey + 10 AS DOUBLE) AS VARCHAR) || ', '
                       || CAST(CAST(n_nationkey + 40 AS DOUBLE) AS VARCHAR) || ', '
                       || CAST(CAST(n_nationkey + 20 AS DOUBLE) AS VARCHAR) || ')'
                   END AS location_geo,
                   CASE WHEN n_nationkey % 2 = 0
                        THEN CAST(n_nationkey + 5 AS VARCHAR) || ' '
                             || CAST(n_nationkey + 30 AS VARCHAR)
                        ELSE '' END AS center_coords
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        """,
        "xml_split_customers": """
            SELECT c_custkey, part_id, sequence
            FROM customer, (VALUES ('a', 1), ('b', 2)) AS t(prefix, sequence)
            ORDER BY c_custkey, sequence
        """.replace("part_id", "prefix || CAST(c_custkey AS VARCHAR) AS part_id"),
        "xslt_normalize_orders": """
            SELECT o_orderkey,
                   CASE substr(o_orderpriority, 1, 1)
                        WHEN '1' THEN 'Book'
                        WHEN '2' THEN 'Map'
                        WHEN '3' THEN 'SoundDisc'
                        WHEN '4' THEN 'SoundCassette'
                        WHEN '5' THEN 'Journal'
                        ELSE 'Other' END AS type_mapped,
                   o_orderstatus AS note
            FROM orders
        """,
        "multimodal_features": """
            SELECT doc_id AS id,
                   sha256(text) AS sha256,
                   CAST(strlen(text) AS INT) AS byte_len,
                   array_to_string(list_transform(range(1, 9),
                       i -> CAST(('0x' || substr(sha256(text), (i-1)*2+1, 2)) AS INT)
                   ), '|') AS feature_bytes
            FROM documents
        """,
        "id_sort_keys": """
            SELECT c_custkey,
                   CASE WHEN regexp_matches(c_name, '^\\w*(\\d+)$')
                        THEN regexp_extract(c_name, '^\\w*(\\d+)$', 1)
                        ELSE c_name END AS name_key,
                   CASE WHEN regexp_matches('cust' || CAST(c_custkey AS VARCHAR), '^\\w*(\\d+)$')
                        THEN regexp_extract('cust' || CAST(c_custkey AS VARCHAR), '^\\w*(\\d+)$', 1)
                        ELSE 'cust' || CAST(c_custkey AS VARCHAR) END AS synth_key
            FROM customer
        """,
        "text_quality": f"""
            WITH t AS (
                SELECT doc_id, {raw_toks} AS toks,
                       string_split_regex(trim(lower(text)), '\\s+') AS ltoks,
                       text
                FROM documents),
            s AS (
                SELECT doc_id,
                       len(toks) AS n_tokens,
                       CASE WHEN len(toks) > 0
                            THEN list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks)
                            ELSE 0.0 END AS mwl,
                       CASE WHEN len(ltoks) > 0
                            THEN {hits.format(t='ltoks', lst=_EN)}::DOUBLE / len(ltoks)
                            ELSE 0.0 END AS swr,
                       CASE WHEN len(text) > 0
                            THEN len(regexp_replace(text, '[^!-#%-*,-/:;?@\\[-\\]_{{}}]', '', 'g'))::DOUBLE / len(text)
                            ELSE 0.0 END AS pr
                FROM t)
            SELECT doc_id,
                   n_tokens::INTEGER AS n_tokens,
                   round(mwl, 4) AS mean_wlen,
                   round(swr, 4) AS stop_ratio,
                   round(((CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
                        + (CASE WHEN swr >= 0.05 THEN 1.0 ELSE 0.0 END)
                        + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.0 END)
                        + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END)) / 4.0, 2) AS quality
            FROM s
        """,
        "lang_id_pred": f"""
            WITH t AS (
                SELECT doc_id, lang,
                       string_split_regex(trim(lower(text)), '\\s+') AS lt
                FROM documents),
            h AS (
                SELECT doc_id, lang,
                       {hits.format(t='lt', lst=_EN)} AS en,
                       {hits.format(t='lt', lst=_DE)} AS de,
                       {hits.format(t='lt', lst=_FR)} AS fr,
                       {hits.format(t='lt', lst=_ES)} AS es,
                       {hits.format(t='lt', lst=_FI)} AS fi
                FROM t)
            SELECT doc_id, lang,
                   CASE WHEN greatest(en, de, fr, es, fi) = 0 THEN 'und'
                        WHEN en = greatest(en, de, fr, es, fi) THEN 'en'
                        WHEN de = greatest(en, de, fr, es, fi) THEN 'de'
                        WHEN fr = greatest(en, de, fr, es, fi) THEN 'fr'
                        WHEN es = greatest(en, de, fr, es, fi) THEN 'es'
                        ELSE 'fi' END AS lang_pred
            FROM h
        """,
        "token_stats": f"""
            WITH per AS (
                SELECT len({raw_toks}) AS nt,
                       list_sum(list_transform({raw_toks},
                           x -> CAST(ceil(len(x) / 4.0) AS INTEGER))) AS bt,
                       md5({_NORM.format(c='text')}) AS fp
                FROM documents)
            SELECT count(*) AS n_docs,
                   CAST(sum(nt) AS BIGINT) AS total_tokens,
                   CAST(sum(bt) AS BIGINT) AS total_bpe_tokens,
                   count(DISTINCT fp) AS distinct_fingerprints
            FROM per
        """,
        "exact_dup_docs": f"""
            SELECT doc_id AS id, md5(norm) AS fp,
                   min(doc_id) OVER (PARTITION BY norm) AS canonical_id
            FROM (SELECT doc_id, {_NORM.format(c='text')} AS norm FROM documents)
        """,
        "ngram_jaccard_pairs": f"""
            WITH d AS (
                SELECT doc_id, {_SHINGLES3.format(t=toks)} AS sh
                FROM documents WHERE doc_id < 300),
            p AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       round(len(list_intersect(a.sh, b.sh))::DOUBLE
                             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
                FROM d a JOIN d b ON a.doc_id < b.doc_id)
            SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.2
        """,
        "knn_ivf_full": """
            -- full-probe IVF is exhaustive: same result as brute force
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 20),
            c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
                  FROM embeddings),
            s AS (SELECT query_id, neighbor_id,
                         round(list_cosine_similarity(qv, cv), 6) AS cosine
                  FROM q, c WHERE query_id <> neighbor_id),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
                  FROM s)
            SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank
            FROM r WHERE rnk <= 5
        """,
        "knn_bruteforce": _knn_bruteforce_oracle_sql(),
        "ann_recall_lsh": _ann_recall_oracle_sql(),
        "embedding_neardup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 6) >= 0.35
        """,
        "marc_rich_extract": """
            WITH b AS (
              SELECT p_partkey AS k, p_partkey % 3 AS r3,
                     p_partkey % 7 AS m7, p_partkey % 5 AS m5,
                     p_partkey % 4 AS m4, (p_partkey % 999) + 1 AS d,
                     p_partkey % 900 AS m9
              FROM part
            )
            SELECT k AS p_partkey,
              CASE WHEN r3 = 0
                   THEN 'Author, A' || CAST(k AS VARCHAR)
                        || '|Helper, H' || CAST(k AS VARCHAR)
                   ELSE 'Author, A' || CAST(k AS VARCHAR) END AS authors,
              CASE WHEN r3 = 0 THEN '|aut' ELSE '' END AS author_roles,
              CASE WHEN r3 = 0 THEN ''
                   ELSE 'Helper, H' || CAST(k AS VARCHAR) END AS authors2,
              CASE WHEN r3 = 1 THEN 'edt' ELSE '' END AS author2_roles,
              'Topic' || CAST(m7 AS VARCHAR) || '|Sub' || CAST(m5 AS VARCHAR)
                AS topic_facets,
              'Genre' || CAST(m4 AS VARCHAR) AS genre_facets,
              CASE WHEN k % 2 = 0 THEN '10.1/p' || CAST(k AS VARCHAR)
                   ELSE '' END AS dois,
              CAST(k AS VARCHAR) AS oclc,
              'QA' AS callnumber_subject,
              'QA' || CAST(d AS VARCHAR) AS callnumber_label,
              lpad(CAST((m9 // 100) * 100 AS VARCHAR), 3, '0') AS dewey_hundreds,
              'Not Illustrated' AS illustrated
            FROM b
        """,
        "component_parts_policy": """
            WITH comp AS (
                SELECT l_orderkey,
                       'c.' || CAST(l_orderkey AS VARCHAR) || '.'
                            || CAST(l_linenumber AS VARCHAR) AS cid,
                       l_shipdate AS cdate
                FROM lineitem WHERE l_linenumber % 7 <> 0
            ), gathered AS (
                SELECT l_orderkey,
                       count(*) AS n,
                       max(cdate) AS max_cdate,
                       array_to_string(list(cid ORDER BY cid), '|') AS ids
                FROM comp GROUP BY l_orderkey
            ), h AS (
                SELECT o_orderkey,
                       'h.' || CAST(o_orderkey AS VARCHAR) AS _id,
                       ['Book','Journal','eJournal'][(o_orderkey % 3) + 1] AS format,
                       o_orderdate, g.n, g.max_cdate, g.ids
                FROM orders LEFT JOIN gathered g ON o_orderkey = g.l_orderkey
            )
            SELECT _id, format,
                   COALESCE(n, 0) > 0 AS has_component_parts,
                   CASE WHEN COALESCE(n, 0) > 0 AND format <> 'eJournal'
                        THEN n ELSE 0 END AS merged_component_count,
                   CASE WHEN COALESCE(n, 0) > 0 AND format <> 'eJournal'
                        THEN greatest(o_orderdate, max_cdate)
                        ELSE o_orderdate END AS date,
                   CASE WHEN COALESCE(n, 0) > 0 AND format <> 'eJournal'
                        THEN ids ELSE '' END AS component_ids
            FROM h
        """,
        "solr_batch_sizes": """
            WITH ub AS (
                   SELECT 'update' AS kind, count(*) AS batch_rows,
                          CAST(b + 1 AS INT) AS batch_rank
                   FROM (SELECT (row_number() OVER (ORDER BY o_orderkey) - 1)
                                // 500 AS b
                         FROM orders WHERE o_orderstatus <> 'F')
                   GROUP BY b
                 ),
                 db AS (
                   SELECT 'delete' AS kind, count(*) AS batch_rows,
                          CAST(b + 1 AS INT) AS batch_rank
                   FROM (SELECT (row_number() OVER (ORDER BY o_orderkey) - 1)
                                // 300 AS b
                         FROM orders WHERE o_orderstatus = 'F')
                   GROUP BY b
                 )
            SELECT * FROM ub UNION ALL SELECT * FROM db
        """,
        "export_filtered_orders": """
            SELECT o_orderkey, o_orderstatus AS status, 'b1' AS export_batch
            FROM orders WHERE o_orderkey % 4 >= 2
        """,
        "preview_marc_record": """
            SELECT 'prev1' AS id,
                   'Preview title : the subtitle' AS title,
                   'Preview title' AS title_short,
                   'Previewer, P.' AS author1,
                   '1999' AS publish_year,
                   'Book' AS format
        """,
        "once_per_group_orders": """
            SELECT DISTINCT o_custkey AS grp FROM orders
        """,
        "linemarc_extract": """
            SELECT c_custkey,
                   'L' || CAST(c_custkey AS VARCHAR) AS rec_id,
                   c_name AS title_short,
                   'a line test' AS title_sub,
                   'Writer, W' || CAST(c_custkey AS VARCHAR) AS author1,
                   '1999' AS publish_year
            FROM customer
        """,
        "ead_split_extract": """
            SELECT s_suppkey,
                   'E' || CAST(s_suppkey AS VARCHAR) || '_' || t.pfx
                     || CAST(s_suppkey AS VARCHAR) AS part_id,
                   'E' || CAST(s_suppkey AS VARCHAR) AS archive_id,
                   'FA ' || s_name AS archive_title,
                   t.seq AS sequence,
                   t.level AS level,
                   CASE t.level
                        WHEN 'fonds' THEN ''
                        WHEN 'series' THEN 'Fonds ' || s_name
                        ELSE 'Fonds ' || s_name || '|Series One' END AS inherited
            FROM supplier,
                 (VALUES ('A', '0000001', 'fonds'),
                         ('S', '0000002', 'series'),
                         ('F', '0000003', 'file')) AS t(pfx, seq, level)
        """,
        "music_enrich_orders": """
            SELECT 'o.' || CAST(o_orderkey AS VARCHAR) AS _id,
                   -- COALESCE: duckdb's runtime list_concat of two empty
                   -- CASE-branch lists yields NULL rather than []
                   COALESCE(array_to_string(list_concat(
                     CASE WHEN o_orderkey % 4 = 0 AND o_orderkey % 100 <= 24
                          THEN ['mb-isrc-' || CAST(o_orderkey % 100 AS VARCHAR)]
                          ELSE [] END,
                     CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 30 <= 24
                          THEN ['mb-q-' || CAST(o_orderkey % 30 AS VARCHAR)]
                          WHEN o_orderkey % 2 = 1 AND o_orderkey % 30 <= 24
                               AND o_orderkey % 50 = o_orderkey % 30
                          THEN ['mb-f-' || CAST(o_orderkey % 30 AS VARCHAR)]
                          ELSE [] END),
                     '|'), '') AS mbids
            FROM orders
        """,
        "authority_enrich_customers": """
            SELECT c_custkey,
                   CASE WHEN c_custkey % 4 <> 0
                        THEN n_name || '|Variant ' || CAST(c_nationkey AS VARCHAR)
                        ELSE '' END AS variants
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        """,
        "scalar_functions_grid": """
            SELECT c_custkey,
                   CASE WHEN c_custkey % 3 = 0 THEN CAST(epoch(
                     ('19' || lpad(CAST(c_custkey % 99 AS VARCHAR), 2, '0')
                      || '-' || lpad(CAST(c_custkey % 12 + 1 AS VARCHAR), 2, '0')
                      || '-' || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0')
                     )::TIMESTAMP) AS BIGINT) END AS date_epoch,
                   c_name || ', First M' AS last_first,
                   'aut ' || CAST(c_custkey % 5 AS VARCHAR) AS relator,
                   CAST(1900 + c_custkey % 120 AS VARCHAR) AS year
            FROM customer
        """,
        "scalar_functions_grid2": """
            SELECT c_custkey,
                   CASE WHEN c_custkey % 3 = 0 THEN CAST(epoch(
                     make_timestamp(1900 + c_custkey % 99,
                                    c_custkey % 12 + 1,
                                    c_custkey % 28 + 1,
                                    c_custkey % 24,
                                    c_custkey % 60,
                                    c_custkey % 60)) AS BIGINT) END AS iso_epoch,
                   strftime(to_timestamp(c_custkey * 977),
                            '%Y-%m-%dT%H:%M:%SZ') AS ts_str,
                   upper(substr(lower(c_name), 1, 1))
                     || substr(lower(c_name), 2) AS ucf,
                   'ab' || c_mktsegment || 'z' AS scc,
                   '<a><b>' || c_name || '</b></a>' AS xml_trim,
                   c_mktsegment || '|x' AS trimmed
            FROM customer
        """,
        "copy_down_parent": """
            SELECT CAST(l_orderkey AS VARCHAR) || '.'
                     || CAST(l_linenumber AS VARCHAR) AS member_id,
                   l_orderkey AS grp,
                   o_orderpriority AS topics
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_linenumber <= 2
        """,
        "fulltext_trait_docs": """
            SELECT doc_id,
                   regexp_replace(
                     substr(text, 1, 40) || ' frag-' || chr(10) || ' mented'
                       || ' ' || 'tail ' || lang,
                     '([^\\s]+)-\\s*[\\n\\r]+\\s*', '\\1', 'g') AS fulltext
            FROM documents
        """,
        "geocode_simplify_customers": """
            WITH r AS (
              SELECT c_custkey, n_name, n_nationkey AS k, c_custkey % 3 AS m,
                     n_name LIKE '%FRANC%' AS blocked
              FROM customer JOIN nation ON c_nationkey = n_nationkey
            )
            SELECT c_custkey,
              CASE m WHEN 0 THEN n_name
                     WHEN 1 THEN n_name || ', suburb, extra'
                     ELSE 'Street ' || n_name || ' 5 b 12' END AS loc,
              CASE WHEN blocked THEN NULL
                   WHEN m = 0 THEN n_name
                   WHEN m = 1 THEN n_name || ', suburb'
                   ELSE 'Street ' || n_name || ' 5' END AS geocoded_term,
              CASE WHEN blocked THEN NULL
                   WHEN m = 1 THEN 1 ELSE 0 END AS simplify_level,
              CASE WHEN blocked THEN ''
                   WHEN m = 0 THEN 'ENVELOPE(' || CAST(CAST(k AS DOUBLE) AS VARCHAR)
                     || ', ' || CAST(CAST(k + 10 AS DOUBLE) AS VARCHAR)
                     || ', 50.0, 40.0)'
                   WHEN m = 1 THEN 'ENVELOPE(' || CAST(CAST(k + 100 AS DOUBLE) AS VARCHAR)
                     || ', ' || CAST(CAST(k + 110 AS DOUBLE) AS VARCHAR)
                     || ', 50.0, 40.0)'
                   ELSE 'ENVELOPE(' || CAST(CAST(k + 200 AS DOUBLE) AS VARCHAR)
                     || ', ' || CAST(CAST(k + 210 AS DOUBLE) AS VARCHAR)
                     || ', 50.0, 40.0)' END AS location_geo,
              CASE WHEN blocked THEN ''
                   WHEN m = 0 THEN CAST(k + 5 AS VARCHAR) || ' 45'
                   WHEN m = 1 THEN CAST(k + 105 AS VARCHAR) || ' 45'
                   ELSE CAST(k + 205 AS VARCHAR) || ' 45' END AS center_coords
            FROM r
        """,
        "sfx_harvest_files": """
            WITH b AS (
              SELECT p_partkey AS pk, p_name,
                     lpad(CAST((p_partkey % 28) + 1 AS VARCHAR), 2, '0') AS dd,
                     lpad(CAST(p_partkey % 24 AS VARCHAR), 2, '0') AS hh
              FROM part
              WHERE pk % 13 <> 0 AND pk % 17 <> 0   -- prefix/suffix filters
            ), f AS (
              SELECT pk, p_name,
                     'sfx_dump_202403' || dd || hh || '0000.xml' AS filename,
                     ('2024-03-' || dd || ' ' || hh || ':00:00')::TIMESTAMP
                       AS fd
              FROM b
            )
            SELECT filename,
                   CAST(fd AS VARCHAR) AS file_date,
                   'SFX' || CAST(pk AS VARCHAR) AS record_id,
                   'sfx:mysfx:SFX' || CAST(pk AS VARCHAR) AS oai_id,
                   pk % 9 <> 0 AS modified,
                   true AS has_001
            FROM f
            WHERE fd > TIMESTAMP '2024-03-05 00:00:00'
              AND fd <= TIMESTAMP '2024-03-20 23:59:59'
        """,
        "oai_provider_serve": """
            WITH r AS (
              SELECT c_custkey AS k,
                     'c.' || CAST(c_custkey AS VARCHAR) AS _id,
                     c_name, c_mktsegment AS seg,
                     c_custkey % 11 = 0 AS deleted,
                     c_custkey % 5 = 0 AS has_oai,
                     lpad(CAST(c_custkey % 60 AS VARCHAR), 2, '0') AS mm
              FROM customer
            ), page AS (
              SELECT * FROM r
              ORDER BY ('2024-01-01 00:' || mm || ':00')::TIMESTAMP, _id
              OFFSET 100 LIMIT 200
            )
            SELECT _id,
              '<header' ||
              CASE WHEN deleted THEN ' status="deleted"' ELSE '' END ||
              '><identifier>' ||
              CASE WHEN has_oai THEN 'oai:ext:' || CAST(k AS VARCHAR)
                   ELSE 'oai:repo:c.' || CAST(k AS VARCHAR) END ||
              '</identifier><datestamp>2024-01-01T00:' || mm ||
              ':00Z</datestamp>' ||
              CASE WHEN seg = 'BUILDING' THEN '<setSpec>building</setSpec>'
                   WHEN seg = 'AUTOMOBILE' THEN '<setSpec>auto</setSpec>'
                   ELSE '' END ||
              '</header>' AS oai_header,
              CASE WHEN deleted THEN '' ELSE
                '<metadata><oai_dc:dc xmlns:oai_dc="http://www.openarchives.org/OAI/2.0/oai_dc/"'
                || ' xmlns:dc="http://purl.org/dc/elements/1.1/"><dc:title>'
                || c_name || '</dc:title><dc:creator>Author &amp; ' || seg
                || '</dc:creator><dc:identifier>' || _id
                || '</dc:identifier></oai_dc:dc></metadata>'
              END AS oai_metadata
            FROM page
        """,
        "dirty_hosts_propagation": """
            SELECT DISTINCT 'p.' || CAST(l_partkey AS VARCHAR) AS dirty_host_id
            FROM lineitem
            WHERE l_linenumber = 1 AND l_orderkey % 7 = 0
              AND l_partkey IN (SELECT p_partkey FROM part)
        """,
        "streaming_hourly_rollup": """
            SELECT date_trunc('hour', ts) AS hour_start, event_type,
                   count(*) AS n, round(sum(value), 4) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "stateful_skip_unchanged": """
            SELECT CAST(o_orderkey AS VARCHAR) AS _id,
                   o_orderstatus AS content_hash,
                   true AS is_new, 0 AS run
            FROM orders WHERE o_orderkey <= 2000
            UNION ALL
            SELECT CAST(o_orderkey AS VARCHAR),
                   'NEW-' || o_orderstatus, false, 1
            FROM orders WHERE o_orderkey <= 2000 AND o_orderkey % 3 = 0
        """,
        # minhash/simhash/knn_lsh are approximate but DETERMINISTIC (md5-
        # derived hash families chosen for engine reproducibility), so the
        # full pipelines replicate in DuckDB SQL bit-for-bit.
        "minhash_near_dup": _minhash_oracle_sql(),
        "minhash_incremental_docs": _minhash_incremental_oracle_sql(),
        "fuzzy_decontamination_docs": _fuzzy_decontam_oracle_sql(),
        # PQ/ADC with md5-grid codebooks: centroid values, the argmin
        # encode (first-minimum = smallest index, mirrored by the
        # row_number (dist, j) order), and the ADC table lookups all
        # recompute relationally — nothing is copied from the engine.
        "knn_pq_full": f"""
            WITH cents AS (
              SELECT s.s, j.j, d.d,
                     ((({_HEX15.format(
                         h="md5('pq:' || s.s || ':' || j.j || ':' || d.d)"
                     )}) % 2001) - 1000) / 1000.0 AS c
              FROM range(0, 8) s(s), range(0, 16) j(j), range(0, 8) d(d)
            ), vecs AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), dsub AS (
              SELECT vec_id, c.s AS s, c.j AS j,
                     sum((v[c.s * 8 + c.d + 1] - c.c)
                         * (v[c.s * 8 + c.d + 1] - c.c)) AS dist
              FROM vecs, cents c GROUP BY 1, 2, 3
            ), codes AS (
              SELECT vec_id, s, j AS code FROM (
                SELECT vec_id, s, j, row_number() OVER (
                  PARTITION BY vec_id, s ORDER BY dist, j) AS rn
                FROM dsub)
              WHERE rn = 1
            ), adc AS (
              SELECT d.vec_id AS query_id, n.vec_id AS neighbor_id,
                     round(sum(d.dist), 6) AS adc_dist
              FROM codes n JOIN dsub d ON d.s = n.s AND d.j = n.code
              WHERE d.vec_id < 20 AND d.vec_id <> n.vec_id
              GROUP BY 1, 2
            ), r AS (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rnk
              FROM adc)
            SELECT query_id, neighbor_id, adc_dist, CAST(rnk AS INT) AS "rank"
            FROM r WHERE rnk <= 5
        """,
        # IVFADC with md5-grid coarse centroids + codebooks: coarse
        # assignment, residual PQ codes, per-(query, cell) residual ADC
        # tables, all-cell probe — everything recomputed relationally.
        "knn_ivfadc_full": f"""
            WITH ccents AS (
              SELECT ci.ci, d.d,
                     ((({_HEX15.format(
                         h="md5('ivf:' || ci.ci || ':' || d.d)"
                     )}) % 2001) - 1000) / 1000.0 AS c
              FROM range(0, 8) ci(ci), range(0, 64) d(d)
            ), pcents AS (
              SELECT s.s, j.j, d.d,
                     ((({_HEX15.format(
                         h="md5('pq:' || s.s || ':' || j.j || ':' || d.d)"
                     )}) % 2001) - 1000) / 1000.0 AS c
              FROM range(0, 8) s(s), range(0, 16) j(j), range(0, 8) d(d)
            ), vecs AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), cd AS (
              SELECT vec_id, cc.ci,
                     sum((v[cc.d + 1] - cc.c) * (v[cc.d + 1] - cc.c)) AS dist
              FROM vecs, ccents cc GROUP BY 1, 2
            ), cell AS (
              SELECT vec_id, ci AS cell FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY dist, ci) AS rn FROM cd)
              WHERE rn = 1
            ), res AS (
              SELECT v.vec_id, cc.d, v.v[cc.d + 1] - cc.c AS r
              FROM vecs v JOIN cell cl USING (vec_id)
              JOIN ccents cc ON cc.ci = cl.cell
            ), rd AS (
              SELECT r.vec_id, p.s, p.j,
                     sum((r.r - p.c) * (r.r - p.c)) AS dist
              FROM res r JOIN pcents p ON p.s * 8 + p.d = r.d
              GROUP BY 1, 2, 3
            ), codes AS (
              SELECT vec_id, s, j AS code FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM rd)
              WHERE rn = 1
            ), qres AS (
              SELECT v.vec_id, cc.ci, cc.d, v.v[cc.d + 1] - cc.c AS r
              FROM vecs v, ccents cc WHERE v.vec_id < 20
            ), qtab AS (
              SELECT q.vec_id, q.ci, p.s, p.j,
                     sum((q.r - p.c) * (q.r - p.c)) AS dist
              FROM qres q JOIN pcents p ON p.s * 8 + p.d = q.d
              GROUP BY 1, 2, 3, 4
            ), adc AS (
              SELECT t.vec_id AS query_id, n.vec_id AS neighbor_id,
                     round(sum(t.dist), 6) AS adc_dist
              FROM codes n
              JOIN cell cl ON cl.vec_id = n.vec_id
              JOIN qtab t ON t.ci = cl.cell AND t.s = n.s AND t.j = n.code
              WHERE t.vec_id <> n.vec_id
              GROUP BY 1, 2
            ), r2 AS (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rnk
              FROM adc)
            SELECT query_id, neighbor_id, adc_dist, CAST(rnk AS INT) AS "rank"
            FROM r2 WHERE rnk <= 5
        """,
        "line_dedup_docs": """
            WITH d AS (
              SELECT doc_id, 'SHARED HEADER' || chr(10) || substr(text,1,60)
                || chr(10) ||
                CASE WHEN doc_id % 2 = 0 THEN 'EVEN FOOTER'
                     ELSE 'unique tail ' || CAST(doc_id AS VARCHAR) END AS t
              FROM documents
            ), s AS (
              SELECT doc_id, string_split(t, chr(10)) AS ls FROM d
            ), l AS (
              SELECT doc_id,
                     unnest([struct_pack(pos := i, line := ls[i])
                             FOR i IN range(1, len(ls)+1)],
                            recursive := true)
              FROM s
            ), c AS (
              SELECT line, count(DISTINCT doc_id) AS docs FROM l GROUP BY line
            ), k AS (
              SELECT l.doc_id, l.pos, l.line
              FROM l JOIN c USING (line) WHERE c.docs <= 3
            ), agg AS (
              SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
              FROM k GROUP BY doc_id
            )
            SELECT d.doc_id, COALESCE(agg.text, '') AS text
            FROM d LEFT JOIN agg USING (doc_id)
        """,
        "tfidf_keywords_docs": f"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex({_NORM.format(c='text')},
                                               '\\s+')) AS term
              FROM documents
            ), t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY 1, 2),
            dfq AS (SELECT term, count(*) AS dfn FROM tf GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
            s AS (SELECT doc_id, term, tf, dfn,
                         round(tf * ln(nd / CAST(dfn AS DOUBLE)), 6) AS score
                  FROM tf JOIN dfq USING (term), n),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
                  FROM s)
            SELECT doc_id AS id, term, tf, dfn AS df, score,
                   CAST(rnk AS INT) AS "rank"
            FROM r WHERE rnk <= 5
        """,
        "shard_manifest_docs": f"""
            WITH h AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split_regex(trim(text),
                          '\\s+'), x -> x <> '')) AS BIGINT) AS nt,
                     {_HEX15.format(h="md5('0:' || CAST(doc_id AS VARCHAR))")}
                       AS mh
              FROM documents
            )
            SELECT CAST(mh % 16 AS INT) AS shard,
                   count(*) AS n_docs,
                   CAST(sum(nt) AS BIGINT) AS n_tokens,
                   bit_xor(mh) AS content_hash
            FROM h GROUP BY 1
        """,
        "shuffle_shards_docs": f"""
            WITH h AS (
              SELECT doc_id,
                     md5('42:' || CAST(doc_id AS VARCHAR)) AS hh
              FROM documents
            )
            SELECT doc_id,
                   CAST(({_HEX15.format(h='hh')} % 64) AS INT) AS shard,
                   hh AS sort_key
            FROM h
        """,
        "paragraph_dedup_docs": f"""
            WITH d AS (
              SELECT doc_id,
                     'Shared header paragraph.' || chr(10) || chr(10)
                     || substr(text, 1, 60) || chr(10) || chr(10) ||
                     CASE WHEN doc_id % 2 = 0 THEN 'Even footer paragraph.'
                          ELSE 'unique tail ' || CAST(doc_id AS VARCHAR)
                     END AS t
              FROM documents
            ), s AS (
              SELECT doc_id, string_split(t, chr(10) || chr(10)) AS ps FROM d
            ), p AS (
              SELECT doc_id,
                     unnest([struct_pack(pos := i, para := ps[i])
                             FOR i IN range(1, len(ps)+1)],
                            recursive := true)
              FROM s
            ), ph AS (
              SELECT doc_id, pos, para,
                     {_NORM.format(c='para')} AS np
              FROM p
            ), f AS (
              SELECT doc_id, pos, para, np,
                     CASE WHEN np = '' THEN 1 ELSE row_number() OVER (
                       PARTITION BY np ORDER BY doc_id, pos) END AS rn
              FROM ph
            ), k AS (
              SELECT doc_id, pos, para FROM f WHERE rn = 1
            ), agg AS (
              SELECT doc_id,
                     string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text,
                     count(*) AS kept
              FROM k GROUP BY doc_id
            ), tot AS (
              SELECT doc_id, count(*) AS np FROM p GROUP BY doc_id
            )
            SELECT tot.doc_id, COALESCE(agg.text, '') AS text,
                   tot.np AS n_paragraphs,
                   COALESCE(agg.kept, 0) AS kept_paragraphs,
                   round(COALESCE(agg.kept, 0) / CAST(tot.np AS DOUBLE), 6)
                       AS kept_ratio
            FROM tot LEFT JOIN agg USING (doc_id)
        """,
        "cluster_corpus_embeddings": """
            WITH c AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), seeds AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
              FROM c ORDER BY vec_id LIMIT 16
            ), scored AS (
              SELECT c.vec_id, s.cell,
                     round(list_cosine_similarity(c.v, s.sv), 6) AS sim
              FROM c, seeds s
            ), assign AS (
              SELECT vec_id, cell, sim FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
                FROM scored) WHERE rn = 1
            ), stats AS (
              SELECT cell, COUNT(*) AS cluster_size FROM assign GROUP BY 1
            )
            SELECT a.vec_id AS id, a.cell AS cluster, a.sim, s.cluster_size
            FROM assign a JOIN stats s USING (cell)
        """,
        "semantic_dedup_embeddings": """
            WITH c AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), seeds AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
              FROM c ORDER BY vec_id LIMIT 16
            ), scored AS (
              SELECT c.vec_id, c.v, s.cell,
                     round(list_cosine_similarity(c.v, s.sv), 6) AS sim
              FROM c, seeds s
            ), assign AS (
              SELECT vec_id, v, cell FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
                FROM scored) WHERE rn = 1
            ), dropped AS (
              SELECT DISTINCT b.vec_id AS id
              FROM assign a JOIN assign b
                ON a.cell = b.cell AND a.vec_id < b.vec_id
              WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
            )
            SELECT a.vec_id AS id, a.cell AS cell, (d.id IS NULL) AS kept
            FROM assign a LEFT JOIN dropped d ON a.vec_id = d.id
        """,
        "winnow_fingerprint_docs": """
            WITH d AS (
              SELECT doc_id,
                     trim(regexp_replace(regexp_replace(lower(text),
                          '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')) AS t
              FROM documents
            ), g AS (
              SELECT doc_id,
                     [md5(substr(t, i, 5))
                      FOR i IN range(1, greatest(length(t) - 4, 1) + 1)] AS h
              FROM d
            ), wmin AS (
              SELECT doc_id,
                     CASE WHEN len(h) - 3 >= 1
                          THEN [list_min(h[j:j+3])
                                FOR j IN range(1, len(h) - 3 + 1)]
                          ELSE [list_min(h)] END AS wins
              FROM g
            )
            SELECT doc_id,
                   CAST(len(list_distinct(wins)) AS INTEGER) AS n_fp,
                   array_to_string(list_sort(list_distinct(wins)), '|') AS fp
            FROM wmin
        """,
        "winnow_neardup_pairs": f"""
            WITH d AS (
              SELECT doc_id,
                     trim(regexp_replace(regexp_replace(lower(text),
                          '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')) AS t
              FROM documents
            ), g AS (
              SELECT doc_id,
                     [md5(substr(t, i, 5))
                      FOR i IN range(1, greatest(length(t) - 4, 1) + 1)] AS h
              FROM d
            ), wmin AS (
              SELECT doc_id,
                     CASE WHEN len(h) - 3 >= 1
                          THEN [list_min(h[j:j+3])
                                FOR j IN range(1, len(h) - 3 + 1)]
                          ELSE [list_min(h)] END AS wins
              FROM g
            ), posts AS (
              SELECT doc_id, unnest(list_distinct(wins)) AS fph FROM wmin
            ), sizes AS (
              SELECT fph, count(*) AS n FROM posts GROUP BY fph
            ), small AS (
              -- bounded-state cap (r7): posting lists within the cap
              -- pass through exactly; over-cap lists keep the min id
              -- per md5 salt slot — model it so the oracle matches at
              -- every scale factor
              SELECT p.doc_id, p.fph
              FROM posts p JOIN sizes USING (fph) WHERE n <= 1000
            ), reps AS (
              SELECT fph, min(doc_id) AS doc_id
              FROM posts JOIN sizes USING (fph)
              WHERE n > 1000
              GROUP BY fph,
                       ({_HEX15.format(h="md5(CAST(doc_id AS VARCHAR))")}
                        % 1000)
            ), capped AS (
              SELECT doc_id, fph FROM small
              UNION ALL
              SELECT doc_id, fph FROM reps
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*) AS shared
            FROM capped a JOIN capped b
              ON a.fph = b.fph AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING count(*) >= 30
        """,
        "simhash_near_dup": _simhash_oracle_sql(),
        "knn_lsh": _knn_lsh_oracle_sql(),
        "gopher_repetition_docs": """
            WITH d AS (
              SELECT doc_id,
                     'SHARED HEADER' || chr(10) || substr(text,1,40) || chr(10)
                     || substr(text,1,40) || chr(10) || substr(text,41,40)
                     || chr(10) || 'unique tail ' || CAST(doc_id AS VARCHAR) AS t
              FROM documents
            ), l AS (
              SELECT doc_id,
                     unnest(list_filter(string_split(t, chr(10)), x -> x <> '')) AS line
              FROM d
            ), lc AS (
              SELECT doc_id, line, count(*) AS cnt, length(line) AS len
              FROM l GROUP BY doc_id, line
            ), lst AS (
              SELECT doc_id, sum(cnt) AS n,
                     sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS n_dup,
                     sum(cnt * len) AS chars,
                     sum(CASE WHEN cnt > 1 THEN cnt * len ELSE 0 END) AS dup_chars
              FROM lc GROUP BY doc_id
            ), tk AS (
              SELECT doc_id, length(text) AS tlen,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '') AS w
              FROM documents
            ), g2 AS (
              SELECT doc_id, tlen, unnest(CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)),
                                    i -> array_to_string(w[i:i+1], ' '))
                ELSE [array_to_string(w, ' ')] END) AS g
              FROM tk
            ), g2c AS (
              SELECT doc_id, any_value(tlen) AS tlen, g, count(*) AS cnt
              FROM g2 GROUP BY doc_id, g
            ), t2 AS (
              SELECT doc_id, cnt * length(g) / tlen AS frac
              FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY cnt DESC, length(g) DESC, g DESC) AS rn FROM g2c)
              WHERE rn = 1
            ), g3 AS (
              SELECT doc_id, tlen, unnest(CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1),
                                    i -> array_to_string(w[i:i+2], ' '))
                ELSE [array_to_string(w, ' ')] END) AS g
              FROM tk
            ), g3c AS (
              SELECT doc_id, any_value(tlen) AS tlen, g, count(*) AS cnt
              FROM g3 GROUP BY doc_id, g
            ), t3 AS (
              SELECT doc_id, cnt * length(g) / tlen AS frac
              FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY cnt DESC, length(g) DESC, g DESC) AS rn FROM g3c)
              WHERE rn = 1
            ), g5 AS (
              SELECT doc_id, tlen, unnest(CASE WHEN len(w) >= 5
                THEN list_transform(range(1, len(w) - 3),
                                    i -> array_to_string(w[i:i+4], ' '))
                ELSE [array_to_string(w, ' ')] END) AS g
              FROM tk
            ), g5c AS (
              SELECT doc_id, any_value(tlen) AS tlen, g, count(*) AS cnt
              FROM g5 GROUP BY doc_id, g
            ), d5 AS (
              SELECT doc_id,
                     sum(CASE WHEN cnt > 1 THEN cnt * length(g) ELSE 0 END)
                       / any_value(tlen) AS frac
              FROM g5c GROUP BY doc_id
            )
            SELECT lst.doc_id,
                   round(lst.n_dup / lst.n, 6) AS dup_line_frac,
                   round(lst.dup_chars / lst.chars, 6) AS dup_line_char_frac,
                   round(t2.frac, 6) AS top2_char_frac,
                   round(t3.frac, 6) AS top3_char_frac,
                   round(d5.frac, 6) AS dup5_char_frac,
                   (lst.n_dup / lst.n <= 0.30 AND lst.dup_chars / lst.chars <= 0.20
                    AND t2.frac <= 0.20 AND t3.frac <= 0.18
                    AND d5.frac <= 0.15) AS passes_repetition
            FROM lst JOIN t2 USING (doc_id) JOIN t3 USING (doc_id)
                     JOIN d5 USING (doc_id)
        """,
        "gopher_quality_docs": """
            WITH tk AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '') AS w
              FROM documents
            ), st AS (
              SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
                     COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
                       AS total_len,
                     CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                          AS BIGINT) AS n_alpha,
                     CAST(len(regexp_extract_all(text, '#'))
                          + len(regexp_extract_all(text, '\\.\\.\\.'))
                          AS BIGINT) AS n_sym,
                     CAST(len(list_filter(
                            ['the','be','to','of','and','that','have','with'],
                            s -> list_contains(list_transform(w, x -> lower(x)), s)))
                          AS BIGINT) AS stop_hits
              FROM tk
            )
            SELECT doc_id, n_words,
                   round(CASE WHEN n_words > 0 THEN total_len / n_words
                              ELSE 0 END, 6) AS mean_word_len,
                   round(CASE WHEN n_words > 0 THEN n_alpha / n_words
                              ELSE 0 END, 6) AS frac_alpha_words,
                   round(CASE WHEN n_words > 0 THEN n_sym / n_words
                              ELSE 0 END, 6) AS symbol_word_ratio,
                   stop_hits,
                   (n_words >= 50 AND n_words <= 100000
                    AND total_len / n_words >= 3.0
                    AND total_len / n_words <= 10.0
                    AND n_alpha / n_words >= 0.8
                    AND n_sym / n_words <= 0.1
                    AND stop_hits >= 2) AS passes
            FROM st
        """,
        "c4_clean_docs": """
            WITH d AS (
              SELECT doc_id,
                     substr(text,1,40) || '.' || chr(10) || 'Short line'
                     || chr(10) || 'This page uses cookie tracking.' || chr(10)
                     || substr(text,41,40) || chr(10) || 'Doc '
                     || CAST(doc_id AS VARCHAR) || ' closing sentence.' AS t
              FROM documents
            ), l AS (
              SELECT doc_id,
                     list_filter(string_split(t, chr(10)), x -> x <> '') AS ls
              FROM d
            ), k AS (
              SELECT doc_id, ls,
                     list_filter(ls, x ->
                       regexp_matches(x, '[.!?"]$')
                       AND len(list_filter(string_split_regex(x, '\\s+'),
                                           y -> y <> '')) >= 3
                       AND NOT regexp_matches(lower(x),
                                              'cookie|javascript|lorem ipsum')
                     ) AS kept
              FROM l
            )
            SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_total,
                   CAST(len(kept) AS BIGINT) AS n_kept,
                   array_to_string(kept, chr(10)) AS cleaned
            FROM k
        """,
        "pii_scrub_docs": """
            WITH p AS (
              SELECT doc_id,
                     substr(text,1,40) || ' contact user'
                     || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.'
                     || CAST(doc_id % 256 AS VARCHAR) || '.7 call +1 555 123 '
                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789'
                             ELSE '' END AS t0
              FROM documents
            ), s1 AS (
              SELECT doc_id,
                CAST(len(regexp_extract_all(t0, '\\b\\d{3}-\\d{2}-\\d{4}\\b'))
                     AS BIGINT) AS n_ssn,
                regexp_replace(t0, '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g') AS t1
              FROM p
            ), s2 AS (
              SELECT doc_id, n_ssn,
                CAST(len(regexp_extract_all(t1,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
                  AS n_email,
                regexp_replace(t1,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g') AS t2
              FROM s1
            ), s3 AS (
              SELECT doc_id, n_ssn, n_email,
                CAST(len(regexp_extract_all(t2,
                  '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ip,
                regexp_replace(t2, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b',
                               '<IP>', 'g') AS t3
              FROM s2
            ), s4 AS (
              SELECT doc_id, n_ssn, n_email, n_ip,
                CAST(len(regexp_extract_all(t3, '\\+?\\d[\\d -]{7,}\\d'))
                     AS BIGINT) AS n_phone,
                regexp_replace(t3, '\\+?\\d[\\d -]{7,}\\d', '<PHONE>', 'g') AS t4
              FROM s3
            )
            SELECT doc_id, n_ssn, n_email, n_ip, n_phone, t4 AS redacted
            FROM s4
        """,
        "contamination_docs": f"""
            WITH tk AS (
              SELECT doc_id,
                     list_filter(string_split_regex({_NORM.format(c='text')},
                                                    '\\s+'),
                                 x -> x <> '') AS w
              FROM documents
            ), gs AS (
              SELECT doc_id, CASE WHEN len(w) >= 5
                THEN list_distinct(list_transform(range(1, len(w) - 3),
                       i -> array_to_string(w[i:i+4], ' ')))
                ELSE [array_to_string(w, ' ')] END AS g
              FROM tk
            ), dg AS (
              SELECT doc_id, unnest(g) AS g FROM gs
            ), bench AS (
              SELECT DISTINCT g FROM dg WHERE doc_id % 97 = 0
            ), hits AS (
              SELECT dg.doc_id, count(*) AS n_hits
              FROM dg JOIN bench USING (g) GROUP BY dg.doc_id
            )
            SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
                   COALESCE(h.n_hits, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "llm_corpus_pipeline_docs": f"""
            WITH raw AS (
                SELECT doc_id, n_chars, text,
                    'https://'
                    || ['WWW.News.Example:443','news.example',
                        'Blog.Example:80','docs.example',
                        'News.example:8080','blog.example']
                        [CAST(doc_id % 6 AS INT) + 1]
                    || '/p/' || CAST(doc_id % 40 AS VARCHAR) AS url
                FROM documents
            ),
            parts AS (
                SELECT doc_id, n_chars, text,
                    coalesce(lower(regexp_extract(url, '^([^:/?#]+)://', 1)),
                             '') AS scheme,
                    regexp_replace(
                        coalesce(lower(regexp_extract(url,
                            '^[^:/?#]+://([^/?#]*)', 1)), ''),
                        '^www\\.', '') AS auth0,
                    coalesce(regexp_extract(url,
                        '^[^:/?#]+://[^/?#]*([^?#]*)', 1), '') AS path0
                FROM raw
            ),
            canon AS (
                SELECT doc_id, n_chars, text,
                    scheme || '://'
                    || (CASE WHEN scheme = 'http'
                             THEN regexp_replace(auth0, ':80$', '')
                             WHEN scheme = 'https'
                             THEN regexp_replace(auth0, ':443$', '')
                             ELSE auth0 END)
                    || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
                        AS canonical_url
                FROM parts
            ),
            kept AS (
                SELECT doc_id, text FROM (
                    SELECT doc_id, text, row_number() OVER (
                        PARTITION BY canonical_url
                        ORDER BY n_chars DESC, doc_id ASC) AS rn
                    FROM canon) WHERE rn = 1
            ),
            gated AS (
                SELECT doc_id,
                    CAST(len(list_filter(
                        string_split_regex(trim(text), '\\s+'),
                        x -> x <> '')) AS BIGINT) AS n_tokens
                FROM kept
            )
            SELECT doc_id,
                   CASE WHEN u < 0.75 THEN 'train'
                        WHEN u < 0.875 THEN 'val'
                        ELSE 'test' END AS split,
                   n_tokens
            FROM (
                SELECT doc_id, n_tokens,
                    {_HEX8.format(h="md5('split' || CAST(doc_id AS VARCHAR))")}
                        / 4294967296.0 AS u
                FROM gated WHERE n_tokens BETWEEN 5 AND 2000)
        """,
        "bloom_contamination_docs": f"""
            WITH tk AS (
              SELECT doc_id,
                     list_filter(string_split_regex({_NORM.format(c='text')},
                                                    '\\s+'),
                                 x -> x <> '') AS w
              FROM documents
            ), gs AS (
              SELECT doc_id, CASE WHEN len(w) >= 5
                THEN list_distinct(list_transform(range(1, len(w) - 3),
                       i -> array_to_string(w[i:i+4], ' ')))
                ELSE [array_to_string(w, ' ')] END AS g
              FROM tk
            ), dg AS (
              SELECT doc_id, unnest(g) AS g FROM gs
            ), bpos AS (
              SELECT DISTINCT p FROM (
                SELECT unnest([
                    {_HEX8.format(h="md5('bloom0:' || g)")} % 4096,
                    {_HEX8.format(h="md5('bloom1:' || g)")} % 4096,
                    {_HEX8.format(h="md5('bloom2:' || g)")} % 4096]) AS p
                FROM (SELECT DISTINCT g FROM dg WHERE doc_id % 97 = 0))
            ), dexp AS (
              SELECT doc_id, g, unnest([
                  {_HEX8.format(h="md5('bloom0:' || g)")} % 4096,
                  {_HEX8.format(h="md5('bloom1:' || g)")} % 4096,
                  {_HEX8.format(h="md5('bloom2:' || g)")} % 4096]) AS p
              FROM dg
            ), dchk AS (
              SELECT dexp.doc_id, dexp.g,
                     count(*) AS total, count(bpos.p) AS present
              FROM dexp LEFT JOIN bpos ON dexp.p = bpos.p
              GROUP BY dexp.doc_id, dexp.g
            ), hits AS (
              SELECT doc_id, count(*) AS n_hits
              FROM dchk WHERE present = total GROUP BY doc_id
            )
            SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
                   COALESCE(h.n_hits, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "forward_film_extract": """
            SELECT p_partkey,
                   'elonet_' || CAST(p_partkey AS VARCHAR) AS ctrlnum,
                   p_name AS title,
                   'Alt ' || CAST(p_partkey AS VARCHAR) AS alt1,
                   1 AS n_alt,
                   CAST(1900 + p_partkey % 100 AS VARCHAR) AS publishDate,
                   'Director D' || CAST(p_partkey AS VARCHAR) || '|Producer P'
                     || CAST(p_partkey AS VARCHAR) AS authors,
                   'd02|a00' AS author_roles,
                   'Actor A' || CAST(p_partkey AS VARCHAR) AS authors2,
                   3 AS n_agents,
                   'Director D' || CAST(p_partkey AS VARCHAR) AS author_sort,
                   'Synopsis ' || CAST(p_partkey AS VARCHAR) || ' Sisalto '
                     || CAST(p_partkey AS VARCHAR) AS description,
                   'Region ' || CAST(p_partkey % 7 AS VARCHAR) AS region1,
                   'MotionPicture' AS format
            FROM part
        """,
        "pack_sequences_docs": """
            WITH tk AS (
              SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS shard,
                     CAST(len(list_filter(
                            string_split_regex(trim(text), '\\s+'),
                            x -> x <> '')) AS BIGINT) AS n_tokens
              FROM documents
            ), c AS (
              SELECT doc_id, shard, n_tokens,
                     CAST(COALESCE(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS BIGINT) AS pack_offset
              FROM tk
            )
            SELECT doc_id, shard, n_tokens, pack_offset,
                   CAST(floor(pack_offset / 512) AS BIGINT) AS bin_start,
                   CAST(floor((pack_offset + greatest(n_tokens, 1) - 1)
                              / 512) AS BIGINT) AS bin_end,
                   CAST(floor((pack_offset + greatest(n_tokens, 1) - 1) / 512)
                        - floor(pack_offset / 512) + 1 AS BIGINT) AS n_bins
            FROM c
        """,
        "near_dup_prune_docs": """
            WITH scored AS (
              SELECT doc_id, doc_id % 40 AS grp,
                     round(
                       CAST(list_sum(list_transform(range(1, 9), i -> (strpos('0123456789abcdef', substr(md5('ndp' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)::BIGINT * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT)
                         / 4294967296.0, 9) AS q
              FROM documents
            ),
            ranked AS (
              SELECT doc_id, grp, q,
                     row_number() OVER (
                         PARTITION BY grp ORDER BY q DESC, doc_id
                     ) AS rn,
                     -- chain edges make each doc_id%40 group one cluster;
                     -- the CC label is the LEXICOGRAPHICALLY smallest id
                     -- string (the operator's cluster ids are strings)
                     min(CAST(doc_id AS VARCHAR)) OVER (PARTITION BY grp)
                         AS cluster_id
              FROM scored
            )
            SELECT doc_id, q, cluster_id, (rn = 1) AS keep
            FROM ranked
        """,
        "bpe_tokenize_docs": """
            WITH enc AS (
                SELECT doc_id,
                    list_transform(
                        list_filter(
                            regexp_split_to_array(
                                trim(coalesce(text, '')), '\\s+'
                            ),
                            w -> w <> ''
                        ),
                        w -> replace(replace(replace(replace(replace(
                             replace(replace(replace(
                                 array_to_string(
                                     regexp_split_to_array(w, ''), ' '
                                 ) || ' ▁',
                             'e ▁', 'e▁'),
                             't h', 'th'),
                             'th e▁', 'the▁'),
                             'i n', 'in'),
                             'a n', 'an'),
                             'o n', 'on'),
                             'e r', 'er'),
                             's ▁', 's▁')
                    ) AS words
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN len(words) = 0 THEN 0
                        ELSE CAST(len(string_split(
                            array_to_string(words, ' '), ' ')) AS BIGINT)
                   END AS n_bpe,
                   CASE WHEN len(words) = 0 THEN ''
                        ELSE array_to_string(
                            string_split(array_to_string(words, ' '), ' ')[1:12],
                            '|')
                   END AS bpe_head
            FROM enc
        """,
        "chunk_documents_docs": """
            WITH base AS (
                SELECT doc_id, coalesce(text, '') AS text,
                       length(coalesce(text, '')) AS n
                FROM documents
            ),
            k AS (
                SELECT doc_id, text,
                       CASE WHEN n <= 120 THEN 1
                            ELSE CAST(ceil((n - 120) / 96.0) AS INT) + 1
                       END AS nchunks
                FROM base
            )
            SELECT doc_id,
                   CAST(i AS INT) AS chunk_idx,
                   CAST(i * 96 + 1 AS BIGINT) AS chunk_start,
                   substr(text, CAST(i * 96 + 1 AS INT), 120) AS chunk_text
            FROM k, UNNEST(range(nchunks)) AS t(i)
        """,
        "quality_buckets_docs": """
            WITH scored AS (
              SELECT doc_id, lang,
                     round(
                       CAST(list_sum(list_transform(range(1, 9), i -> (strpos('0123456789abcdef', substr(md5('ppl' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)::BIGINT * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT)
                         / 4294967296.0, 9) AS score
              FROM documents
            ),
            th AS (
              SELECT lang,
                     quantile_cont(score, 1.0/3.0) AS q1,
                     quantile_cont(score, 2.0/3.0) AS q2
              FROM scored GROUP BY lang
            )
            SELECT s.doc_id, s.lang, s.score,
                   CASE WHEN s.score <= th.q1 THEN 'head'
                        WHEN s.score <= th.q2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM scored s JOIN th USING (lang)
        """,
        "config_pipeline_orders": """
            SELECT CAST(o_orderkey AS VARCHAR) AS id,
                   trim(o_orderpriority) AS genre1,
                   CASE trim(o_orderpriority)
                        WHEN '1-URGENT' THEN 'Urgent'
                        WHEN '2-HIGH' THEN 'High'
                        ELSE 'Routine' END AS format1,
                   '0/Inst/' || '|' || '1/Inst/'
                       || CASE WHEN o_orderkey % 2 = 0
                               THEN 'MAIN' ELSE 'SUB' END
                       || '/' AS building_str,
                   'library' AS sector
            FROM orders
        """,
        "streaming_content_dedup": """
            WITH b1 AS (
                SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                       'fp' || CAST(doc_id % 100 AS VARCHAR) AS fingerprint
                FROM documents WHERE doc_id < 300
            ),
            b2_new AS (
                SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                       'fp-new-' || CAST(doc_id AS VARCHAR) AS fingerprint
                FROM documents WHERE doc_id >= 300 AND doc_id < 350
            ),
            -- run 0 emits one row per batch-1 fingerprint: winner = min
            -- doc_id (numeric order of the string ids matches numeric
            -- here only by luck, so order by the STRING like the
            -- operator), n_seen = batch-1 arrivals
            r0 AS (
                SELECT fingerprint, MIN(doc_id) AS doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_seen, 0 AS run
                FROM b1 GROUP BY fingerprint
            ),
            -- run 1 emits only the brand-new fingerprints (each once)
            r1 AS (
                SELECT fingerprint, doc_id, CAST(1 AS BIGINT) AS n_seen,
                       1 AS run
                FROM b2_new
            )
            SELECT * FROM r0 UNION ALL SELECT * FROM r1
        """,
        "url_blocklist_docs": """
            WITH b AS (
                SELECT doc_id,
                       ['ads.tracker.example','sub.spam.example','ok.example',
                        'notspam.example','spam.example'][CAST(doc_id % 5 AS INT) + 1]
                           AS host,
                       CASE WHEN doc_id % 7 = 0
                            THEN text || ' badword tail' ELSE text END AS t2
                FROM documents
            )
            SELECT doc_id, host,
                   (host = 'spam.example' OR host LIKE '%.spam.example'
                    OR host = 'ads.tracker.example'
                    OR host LIKE '%.ads.tracker.example') AS domain_blocked,
                   CAST(len(list_filter(['badword', 'verboten'],
                        w -> list_contains(
                            list_transform(
                                list_filter(
                                    string_split_regex(trim(t2), '\\s+'),
                                    x -> x <> ''),
                                x -> lower(x)),
                            w))) AS INT) AS bad_hits
            FROM b
        """,
        "url_canonical_dedup_docs": """
            WITH raw AS (
                SELECT doc_id, n_chars,
                    ['HTTPS','https','http','https','http','https']
                        [CAST(doc_id % 6 AS INT) + 1]
                    || '://'
                    || ['WWW.News.Example:443','news.example',
                        'Blog.Example:80','docs.example',
                        'News.example:8080','blog.example']
                        [CAST(doc_id % 6 AS INT) + 1]
                    || '/p/' || CAST(doc_id % 40 AS VARCHAR)
                    || ['?utm_source=x&b=2&a=1','?a=1&b=2',
                        '?b=2&a=1&fbclid=zz','']
                        [CAST(doc_id % 4 AS INT) + 1]
                    || CASE WHEN doc_id % 3 = 0 THEN '#sec' ELSE '' END
                    AS url
                FROM documents
            ),
            comp AS (
                SELECT doc_id, n_chars,
                    trim(regexp_replace(trim(url), '#.*$', '')) AS u
                FROM raw
            ),
            parts AS (
                SELECT doc_id, n_chars, u,
                    coalesce(lower(regexp_extract(u, '^([^:/?#]+)://', 1)), '') AS scheme,
                    regexp_replace(
                        coalesce(lower(regexp_extract(u, '^[^:/?#]+://([^/?#]*)', 1)), ''),
                        '^www\\.', '') AS auth0,
                    coalesce(regexp_extract(u, '^[^:/?#]+://[^/?#]*([^?#]*)', 1), '')
                        AS path0,
                    coalesce(regexp_extract(u, '\\?([^#]*)', 1), '') AS query0
                FROM comp
            ),
            norm AS (
                SELECT doc_id, n_chars, u, scheme,
                    CASE WHEN scheme = 'http'
                             THEN regexp_replace(auth0, ':80$', '')
                         WHEN scheme = 'https'
                             THEN regexp_replace(auth0, ':443$', '')
                         ELSE auth0 END AS auth,
                    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
                    coalesce(array_to_string(list_sort(list_filter(
                        string_split(query0, '&'),
                        p -> p <> '' AND NOT regexp_matches(p,
                            '^(utm_|fbclid(=|$)|gclid(=|$)|msclkid(=|$)|mc_eid(=|$)|igshid(=|$))')
                    )), '&'), '') AS q2
                FROM parts
            ),
            canon AS (
                SELECT doc_id, n_chars,
                    CASE WHEN scheme = '' THEN u
                         ELSE scheme || '://' || auth || path
                              || CASE WHEN q2 = '' THEN ''
                                      ELSE '?' || q2 END
                    END AS canonical_url
                FROM norm
            )
            SELECT doc_id, canonical_url,
                   row_number() OVER (
                       PARTITION BY canonical_url
                       ORDER BY n_chars DESC, doc_id ASC
                   ) = 1 AS keep
            FROM canon
        """,
        "dsir_select_docs": f"""
            WITH toks AS (
                SELECT doc_id, lang,
                    list_transform(list_filter(
                        string_split_regex(trim(text), '\\s+'),
                        x -> x <> ''), x -> lower(x)) AS ws
                FROM documents
            ),
            grams AS (
                SELECT doc_id, lang,
                    list_concat(ws,
                        CASE WHEN len(ws) >= 2
                             THEN list_transform(range(1, len(ws)),
                                  i -> ws[i] || ' ' || ws[i + 1])
                             ELSE [] END) AS gs
                FROM toks
            ),
            buckets AS (
                SELECT doc_id, lang,
                    list_transform(gs, g ->
                        CAST({_HEX8.format(h="md5('dsir' || g)")} % 256
                             AS INT)) AS bs
                FROM grams
            ),
            tcnt AS (
                SELECT b AS bucket, COUNT(*) AS cnt
                FROM buckets, unnest(bs) AS u(b)
                WHERE lang = 'en' GROUP BY 1
            ),
            rcnt AS (
                SELECT b AS bucket, COUNT(*) AS cnt
                FROM buckets, unnest(bs) AS u(b) GROUP BY 1
            ),
            tot AS (
                SELECT
                    (SELECT COALESCE(SUM(cnt), 0) FROM tcnt)
                        + 0.5 * 256 AS tt,
                    (SELECT COALESCE(SUM(cnt), 0) FROM rcnt)
                        + 0.5 * 256 AS rt
            ),
            terms AS (
                SELECT g.b AS bucket,
                    CAST(round(ln(
                        ((COALESCE(t.cnt, 0) + 0.5) / tot.tt)
                        / ((COALESCE(r.cnt, 0) + 0.5) / tot.rt)
                    ) * 1000000) AS BIGINT) AS term
                FROM range(0, 256) AS g(b)
                LEFT JOIN tcnt t ON t.bucket = g.b
                LEFT JOIN rcnt r ON r.bucket = g.b, tot
            ),
            sums AS (
                SELECT x.doc_id, CAST(SUM(t.term) AS BIGINT) AS w
                FROM (SELECT doc_id, u.b FROM buckets, unnest(bs) AS u(b)) x
                JOIN terms t ON t.bucket = x.b
                GROUP BY 1
            ),
            docw AS (
                SELECT b.doc_id, COALESCE(s.w, 0) AS w_micro,
                    CAST(round(-ln(-ln(
                        ({_HEX8.format(h="md5('dsir-g' || CAST(b.doc_id AS VARCHAR))")}
                         + 0.5) / 4294967296.0
                    )) * 1000000) AS BIGINT) AS g_micro
                FROM buckets b LEFT JOIN sums s USING (doc_id)
            )
            SELECT doc_id,
                   w_micro / 1000000.0 AS log_weight,
                   (w_micro + g_micro) / 1000000.0 AS score
            FROM docw
            ORDER BY (w_micro + g_micro) DESC, doc_id ASC
            LIMIT 120
        """,
        "nb_quality_docs": f"""
            WITH toks AS (
                SELECT doc_id, lang,
                    list_transform(list_filter(
                        string_split_regex(trim(text), '\\s+'),
                        x -> x <> ''), x -> lower(x)) AS ws
                FROM documents
            ),
            grams AS (
                SELECT doc_id, lang,
                    list_concat(ws,
                        CASE WHEN len(ws) >= 2
                             THEN list_transform(range(1, len(ws)),
                                  i -> ws[i] || ' ' || ws[i + 1])
                             ELSE [] END) AS gs
                FROM toks
            ),
            buckets AS (
                SELECT doc_id, lang,
                    list_transform(gs, g ->
                        CAST({_HEX8.format(h="md5('nbq' || g)")} % 256
                             AS INT)) AS bs
                FROM grams
            ),
            pcnt AS (
                SELECT b AS bucket, COUNT(*) AS cnt
                FROM buckets, unnest(bs) AS u(b)
                WHERE lang = 'en' GROUP BY 1
            ),
            ncnt AS (
                SELECT b AS bucket, COUNT(*) AS cnt
                FROM buckets, unnest(bs) AS u(b)
                WHERE lang <> 'en' GROUP BY 1
            ),
            tot AS (
                SELECT
                    (SELECT COALESCE(SUM(cnt), 0) FROM pcnt)
                        + 0.5 * 256 AS pt,
                    (SELECT COALESCE(SUM(cnt), 0) FROM ncnt)
                        + 0.5 * 256 AS nt,
                    (SELECT COUNT(*) FROM documents WHERE lang = 'en')
                        AS n_pos,
                    (SELECT COUNT(*) FROM documents WHERE lang <> 'en')
                        AS n_neg
            ),
            terms AS (
                SELECT g.b AS bucket,
                    CAST(round(ln(
                        ((COALESCE(p.cnt, 0) + 0.5) / tot.pt)
                        / ((COALESCE(n.cnt, 0) + 0.5) / tot.nt)
                    ) * 1000000) AS BIGINT) AS term
                FROM range(0, 256) AS g(b)
                LEFT JOIN pcnt p ON p.bucket = g.b
                LEFT JOIN ncnt n ON n.bucket = g.b, tot
            ),
            sums AS (
                SELECT x.doc_id, CAST(SUM(t.term) AS BIGINT) AS s
                FROM (SELECT doc_id, u.b FROM buckets, unnest(bs) AS u(b)) x
                JOIN terms t ON t.bucket = x.b
                GROUP BY 1
            ),
            scored AS (
                SELECT b.doc_id,
                    CAST(round(ln((tot.n_pos + 1.0) / (tot.n_neg + 1.0))
                               * 1000000) AS BIGINT) / 1000000.0
                    + (COALESCE(s.s, 0) / 1000000.0)
                      / greatest(len(b.bs), 1) AS logit
                FROM buckets b LEFT JOIN sums s USING (doc_id), tot
            )
            SELECT doc_id,
                   round(logit, 6) AS nb_logit,
                   round(1.0 / (1.0 + exp(-logit)), 6) AS nb_prob,
                   round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5 AS nb_label
            FROM scored
        """,
        "minhash_calibration_docs": _minhash_calibration_oracle_sql(),
        "corpus_config_minhash_docs": _corpus_config_minhash_oracle_sql(),
        "corpus_config_pipeline_docs": f"""
            WITH en AS (
                SELECT doc_id, source, lang, text,
                       {_NORM.format(c='text')} AS norm
                FROM documents WHERE lang = 'en'
            ),
            first_copy AS (
                SELECT doc_id, source, lang, text FROM (
                    SELECT *, min(doc_id) OVER (PARTITION BY norm) AS c
                    FROM en) WHERE doc_id = c
            ),
            gated AS (
                SELECT doc_id, source, lang,
                    CAST(len(list_filter(
                        string_split_regex(trim(text), '\\s+'),
                        x -> x <> '')) AS BIGINT) AS n_tokens
                FROM first_copy
            ),
            tg AS (
                SELECT * FROM gated WHERE n_tokens BETWEEN 5 AND 2000
            ),
            sz AS (SELECT source, count(*) AS gn,
                          arg_min(doc_id,
                            {_HEX8.format(h="md5('cap' || CAST(doc_id AS VARCHAR))")})
                            AS k1
                   FROM tg GROUP BY source),
            capped AS (
                SELECT t.* FROM tg t JOIN sz USING (source)
                WHERE sz.gn <= 8 OR t.doc_id = sz.k1 OR
                  (CAST(list_sum(list_transform(range(1, 9), i ->
                     (strpos('0123456789abcdef',
                             substr(md5('cap' || CAST(t.doc_id AS VARCHAR)),
                                    i, 1)) - 1)::BIGINT
                     * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT)
                   / 4294967296.0) * sz.gn < 8.0
            )
            SELECT doc_id, source, lang, n_tokens,
                   CASE WHEN u < 0.75 THEN 'train'
                        WHEN u < 0.875 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
                SELECT *,
                    {_HEX8.format(h="md5('split' || CAST(doc_id AS VARCHAR))")}
                        / 4294967296.0 AS u
                FROM capped)
        """,
        "exact_dup_incremental_docs": f"""
            WITH f AS (
                SELECT doc_id, md5(norm) AS fp
                FROM (SELECT doc_id, {_NORM.format(c='text')} AS norm
                      FROM documents)
            ),
            idx AS (
                SELECT fp, min(doc_id) AS canon
                FROM f WHERE doc_id % 2 = 0 GROUP BY fp
            ),
            batch AS (SELECT doc_id, fp FROM f WHERE doc_id % 2 = 1),
            miss AS (
                SELECT fp, min(doc_id) AS bc FROM batch
                WHERE fp NOT IN (SELECT fp FROM idx) GROUP BY fp
            )
            SELECT b.doc_id AS id, b.fp,
                   COALESCE(i.canon, m.bc) AS canonical_id
            FROM batch b
            LEFT JOIN idx i USING (fp)
            LEFT JOIN miss m USING (fp)
        """,
        "lm_perplexity_docs": f"""
            WITH toks AS (
                SELECT doc_id, lang,
                    list_transform(list_filter(
                        string_split_regex(trim(text), '\\s+'),
                        x -> x <> ''), x -> lower(x)) AS ws
                FROM documents
            ),
            grams AS (
                SELECT doc_id, lang,
                    CASE WHEN len(ws) >= 2
                         THEN list_transform(range(1, len(ws)),
                              i -> ws[i] || ' ' || ws[i + 1])
                         ELSE [] END AS gs,
                    ws
                FROM toks
            ),
            c1 AS (
                SELECT {_HEX8.format(h="md5('lm1' || w)")} % 4096 AS b,
                       COUNT(*) AS cnt
                FROM toks, unnest(ws) AS u(w)
                WHERE lang = 'en' GROUP BY 1
            ),
            c2 AS (
                SELECT {_HEX8.format(h="md5('lm2' || g)")} % 16384 AS b,
                       COUNT(*) AS cnt
                FROM grams, unnest(gs) AS u(g)
                WHERE lang = 'en' GROUP BY 1
            ),
            tot AS (SELECT COALESCE(SUM(cnt), 0) AS n FROM c1),
            t1 AS (
                SELECT r.b,
                    CAST(round(ln(COALESCE(c.cnt, 0) + 0.5 * 4096)
                               * 1000000) AS BIGINT) AS lnden,
                    CAST(round((ln(0.4) + ln(COALESCE(c.cnt, 0) + 0.5)
                                - ln(tot.n + 0.5 * 4096))
                               * 1000000) AS BIGINT) AS lnuni
                FROM range(0, 4096) AS r(b)
                LEFT JOIN c1 c ON c.b = r.b, tot
            ),
            t2 AS (
                SELECT r.b,
                    CAST(round(ln(COALESCE(c.cnt, 0) + 0.5)
                               * 1000000) AS BIGINT) AS lnc2,
                    COALESCE(c.cnt, 0) AS cnt
                FROM range(0, 16384) AS r(b)
                LEFT JOIN c2 c ON c.b = r.b
            ),
            terms AS (
                SELECT g.doc_id,
                    CASE WHEN t2.cnt > 0
                         THEN t2.lnc2 - tv.lnden
                         ELSE tw.lnuni END AS term
                FROM grams g, unnest(g.gs) AS u(gr)
                JOIN t2 ON t2.b = {_HEX8.format(h="md5('lm2' || gr)")} % 16384
                JOIN t1 tv ON tv.b =
                    {_HEX8.format(h="md5('lm1' || string_split(gr, ' ')[1])")}
                    % 4096
                JOIN t1 tw ON tw.b =
                    {_HEX8.format(h="md5('lm1' || string_split(gr, ' ')[-1])")}
                    % 4096
            ),
            sums AS (
                SELECT doc_id, CAST(SUM(term) AS BIGINT) AS s
                FROM terms GROUP BY 1
            )
            SELECT t.doc_id,
                   CASE WHEN len(t.ws) >= 2 THEN len(t.ws) - 1 END
                       AS n_scored,
                   CASE WHEN len(t.ws) >= 2 THEN
                       CAST(floor(CAST(COALESCE(s.s, 0) AS DOUBLE)
                                  / (len(t.ws) - 1)) AS BIGINT)
                       / 1000000.0 END AS avg_logprob
            FROM toks t LEFT JOIN sums s USING (doc_id)
        """,
        "domain_cap_docs": f"""
            WITH s AS (
              SELECT source, lang, count(*) AS gn,
                     arg_min(doc_id,
                       {_HEX8.format(h="md5('cap' || CAST(doc_id AS VARCHAR))")})
                       AS k1
              FROM documents GROUP BY source, lang
            )
            SELECT d.doc_id, d.source, d.lang
            FROM documents d
            JOIN s ON d.source = s.source AND d.lang = s.lang
            WHERE s.gn <= 8 OR d.doc_id = s.k1 OR
              (CAST(list_sum(list_transform(range(1, 9), i ->
                 (strpos('0123456789abcdef',
                         substr(md5('cap' || CAST(d.doc_id AS VARCHAR)),
                                i, 1)) - 1)::BIGINT
                 * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT)
               / 4294967296.0) * s.gn < 8.0
        """,
        "train_split_docs": f"""
            SELECT doc_id,
                   CASE WHEN u < 0.75 THEN 'train'
                        WHEN u < 0.875 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
                SELECT doc_id,
                    {_HEX8.format(h="md5('split' || CAST(doc_id AS VARCHAR))")}
                        / 4294967296.0 AS u
                FROM documents)
        """,
        "corpus_token_stats_docs": """
            WITH per AS (
                SELECT source, lang,
                    len(list_filter(string_split_regex(trim(text), '\\s+'),
                        x -> x <> '')) AS nt,
                    coalesce(list_sum(list_transform(
                        list_filter(string_split_regex(trim(text), '\\s+'),
                            x -> x <> ''),
                        x -> CAST(ceil(len(x) / 4.0) AS INTEGER))), 0) AS bt,
                    len(coalesce(text, '')) AS nc
                FROM documents
            ),
            g AS (
                SELECT source, lang, COUNT(*) AS n_docs,
                       CAST(SUM(nt) AS BIGINT) AS ws_tokens,
                       CAST(SUM(bt) AS BIGINT) AS bpe_ish_tokens,
                       CAST(SUM(nc) AS BIGINT) AS n_chars
                FROM per GROUP BY 1, 2
            ),
            t AS (SELECT CAST(SUM(ws_tokens) AS BIGINT) AS tot FROM g)
            SELECT source, lang, n_docs, ws_tokens, bpe_ish_tokens, n_chars,
                   round(ws_tokens / CAST(n_docs AS DOUBLE), 2)
                       AS mean_doc_tokens,
                   round(ws_tokens / CAST(tot AS DOUBLE), 6) AS token_share
            FROM g, t
        """,
        "hamming_neardup_hashes": """
            WITH m AS (
                SELECT doc_id,
                       md5('hnd' || CAST(doc_id // 2 AS VARCHAR)) AS md
                FROM documents),
            parts AS (
                SELECT doc_id,
                    list_sum(list_transform(range(1, 9),
                        i -> (strpos('0123456789abcdef', substr(md, i, 1)) - 1)::BIGINT
                             * CAST(power(16, 8 - i) AS BIGINT))) AS hi,
                    list_sum(list_transform(range(1, 9),
                        i -> (strpos('0123456789abcdef', substr(md, i + 8, 1)) - 1)::BIGINT
                             * CAST(power(16, 8 - i) AS BIGINT))) AS lo
                FROM m),
            h AS (
                SELECT doc_id AS id,
                    CAST(CASE WHEN doc_id % 2 = 0 THEN base
                         ELSE xor(base, 1::BIGINT << CAST(doc_id % 63 AS INT))
                    END AS BIGINT) AS hash
                FROM (SELECT doc_id,
                        CAST((hi - CASE WHEN hi >= 2147483648
                                        THEN 4294967296 ELSE 0 END)
                             * 4294967296 + lo AS BIGINT) AS base
                      FROM parts))
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(bit_count(xor(a.hash, b.hash)) AS INT) AS hamming
            FROM h a JOIN h b ON a.id < b.id
            WHERE bit_count(xor(a.hash, b.hash)) <= 2
        """,
        "media_probe_docs": """
            SELECT doc_id AS id,
                   CASE WHEN doc_id % 2 = 0 THEN 'audio/wav'
                        WHEN doc_id % 4 = 3 THEN 'image/png'
                        ELSE 'image/bmp' END AS mime,
                   CASE WHEN doc_id % 2 = 1
                        THEN CAST(16 + (doc_id % 3) * 8 AS INT) END AS width,
                   CASE WHEN doc_id % 2 = 1 THEN CAST(16 AS INT) END AS height,
                   CASE WHEN doc_id % 2 = 0 THEN CAST(1 AS INT) END AS channels,
                   CASE WHEN doc_id % 2 = 0
                        THEN CAST(8000 + (doc_id % 4) * 2000 AS INT)
                        END AS sample_rate,
                   CASE WHEN doc_id % 2 = 0
                        THEN CAST(((400 + doc_id % 100) * 1000)
                                  // (8000 + (doc_id % 4) * 2000) AS INT)
                        END AS duration_ms,
                   CASE WHEN doc_id % 2 = 0
                        THEN CAST(1000 + doc_id % 100 AS INT) END AS rms,
                   CASE WHEN doc_id % 4 = 1 THEN 'f0f0f0f0f0f0f0f0'
                        WHEN doc_id % 8 = 3 THEN 'f0f0f0f0f0f0f0f0'
                        WHEN doc_id % 4 = 3 THEN '0f0f0f0f0f0f0f0f'
                        END AS ahash
            FROM documents
        """,
        "skew_report_events": """
            WITH g AS (
                SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY 1
            ),
            t AS (SELECT SUM(cnt) AS tot FROM g)
            SELECT event_type, cnt,
                   round(cnt / CAST(tot AS DOUBLE), 6) AS share,
                   round(cnt * 64 / CAST(tot AS DOUBLE), 4) AS skew_factor,
                   CAST(greatest(1, ceil(cnt * 64 / CAST(tot AS DOUBLE)))
                        AS INT) AS suggested_salt
            FROM g, t
            ORDER BY cnt DESC, event_type ASC
            LIMIT 10
        """,
        "corpus_datacard_docs": f"""
            WITH per AS (
                SELECT source, lang, text,
                    len(list_filter(string_split_regex(trim(text), '\\s+'),
                        x -> x <> '')) AS nt,
                    len(coalesce(text, '')) AS nc,
                    md5({_NORM.format(c='text')}) AS fp,
                    string_split_regex(trim(text), '\\s+') AS toks,
                    string_split_regex(trim(lower(text)), '\\s+') AS ltoks
                FROM documents),
            s AS (
                SELECT source, lang, nt, nc, fp,
                    CASE WHEN len(toks) > 0
                         THEN list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks)
                         ELSE 0.0 END AS mwl,
                    CASE WHEN len(ltoks) > 0
                         THEN {hits.format(t='ltoks', lst=_EN)}::DOUBLE / len(ltoks)
                         ELSE 0.0 END AS swr,
                    CASE WHEN len(text) > 0
                         THEN len(regexp_replace(text, '[^!-#%-*,-/:;?@\\[-\\]_{{}}]', '', 'g'))::DOUBLE / len(text)
                         ELSE 0.0 END AS pr
                FROM per),
            q AS (
                SELECT source, lang, nt, nc, fp,
                    round(((CASE WHEN nt >= 10 AND nt <= 100000 THEN 1.0 ELSE 0.0 END)
                         + (CASE WHEN swr >= 0.05 THEN 1.0 ELSE 0.0 END)
                         + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.0 END)
                         + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END)) / 4.0, 2) AS q
                FROM s)
            SELECT source, lang, COUNT(*) AS n_docs,
                   CAST(SUM(nt) AS BIGINT) AS ws_tokens,
                   CAST(SUM(nc) AS BIGINT) AS n_chars,
                   COUNT(DISTINCT fp) AS n_unique,
                   round(1.0 - COUNT(DISTINCT fp) / CAST(COUNT(*) AS DOUBLE), 6)
                       AS dup_rate,
                   round(avg(q), 4) AS mean_quality,
                   round(quantile_cont(q, 0.5), 4) AS median_quality
            FROM q GROUP BY 1, 2
        """,
        "temperature_mix_docs": f"""
            WITH c AS (
                SELECT source, COUNT(*) AS n FROM documents GROUP BY 1
            ),
            tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM c),
            pw AS (
                SELECT source, n, power(n / t, 0.5) AS p FROM c, tot
            ),
            z AS (SELECT SUM(p) AS z FROM pw),
            w2 AS (
                SELECT source, (p / z.z) * tot.t / n AS wt
                FROM pw, z, tot
            ),
            w AS (
              SELECT d.doc_id, d.source, w2.wt,
                     CAST(list_sum(list_transform(range(1, 9), i -> (strpos('0123456789abcdef', substr(md5('tmix' || CAST(d.doc_id AS VARCHAR)), i, 1)) - 1)::BIGINT * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT)
                       / 4294967296.0 AS u
              FROM documents d JOIN w2 USING (source)
            ), n AS (
              SELECT doc_id, source,
                     CAST(floor(wt) AS INT)
                     + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END AS n_rep
              FROM w
            )
            SELECT doc_id, source, CAST(unnest(range(n_rep)) AS INT) AS rep
            FROM n WHERE n_rep > 0
        """,
        "mix_sources_docs": f"""
            WITH w AS (
              SELECT doc_id, source,
                     CASE WHEN source = 'src0' THEN CAST(2.4 AS DOUBLE)
                          WHEN source = 'src1' THEN CAST(0.5 AS DOUBLE)
                          ELSE CAST(1.0 AS DOUBLE) END AS wt,
                     {_HEX8.format(h="md5('mix' || CAST(doc_id AS VARCHAR))")}
                       / 4294967296.0 AS u
              FROM documents
            ), n AS (
              SELECT doc_id, source,
                     CAST(floor(wt) AS INT)
                     + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END AS n_rep
              FROM w
            )
            SELECT doc_id, source, CAST(unnest(range(n_rep)) AS INT) AS rep
            FROM n WHERE n_rep > 0
        """,
        "stratified_sample_docs": f"""
            SELECT doc_id, lang FROM documents
            WHERE {_HEX8.format(h="md5('sample' || CAST(doc_id AS VARCHAR))")}
                    / 4294967296.0
                  < CASE WHEN lang = 'en' THEN CAST(0.3 AS DOUBLE)
                         WHEN lang = 'zh' THEN CAST(0.7 AS DOUBLE)
                         ELSE CAST(1.0 AS DOUBLE) END
        """,
        "uri_cache_ttl": """
            WITH req AS (
                SELECT 'c' || CAST(c_custkey AS VARCHAR) AS _id,
                       'https://geo/c' || CAST(c_custkey AS VARCHAR) AS url
                FROM customer
            ),
            cache AS (
                SELECT 'c' || CAST(c_custkey AS VARCHAR) AS _id,
                       CAST((c_custkey % 5) * 100000 AS DOUBLE) AS ts0,
                       'https://geo/c' || CAST(c_custkey AS VARCHAR) AS url,
                       'cached:' || CAST(c_custkey AS VARCHAR) AS data
                FROM customer WHERE c_custkey % 3 <> 2
            ),
            fresh AS (
                SELECT * FROM cache WHERE ts0 > 350000.0 - 2500 * 60
            ),
            misses AS (
                SELECT r._id, r.url FROM req r
                LEFT JOIN fresh f ON r._id = f._id WHERE f._id IS NULL
            ),
            fetched AS (
                SELECT _id, CAST(350000 AS DOUBLE) AS ts0, url,
                       'fetched:' || url AS data
                FROM misses
            ),
            final AS (
                SELECT c.* FROM cache c
                LEFT JOIN fetched f ON c._id = f._id WHERE f._id IS NULL
                UNION ALL
                SELECT * FROM fetched
            )
            SELECT _id, ts0 AS ts, data FROM final ORDER BY _id
        """,
        "eaccpf_extract": """
            SELECT s_suppkey,
                   'person' AS record_type,
                   s_name || ' F' || CAST(s_suppkey AS VARCHAR) AS heading,
                   'Alt ' || CAST(s_suppkey AS VARCHAR) AS use_for_all,
                   CAST(1880 + s_suppkey % 60 AS VARCHAR) AS birth_date,
                   CAST(1940 + s_suppkey % 50 AS VARCHAR) AS death_date,
                   'Town ' || CAST(s_suppkey % 7 AS VARCHAR) AS birth_place,
                   'Rel ' || CAST(s_suppkey % 5 AS VARCHAR) AS related1,
                   'Occ ' || CAST(s_suppkey % 6 AS VARCHAR) AS occupations,
                   'Act ' || CAST(s_suppkey % 4 AS VARCHAR) || '. More'
                       AS activity,
                   'fin' AS language,
                   'Agency ' || CAST(s_suppkey % 3 AS VARCHAR) AS source,
                   4 AS n_allfields
            FROM supplier
        """,
    }


# 32-bit value of the first 8 hex chars of an md5 hex string {h}
# (the DuckDB twin of recordmanager_spark.operators.packing.unit_hash)
_HEX8 = (
    "CAST(list_sum(list_transform(range(1, 9), i -> "
    "(strpos('0123456789abcdef', substr({h}, i, 1)) - 1)::BIGINT"
    " * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT)"
)


# 60-bit value of the first 15 hex chars of an md5 hex string {h}
_HEX15 = (
    "CAST(list_sum(list_transform(range(1, 16), i -> "
    "(strpos('0123456789abcdef', substr({h}, i, 1)) - 1)::BIGINT"
    " * CAST(power(16, 15 - i) AS BIGINT))) AS BIGINT)"
)


def _minhash_calibration_oracle_sql() -> str:
    """minhash_calibration replica: md5-60bit shingle hashes, 16 XOR
    permutation mins, signature-agreement estimate vs exact distinct-
    shingle Jaccard on the adjacent-id pair sample
    (operators/text_dedup.py minhash_calibration)."""
    from recordmanager_spark.operators.text_dedup import _PERM_XOR

    toks = f"string_split_regex({_NORM.format(c='text')}, '\\s+')"
    mins = ",\n                   ".join(
        f"min(xor(h, {_PERM_XOR[p]})) AS h{p}" for p in range(16)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.h{p} = sb.h{p} THEN 1 ELSE 0 END)" for p in range(16)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, {toks} AS t FROM documents),
        sh AS (
            SELECT doc_id, unnest({_SHINGLES3.format(t='t')}) AS s FROM toks),
        h AS (
            SELECT doc_id, {_HEX15.format(h='md5(s)')} AS h FROM sh),
        sig AS (
            SELECT doc_id,
                   {mins}
            FROM h GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id),
        est AS (
            SELECT id_a, id_b,
                   round(({agree}) / 16.0, 6) AS est_jaccard
            FROM pairs
            JOIN sig sa ON sa.doc_id = id_a
            JOIN sig sb ON sb.doc_id = id_b),
        sets AS (
            SELECT doc_id, {_SHINGLES3.format(t='t')} AS sh FROM toks),
        ex AS (
            SELECT id_a, id_b,
                   round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh)))
                                   > 0
                              THEN len(list_intersect(a.sh, b.sh))::DOUBLE
                                   / len(list_distinct(list_concat(a.sh,
                                                                   b.sh)))
                              ELSE 0.0 END, 6) AS jaccard
            FROM pairs JOIN sets a ON id_a = a.doc_id
                       JOIN sets b ON id_b = b.doc_id)
        SELECT e.id_a, e.id_b, e.est_jaccard, x.jaccard,
               round(abs(e.est_jaccard - x.jaccard), 6) AS abs_err
        FROM est e JOIN ex x USING (id_a, id_b)
    """


def _minhash_oracle_sql() -> str:
    """minhash_near_duplicates replica: md5-60bit shingle hashes, 16 XOR
    permutations, 4x4 banding with the bounded-state 200-member bucket
    cap (all-pairs within cap, salted-min hub reps beyond it —
    operators/bucket_pairs.py), exact Jaccard verify at 0.2
    (operators/text_dedup.py:94-230)."""
    from recordmanager_spark.operators.text_dedup import _PERM_XOR

    toks = f"string_split_regex({_NORM.format(c='text')}, '\\s+')"
    mins = ",\n                   ".join(
        f"CAST(min(xor(h, {_PERM_XOR[p]})) AS VARCHAR) AS h{p}"
        for p in range(16)
    )
    band_keys = ", ".join(
        "h%d || '|' || h%d || '|' || h%d || '|' || h%d" % (b * 4, b * 4 + 1, b * 4 + 2, b * 4 + 3)
        for b in range(4)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, {toks} AS t FROM documents),
        sh AS (
            SELECT doc_id, unnest({_SHINGLES3.format(t='t')}) AS s FROM toks),
        h AS (
            SELECT doc_id, {_HEX15.format(h='md5(s)')} AS h FROM sh),
        sig AS (
            SELECT doc_id,
                   {mins}
            FROM h GROUP BY doc_id),
        banded AS (
            SELECT doc_id, g.band, ([{band_keys}])[g.band + 1] AS key
            FROM sig, range(0, 4) g(band)),
        bsz AS (
            SELECT band, key, count(*) AS n FROM banded GROUP BY band, key),
        sized AS (
            SELECT banded.doc_id, banded.band, banded.key, bsz.n
            FROM banded JOIN bsz USING (band, key)),
        small_pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sized a JOIN sized b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
            WHERE a.n <= 200),
        reps AS (
            -- hub_cap = min(bucket_cap, 64): the over-cap rep set
            SELECT band, key, min(doc_id) AS rep
            FROM sized WHERE n > 200
            GROUP BY band, key,
                     ({_HEX15.format(h="md5(CAST(doc_id AS VARCHAR))")} % 64)),
        big_pairs AS (
            SELECT least(s.doc_id, r.rep) AS id_a,
                   greatest(s.doc_id, r.rep) AS id_b
            FROM sized s JOIN reps r ON s.band = r.band AND s.key = r.key
            WHERE s.n > 200 AND r.rep <> s.doc_id),
        cand AS (
            SELECT id_a, id_b FROM small_pairs
            UNION
            SELECT id_a, id_b FROM big_pairs),
        sets AS (
            SELECT doc_id, {_SHINGLES3.format(t='t')} AS sh FROM toks),
        scored AS (
            SELECT id_a, id_b,
                   round(len(list_intersect(a.sh, b.sh))::DOUBLE
                         / len(list_distinct(list_concat(a.sh, b.sh))), 6)
                     AS jaccard
            FROM cand JOIN sets a ON cand.id_a = a.doc_id
                      JOIN sets b ON cand.id_b = b.doc_id)
        SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.2
    """


def _corpus_config_minhash_oracle_sql() -> str:
    """corpus_config_minhash_docs replica: en keep -> blocklist token
    gate ('dup', max 0 hits) -> the full minhash pipeline (md5-60bit
    shingles, 16 XOR perms, 4x4 bands, 200-cap buckets with 64-slot hub
    reps, exact Jaccard >= 0.2) over the SURVIVORS -> connected
    components via a recursive transitive closure (keep min-id per
    cluster) -> normalized 5-gram decontamination vs the doc_id%97
    benchmark slice."""
    from recordmanager_spark.operators.text_dedup import _PERM_XOR

    toks = f"string_split_regex({_NORM.format(c='text')}, '\\s+')"
    mins = ",\n                   ".join(
        f"CAST(min(xor(h, {_PERM_XOR[p]})) AS VARCHAR) AS h{p}"
        for p in range(16)
    )
    band_keys = ", ".join(
        "h%d || '|' || h%d || '|' || h%d || '|' || h%d"
        % (b * 4, b * 4 + 1, b * 4 + 2, b * 4 + 3)
        for b in range(4)
    )
    return f"""
        WITH RECURSIVE base AS (
            SELECT doc_id, source, lang, text FROM documents
            WHERE lang = 'en'
              AND len(list_filter(['dup'], w -> list_contains(
                    list_transform(list_filter(
                        string_split_regex(trim(text), '\\s+'),
                        x -> x <> ''), x -> lower(x)), w))) <= 0),
        toksb AS (
            SELECT doc_id, {toks} AS t FROM base),
        sh AS (
            SELECT doc_id, unnest({_SHINGLES3.format(t='t')}) AS s
            FROM toksb),
        h AS (
            SELECT doc_id, {_HEX15.format(h='md5(s)')} AS h FROM sh),
        sig AS (
            SELECT doc_id,
                   {mins}
            FROM h GROUP BY doc_id),
        banded AS (
            SELECT doc_id, g.band, ([{band_keys}])[g.band + 1] AS key
            FROM sig, range(0, 4) g(band)),
        bsz AS (
            SELECT band, key, count(*) AS n FROM banded GROUP BY band, key),
        sized AS (
            SELECT banded.doc_id, banded.band, banded.key, bsz.n
            FROM banded JOIN bsz USING (band, key)),
        small_pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sized a JOIN sized b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
            WHERE a.n <= 200),
        reps AS (
            SELECT band, key, min(doc_id) AS rep
            FROM sized WHERE n > 200
            GROUP BY band, key,
                     ({_HEX15.format(h="md5(CAST(doc_id AS VARCHAR))")} % 64)),
        big_pairs AS (
            SELECT least(s.doc_id, r.rep) AS id_a,
                   greatest(s.doc_id, r.rep) AS id_b
            FROM sized s JOIN reps r ON s.band = r.band AND s.key = r.key
            WHERE s.n > 200 AND r.rep <> s.doc_id),
        cand AS (
            SELECT id_a, id_b FROM small_pairs
            UNION
            SELECT id_a, id_b FROM big_pairs),
        sets AS (
            SELECT doc_id, {_SHINGLES3.format(t='t')} AS shg FROM toksb),
        pairs AS (
            SELECT id_a, id_b
            FROM cand JOIN sets a ON cand.id_a = a.doc_id
                      JOIN sets b ON cand.id_b = b.doc_id
            WHERE round(len(list_intersect(a.shg, b.shg))::DOUBLE
                        / len(list_distinct(list_concat(a.shg, b.shg))), 6)
                  >= 0.2),
        sym AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs),
        reach AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
            WHERE r.a <> s.b),
        comp AS (
            SELECT a AS doc_id, least(a, min(b)) AS c
            FROM reach GROUP BY a),
        pruned AS (
            SELECT bs.doc_id, bs.source, bs.lang, bs.text
            FROM base bs LEFT JOIN comp ON bs.doc_id = comp.doc_id
            WHERE comp.doc_id IS NULL OR bs.doc_id = comp.c),
        tkall AS (
            SELECT doc_id, list_filter(
                string_split_regex({_NORM.format(c='text')}, '\\s+'),
                x -> x <> '') AS w
            FROM documents),
        g5 AS (
            SELECT doc_id, CASE WHEN len(w) >= 5
              THEN list_distinct(list_transform(range(1, len(w) - 3),
                     i -> array_to_string(w[i:i+4], ' ')))
              ELSE [array_to_string(w, ' ')] END AS g
            FROM tkall),
        bg AS (
            SELECT DISTINCT unnest(g) AS g FROM g5 WHERE doc_id % 97 = 0),
        hits AS (
            SELECT dg.doc_id, count(*) AS n_hits
            FROM (SELECT doc_id, unnest(g) AS g FROM g5) dg
            JOIN bg USING (g) GROUP BY dg.doc_id)
        SELECT p.doc_id, p.source, p.lang
        FROM pruned p LEFT JOIN hits USING (doc_id)
        WHERE COALESCE(hits.n_hits, 0) < 1
    """


def _fuzzy_decontam_oracle_sql() -> str:
    """fuzzy_decontaminate replica: corpus + 'Q: '-prefixed %9 benchmark
    twins, md5-60bit shingle signatures, banded probe, signature
    agreement >= 0.5, best match per corpus doc (max agreement, min
    bench id) — operators/contamination.py fuzzy_decontaminate."""
    from recordmanager_spark.operators.text_dedup import _PERM_XOR

    toks = f"string_split_regex({_NORM.format(c='text')}, '\\s+')"
    mins = ",\n                   ".join(
        f"CAST(min(xor(h, {_PERM_XOR[p]})) AS VARCHAR) AS h{p}"
        for p in range(16)
    )
    band_keys = ", ".join(
        "h%d || '|' || h%d || '|' || h%d || '|' || h%d"
        % (b * 4, b * 4 + 1, b * 4 + 2, b * 4 + 3)
        for b in range(4)
    )
    eq_sum = " + ".join(
        f"(CASE WHEN o.h{p} = n.h{p} THEN 1 ELSE 0 END)" for p in range(16)
    )
    return f"""
        WITH bdocs AS (
            SELECT doc_id AS bid, 'Q: ' || text AS text
            FROM documents WHERE doc_id % 9 = 0
        ),
        ctoks AS (SELECT doc_id, {toks} AS t FROM documents),
        btoks AS (SELECT bid, {toks} AS t FROM bdocs),
        csh AS (SELECT doc_id, unnest({_SHINGLES3.format(t='t')}) AS s
                FROM ctoks),
        bsh AS (SELECT bid, unnest({_SHINGLES3.format(t='t')}) AS s
                FROM btoks),
        ch AS (SELECT doc_id, {_HEX15.format(h='md5(s)')} AS h FROM csh),
        bh AS (SELECT bid, {_HEX15.format(h='md5(s)')} AS h FROM bsh),
        csig AS (SELECT doc_id,
                   {mins}
                 FROM ch GROUP BY doc_id),
        bsig AS (SELECT bid,
                   {mins}
                 FROM bh GROUP BY bid),
        cband AS (SELECT doc_id, g.band,
                         ([{band_keys}])[g.band + 1] AS key
                  FROM csig, range(0, 4) g(band)),
        bband AS (SELECT bid, g.band,
                         ([{band_keys}])[g.band + 1] AS key
                  FROM bsig, range(0, 4) g(band)),
        pairs AS (
            SELECT DISTINCT c.doc_id, b.bid
            FROM cband c JOIN bband b ON c.band = b.band AND c.key = b.key),
        agr AS (
            SELECT p.doc_id, p.bid,
                   round(({eq_sum}) / 16.0, 6) AS agreement
            FROM pairs p
            JOIN csig o ON o.doc_id = p.doc_id
            JOIN bsig n ON n.bid = p.bid),
        best AS (
            SELECT doc_id, bid, agreement FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id
                    ORDER BY agreement DESC, bid) AS rn
                FROM agr WHERE agreement >= 0.5)
            WHERE rn = 1)
        SELECT d.doc_id,
               (best.bid IS NOT NULL) AS is_contaminated,
               best.bid AS matched_bench_id,
               best.agreement
        FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id
    """


def _minhash_incremental_oracle_sql() -> str:
    """minhash_incremental replica: corpus signature index, synthetic
    batch (copies of %5 docs, fresh %7 docs), banded probe join PLUS
    the within-batch self-probe (smaller batch id = candidate),
    signature-agreement estimate, best-match-per-new-doc at >= 0.5
    (operators/text_dedup.py minhash_incremental)."""
    from recordmanager_spark.operators.text_dedup import _PERM_XOR

    toks = f"string_split_regex({_NORM.format(c='text')}, '\\s+')"
    mins = ",\n                   ".join(
        f"CAST(min(xor(h, {_PERM_XOR[p]})) AS VARCHAR) AS h{p}"
        for p in range(16)
    )
    band_keys = ", ".join(
        "h%d || '|' || h%d || '|' || h%d || '|' || h%d"
        % (b * 4, b * 4 + 1, b * 4 + 2, b * 4 + 3)
        for b in range(4)
    )
    eq_sum = " + ".join(
        f"(CASE WHEN o.h{p} = n.h{p} THEN 1 ELSE 0 END)" for p in range(16)
    )
    i = "CAST(doc_id AS VARCHAR)"
    return f"""
        WITH batch AS (
            SELECT doc_id + 100000 AS doc_id, text
            FROM documents WHERE doc_id % 5 = 0
            UNION ALL
            SELECT doc_id + 200000 AS doc_id,
                   'zq' || {i} || ' xv' || {i} || ' wk' || {i}
                   || ' jt' || {i} || ' pf' || {i} AS text
            FROM documents WHERE doc_id % 7 = 0
        ),
        ctoks AS (SELECT doc_id, {toks} AS t FROM documents),
        btoks AS (SELECT doc_id, {toks} AS t FROM batch),
        csh AS (SELECT doc_id, unnest({_SHINGLES3.format(t='t')}) AS s
                FROM ctoks),
        bsh AS (SELECT doc_id, unnest({_SHINGLES3.format(t='t')}) AS s
                FROM btoks),
        ch AS (SELECT doc_id, {_HEX15.format(h='md5(s)')} AS h FROM csh),
        bh AS (SELECT doc_id, {_HEX15.format(h='md5(s)')} AS h FROM bsh),
        csig AS (SELECT doc_id,
                   {mins}
                 FROM ch GROUP BY doc_id),
        bsig AS (SELECT doc_id,
                   {mins}
                 FROM bh GROUP BY doc_id),
        cband AS (SELECT doc_id, g.band,
                         ([{band_keys}])[g.band + 1] AS key
                  FROM csig, range(0, 4) g(band)),
        bband AS (SELECT doc_id, g.band,
                         ([{band_keys}])[g.band + 1] AS key
                  FROM bsig, range(0, 4) g(band)),
        cand0 AS (
            SELECT DISTINCT new_id, old_id FROM (
                SELECT b.doc_id AS new_id, c.doc_id AS old_id
                FROM bband b JOIN cband c
                  ON b.band = c.band AND b.key = c.key
                UNION ALL
                -- within-batch pass: smaller batch id = candidate
                SELECT b2.doc_id AS new_id, b1.doc_id AS old_id
                FROM bband b1 JOIN bband b2
                  ON b1.band = b2.band AND b1.key = b2.key
                 AND b1.doc_id < b2.doc_id)),
        -- max_candidates=200 cap, deterministic: first 200 old ids asc
        cand AS (
            SELECT new_id, old_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY new_id ORDER BY old_id ASC) AS crn
                FROM cand0)
            WHERE crn <= 200),
        allsig AS (
            SELECT * FROM csig UNION ALL SELECT * FROM bsig),
        scored AS (
            SELECT cand.new_id, cand.old_id,
                   round(({eq_sum}) / 16.0, 6) AS agreement
            FROM cand
            JOIN allsig o ON o.doc_id = cand.old_id
            JOIN bsig n ON n.doc_id = cand.new_id),
        best AS (
            SELECT new_id, old_id AS matched_id, agreement FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY new_id
                    ORDER BY agreement DESC, old_id ASC) AS rn
                FROM scored)
            WHERE rn = 1 AND agreement >= 0.5)
        SELECT b.doc_id, best.matched_id IS NOT NULL AS is_dup,
               best.matched_id, best.agreement
        FROM batch b LEFT JOIN best ON b.doc_id = best.new_id
    """


def _simhash_oracle_sql() -> str:
    """simhash_near_duplicates replica: sign-of-sum bits over md5 60-bit
    distinct-token hashes, 4x15-bit pigeonhole bands, Hamming <= 3
    (operators/text_dedup.py:236-355)."""
    toks = f"string_split_regex({_NORM.format(c='text')}, '\\s+')"
    return f"""
        WITH t AS (
            SELECT doc_id, unnest(list_distinct({toks})) AS tok
            FROM documents),
        h AS (
            SELECT doc_id, {_HEX15.format(h='md5(tok)')} AS h FROM t),
        cnt AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
        bits AS (
            SELECT h.doc_id, g.i,
                   CASE WHEN 2 * sum((h.h >> g.i) & 1) > min(c.n)
                        THEN (1::BIGINT << g.i) ELSE 0 END AS bitval
            FROM h JOIN cnt c USING (doc_id), range(0, 60) g(i)
            GROUP BY h.doc_id, g.i),
        sig AS (
            SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS s
            FROM bits GROUP BY doc_id),
        banded AS (
            SELECT doc_id, s, g.b, (s >> (g.b * 15)) & 32767 AS bv
            FROM sig, range(0, 4) g(b)),
        bsz AS (SELECT b, bv, count(*) AS n FROM banded GROUP BY b, bv),
        sized AS (
            SELECT banded.doc_id, banded.s, banded.b, banded.bv, bsz.n
            FROM banded JOIN bsz USING (b, bv)),
        small_pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.s AS sa, b.s AS sb
            FROM sized a JOIN sized b
              ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
            WHERE a.n <= 2000),
        reps AS (
            -- hub_cap = min(bucket_cap, 64): the over-cap rep set
            SELECT b, bv, min(doc_id) AS rep, arg_min(s, doc_id) AS rep_s
            FROM sized WHERE n > 2000
            GROUP BY b, bv,
                     ({_HEX15.format(h="md5(CAST(doc_id AS VARCHAR))")}
                      % 64)),
        big_pairs AS (
            SELECT least(m.doc_id, r.rep) AS id_a,
                   greatest(m.doc_id, r.rep) AS id_b,
                   CASE WHEN m.doc_id < r.rep THEN m.s ELSE r.rep_s END AS sa,
                   CASE WHEN m.doc_id < r.rep THEN r.rep_s ELSE m.s END AS sb
            FROM sized m JOIN reps r ON m.b = r.b AND m.bv = r.bv
            WHERE m.n > 2000 AND r.rep <> m.doc_id),
        cand AS (
            SELECT id_a, id_b, sa, sb FROM small_pairs
            UNION
            SELECT id_a, id_b, sa, sb FROM big_pairs)
        SELECT DISTINCT id_a, id_b,
               CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        FROM cand
        WHERE bit_count(xor(sa, sb)) <= 3
    """


def _knn_lsh_oracle_sql() -> str:
    """knn_lsh replica: deterministic hyperplane signs from md5 parity
    (operators/similarity.py:130-167), 6-plane buckets, exact cosine top-5
    within the query's bucket."""
    return """
        WITH planes AS (
            SELECT p.p, d.d,
                   CASE WHEN (strpos('0123456789abcdef',
                              substr(md5(CAST(p.p AS VARCHAR) || ':'
                                         || CAST(d.d AS VARCHAR)), 4, 1))
                              - 1) % 2 = 0
                        THEN 1.0 ELSE -1.0 END AS s
            FROM range(0, 6) p(p), range(0, 64) d(d)),
        vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        proj AS (
            SELECT vec_id, p, sum(v[d + 1] * s) AS dot
            FROM vecs, planes GROUP BY vec_id, p),
        buckets AS (
            SELECT vec_id,
                   CAST(sum(CASE WHEN dot >= 0
                            THEN CAST(power(2, 5 - p) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS bucket
            FROM proj GROUP BY vec_id),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_cosine_similarity(qv.v, cv.v), 6) AS cosine
            FROM buckets q
            JOIN buckets c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
            JOIN vecs qv ON qv.vec_id = q.vec_id
            JOIN vecs cv ON cv.vec_id = c.vec_id
            WHERE q.vec_id < 20),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM scored)
        SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank
        FROM ranked WHERE rnk <= 5
    """


def _bm25_body_sql() -> str:
    """Shared BM25 CTE chain (through ``s``: rounded per-doc scores per
    query) — the bm25_topk_docs oracle ranks it directly; the hybrid
    oracle reuses it as its lexical leg."""
    norm_text = _NORM.format(c="text")
    norm_q = _NORM.format(c="substr(text, 1, 80)")
    return f"""
        base AS (
          SELECT doc_id,
                 list_filter(string_split_regex({norm_text}, '\\s+'),
                             t -> t <> '') AS ts
          FROM documents
        ),
        toks AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM base),
        tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
               FROM toks GROUP BY 1, 2),
        qb AS (
          SELECT doc_id AS query_id,
                 list_filter(string_split_regex({norm_q}, '\\s+'),
                             t -> t <> '') AS qs
          FROM documents WHERE doc_id < 8
        ),
        qt AS (SELECT query_id, unnest(qs) AS term FROM qb),
        qtf AS (SELECT query_id, term, count(*) AS qtf FROM qt GROUP BY 1, 2),
        dfq AS (SELECT term, count(*) AS df FROM tf
                WHERE term IN (SELECT DISTINCT term FROM qtf) GROUP BY 1),
        stats AS (SELECT count(*) AS n, avg(len(ts)) AS avgdl FROM base),
        s AS (
          SELECT q.query_id, t.doc_id,
                 round(sum(q.qtf
                       * ln(1 + (n - d.df + 0.5) / (d.df + 0.5))
                       * (t.tf * 2.2)
                       / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / avgdl))), 6)
                   AS score
          FROM qtf q JOIN tf t ON q.term = t.term
               JOIN dfq d ON t.term = d.term, stats
          GROUP BY 1, 2
        )"""


def _streaming_neardup_oracle_sql() -> str:
    """streaming_neardup_docs replica: replays the stateful bucket
    machine of streaming_minhash_neardup (streaming/pipeline.py:253)
    EXACTLY in SQL — same md5-60bit shingle hashes, 16 XOR
    permutations, 4x4 banding, then a recursive CTE that advances one
    document per (band, bucket) per step in the operator's arrival
    order (batch asc, string id asc), carrying each bucket's
    representative list (ids + signatures, capped at 16) as state. A
    document that matches a representative (agreement >= 0.5, best by
    agreement desc then id asc) emits and does NOT register; a
    non-matching document registers while the bucket has room. This is
    the full sequential semantics — within-batch register-order,
    batch-1 self-matches, and bucket saturation all replay faithfully
    at any sf (pinned against the live streaming operator at sf0.001,
    where batch-1 emissions and within-batch registrations actually
    occur, by tests/test_streaming_oracle_parity.py)."""
    return f"""
        WITH RECURSIVE {_streaming_neardup_banded_sql()},
        members AS (
          SELECT band, key, run, id, hs,
                 row_number() OVER (PARTITION BY band, key
                                    ORDER BY run, id) AS rn
          FROM banded),
        st AS (
          SELECT band, key, CAST(0 AS BIGINT) AS rn,
                 CAST([] AS STRUCT(id VARCHAR, hs VARCHAR[])[]) AS reps,
                 CAST(NULL AS VARCHAR) AS doc_id,
                 CAST(NULL AS VARCHAR) AS matched_id,
                 CAST(NULL AS DOUBLE) AS agr, CAST(NULL AS INT) AS run
          FROM (SELECT DISTINCT band, key FROM members)
          UNION ALL
          SELECT band, key, rn,
                 CASE WHEN len(f) > 0 THEN reps
                      WHEN len(reps) < 16
                        THEN list_append(reps, {{'id': id, 'hs': hs}})
                      ELSE reps END AS reps,
                 id,
                 CASE WHEN len(f) > 0 THEN
                   list_min(list_transform(
                     list_filter(f, s -> s.agr =
                       list_max(list_transform(f, x -> x.agr))),
                     s -> s.id)) END AS matched_id,
                 CASE WHEN len(f) > 0 THEN
                   list_max(list_transform(f, s -> s.agr)) END AS agr,
                 run
          FROM (
            -- the scored-representative list computes HERE, in a plain
            -- subquery: a LATERAL would be natural but DuckDB 1.0
            -- cannot bind an outer lambda parameter inside a lambda
            -- nested in a LATERAL subquery
            SELECT m.band, m.key, st.rn + 1 AS rn, st.reps, m.id, m.hs,
                   CAST(m.run AS INT) AS run,
                   list_filter(
                     list_transform(st.reps, r ->
                       {{'agr': len(list_filter(range(1, 17),
                                    i -> r.hs[i] = m.hs[i])) / 16.0,
                        'id': r.id}}),
                     s -> s.agr >= 0.5) AS f
            FROM st JOIN members m
              ON m.band = st.band AND m.key = st.key AND m.rn = st.rn + 1
          )
        )
        SELECT doc_id, CAST(band AS INT) AS band, matched_id,
               round(agr, 6) AS est_jaccard, run
        FROM st WHERE matched_id IS NOT NULL
    """


def _streaming_neardup_banded_sql() -> str:
    """The shared CTE chain (two-batch logical docs -> minhash
    signatures -> band rows) feeding the streaming near-dup oracle's
    recursive bucket replay."""
    from recordmanager_spark.operators.text_dedup import _PERM_XOR

    mins = ",\n                   ".join(
        f"CAST(min(xor(h, {_PERM_XOR[p]})) AS VARCHAR) AS h{p}"
        for p in range(16)
    )
    band_keys = ", ".join(
        "h%d || '|' || h%d || '|' || h%d || '|' || h%d"
        % (b * 4, b * 4 + 1, b * 4 + 2, b * 4 + 3)
        for b in range(4)
    )
    return f"""logical AS (
          SELECT CAST(doc_id AS VARCHAR) AS id, 0 AS run, text AS t
          FROM documents WHERE doc_id < 40
          UNION ALL
          SELECT CAST(doc_id + 40 AS VARCHAR) AS id, 1 AS run,
                 text || ' tiny appended tail' AS t
          FROM documents WHERE doc_id < 40),
        toks AS (
          SELECT id, run,
                 list_filter(string_split_regex(
                   {_NORM.format(c='t')}, '\\s+'), x -> x <> '') AS ts
          FROM logical),
        sh AS (
          SELECT id, run,
                 unnest(CASE WHEN len(ts) >= 3 THEN {_SHINGLES3.format(t='ts')}
                        ELSE [array_to_string(ts, ' ')] END) AS s
          FROM toks),
        h AS (SELECT id, run, {_HEX15.format(h='md5(s)')} AS h FROM sh),
        sig AS (
          SELECT id, run,
                 {mins}
          FROM h GROUP BY id, run),
        banded AS (
          SELECT id, run, g.band, ([{band_keys}])[g.band + 1] AS key,
                 [h0,h1,h2,h3,h4,h5,h6,h7,h8,h9,h10,h11,h12,h13,h14,h15]
                   AS hs
          FROM sig, range(0, 4) g(band))"""


def _pack_bins_ffd_oracle_sql() -> str:
    """pack_bins_ffd replica: replays first-fit-decreasing exactly via a
    recursive CTE that advances one document per shard per step,
    carrying each shard's bin-fill list as state
    (operators/packing.py:523 — same md5 shard hash, (tokens desc, id)
    order, nt >= budget opens a bin, first fit otherwise,
    shard * 2**40 + local_bin ids, bin_fill = final fill)."""
    budget, ns = 256, 8
    return f"""
        WITH RECURSIVE docs AS (
          SELECT doc_id AS id,
                 CAST(len(list_filter(string_split_regex(trim(text),
                      '\\s+'), x -> x <> '')) AS BIGINT) AS nt,
                 {_HEX8.format(h="md5(CAST(doc_id AS VARCHAR))")} % {ns}
                   AS shard
          FROM documents WHERE doc_id < 500
        ),
        ord AS (
          SELECT *, row_number() OVER (PARTITION BY shard
                                       ORDER BY nt DESC, id ASC) AS rn
          FROM docs
        ),
        r AS (
          SELECT shard, CAST(0 AS BIGINT) AS rn,
                 CAST([] AS BIGINT[]) AS fills,
                 CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS nt,
                 CAST(NULL AS BIGINT) AS bin
          FROM (SELECT DISTINCT shard FROM docs)
          UNION ALL
          SELECT d.shard, r.rn + 1,
                 CASE
                   WHEN d.nt >= {budget} THEN list_append(r.fills, d.nt)
                   WHEN fit.i IS NOT NULL THEN
                     r.fills[1:fit.i-1] || [r.fills[fit.i] + d.nt]
                       || r.fills[fit.i+1:len(r.fills)]
                   ELSE list_append(r.fills, d.nt)
                 END AS fills,
                 d.id, d.nt,
                 CASE
                   WHEN d.nt >= {budget} THEN len(r.fills)
                   WHEN fit.i IS NOT NULL THEN fit.i - 1
                   ELSE len(r.fills)
                 END AS bin
          FROM r
          JOIN ord d ON d.shard = r.shard AND d.rn = r.rn + 1,
          LATERAL (SELECT list_filter(range(1, len(r.fills) + 1),
                          j -> r.fills[j] + d.nt <= {budget})[1] AS i) fit
        ),
        final AS (
          SELECT shard, fills FROM r
          QUALIFY row_number() OVER (PARTITION BY shard
                                     ORDER BY rn DESC) = 1
        )
        SELECT r.id, r.nt AS n_tokens, r.shard,
               r.shard * (CAST(1 AS BIGINT) << 40) + r.bin AS bin_id,
               f.fills[r.bin + 1] AS bin_fill,
               r.nt > {budget} AS oversize
        FROM r JOIN final f USING (shard)
        WHERE r.id IS NOT NULL
    """


def _corpus_config_warc_oracle_sql() -> str:
    """corpus_config_warc_docs replica: WARC render -> curate,
    end-to-end. The WARC hop is replayed by CONSTRUCTION (the fixture's
    response payload is '<p>' + first 120 chars + '</p>', doc_id the
    target URI, source the segment — per-document arithmetic, no
    parsing: the parser itself is hash-gated by warc_extract_docs),
    then the [corpus:warcdemo] stages replay operator-for-operator:
    html_to_text's expression chain, lang_id's stopword argmax over the
    STRIPPED text, exact dedup (min URI per normalized fingerprint),
    and the >=3 token gate."""
    from recordmanager_spark.functions.html import HTML_ENTITIES

    def q(sv: str) -> str:
        return "'" + sv.replace("'", "''") + "'"

    ent = "regexp_replace(sb, '(?s)<[^>]*>', ' ', 'g')"
    for e, ch in HTML_ENTITIES:
        ent = f"replace({ent}, {q(e)}, {q(ch)})"
    text_of = "trim(regexp_replace(" + ent + ", '\\s+', ' ', 'g'))"
    hits = "len(list_filter({t}, x -> list_contains({lst}, x)))"
    return f"""
        WITH rendered AS (
          SELECT 'https://corpus.example/' || CAST(doc_id AS VARCHAR)
                   AS doc_id,
                 CAST(doc_id % 25 AS VARCHAR) AS source,
                 '<p>' || substr(text, 1, 120) || '</p>' AS html
          FROM documents
        ), sbt AS (
          SELECT doc_id, source,
                 regexp_replace(regexp_replace(regexp_replace(html,
                   '(?is)<script[^>]*>.*?</script>', '', 'g'),
                   '(?is)<style[^>]*>.*?</style>', '', 'g'),
                   '(?s)<!--.*?-->', '', 'g') AS sb
          FROM rendered
        ), txt AS (
          SELECT doc_id, source, {text_of} AS text FROM sbt
        ), langd AS (
          SELECT doc_id, source, text,
                 {hits.format(t='lt', lst=_EN)} AS en,
                 {hits.format(t='lt', lst=_DE)} AS de,
                 {hits.format(t='lt', lst=_FR)} AS fr,
                 {hits.format(t='lt', lst=_ES)} AS es,
                 {hits.format(t='lt', lst=_FI)} AS fi
          FROM (SELECT *, string_split_regex(trim(lower(text)), '\\s+')
                       AS lt
                FROM txt)
        ), en_docs AS (
          SELECT doc_id, source, text,
                 CASE WHEN greatest(en, de, fr, es, fi) = 0 THEN 'und'
                      WHEN en = greatest(en, de, fr, es, fi) THEN 'en'
                      WHEN de = greatest(en, de, fr, es, fi) THEN 'de'
                      WHEN fr = greatest(en, de, fr, es, fi) THEN 'fr'
                      WHEN es = greatest(en, de, fr, es, fi) THEN 'es'
                      ELSE 'fi' END AS lang
          FROM langd
        ), kept AS (
          SELECT * FROM en_docs WHERE lang = 'en'
        ), first_copy AS (
          SELECT doc_id, source, lang, text FROM (
            SELECT *, min(doc_id) OVER (
              PARTITION BY {_NORM.format(c='text')}) AS c
            FROM kept) WHERE doc_id = c
        )
        SELECT doc_id, source, lang, n_tokens FROM (
          SELECT doc_id, source, lang,
                 CAST(len(list_filter(
                   string_split_regex(trim(text), '\\s+'),
                   x -> x <> '')) AS BIGINT) AS n_tokens
          FROM first_copy)
        WHERE n_tokens >= 3
    """


def _bm25_oracle_sql(k: int) -> str:
    return f"""
        WITH {_bm25_body_sql()},
        r AS (SELECT query_id, doc_id, score,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, doc_id) AS rnk
              FROM s)
        SELECT query_id, doc_id, score, CAST(rnk AS INTEGER) AS rank
        FROM r WHERE rnk <= {k}
    """


def _hybrid_oracle_sql() -> str:
    return f"""
        WITH {_bm25_body_sql()},
        lexr AS (SELECT query_id, doc_id,
                        row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, doc_id) AS rnk
                 FROM s),
        qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id < 8),
        cv AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v
               FROM embeddings),
        cs AS (SELECT query_id, neighbor_id,
                      round(list_cosine_similarity(qv.v, cv.v), 6) AS cosine
               FROM qv, cv WHERE query_id <> neighbor_id),
        vecr AS (SELECT query_id, neighbor_id AS doc_id,
                        row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, neighbor_id)
                          AS rnk
                 FROM cs),
        u AS (SELECT query_id, doc_id, 1.0 / (60 + rnk) AS w
              FROM lexr WHERE rnk <= 10
              UNION ALL
              SELECT query_id, doc_id, 1.0 / (60 + rnk) AS w
              FROM vecr WHERE rnk <= 10),
        f AS (SELECT query_id, doc_id, round(sum(w), 6) AS rrf
              FROM u GROUP BY 1, 2),
        fr AS (SELECT query_id, doc_id, rrf,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY rrf DESC, doc_id) AS rnk
               FROM f)
        SELECT query_id, doc_id, rrf, CAST(rnk AS INTEGER) AS rank
        FROM fr WHERE rnk <= 5
    """


def _mojibake_oracle_sql() -> str:
    """Folds the SAME ordered MOJIBAKE_MAP the Spark expression folds,
    over the SAME derived corrupted prefixes — parity by construction."""
    from recordmanager_spark.functions.text import MOJIBAKE_MAP

    p0, p1 = _mojibake_prefixes()

    def q(sv: str) -> str:
        return "'" + sv.replace("'", "''") + "'"

    expr = "c"
    for bad, good in MOJIBAKE_MAP:
        expr = f"replace({expr}, {q(bad)}, {q(good)})"
    return f"""
        WITH d AS (
          SELECT doc_id,
                 (CASE WHEN doc_id % 3 = 0 THEN {q(p0)}
                       WHEN doc_id % 3 = 1 THEN {q(p1)}
                       ELSE '' END) || text AS c
          FROM documents
        ), fx AS (SELECT doc_id, c, {expr} AS fixed FROM d)
        SELECT doc_id, substr(fixed, 1, 60) AS fixed_head,
               (fixed <> c) AS had_mojibake
        FROM fx
    """


def _knn_bruteforce_oracle_sql() -> str:
    return """
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 20),
        c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
              FROM embeddings),
        s AS (SELECT query_id, neighbor_id,
                     round(list_cosine_similarity(qv, cv), 6) AS cosine
              FROM q, c WHERE query_id <> neighbor_id),
        r AS (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
              FROM s)
        SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank
        FROM r WHERE rnk <= 5
    """


def _ann_recall_oracle_sql() -> str:
    """Recall@5 of the LSH search against exact brute force — both
    legs ARE the already-verified knn oracles, wrapped as subqueries."""
    return f"""
        WITH ex AS ({_knn_bruteforce_oracle_sql()}),
        ap AS ({_knn_lsh_oracle_sql()}),
        hit AS (SELECT ex.query_id, count(*) AS n_hit
                FROM ex JOIN ap ON ex.query_id = ap.query_id
                                AND ex.neighbor_id = ap.neighbor_id
                GROUP BY 1),
        exn AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1),
        apn AS (SELECT query_id, count(*) AS n_approx FROM ap GROUP BY 1)
        SELECT e.query_id, e.n_exact,
               coalesce(a.n_approx, 0) AS n_approx,
               coalesce(h.n_hit, 0) AS n_hit,
               round(coalesce(h.n_hit, 0) / CAST(e.n_exact AS DOUBLE), 6)
                 AS recall
        FROM exn e
        LEFT JOIN apn a ON e.query_id = a.query_id
        LEFT JOIN hit h ON e.query_id = h.query_id
    """


def _html_extract_oracle_sql() -> str:
    """Replays functions/html.py's expression chain in DuckDB (RE2:
    same inline (?is) flags, no backreferences) over the same fixture
    constants — parity by construction."""
    from recordmanager_spark.functions.html import HTML_ENTITIES

    def q(sv: str) -> str:
        return "'" + sv.replace("'", "''") + "'"

    ent = "regexp_replace(sb, '(?s)<[^>]*>', ' ', 'g')"
    for e, ch in HTML_ENTITIES:
        ent = f"replace({ent}, {q(e)}, {q(ch)})"
    text_of = "trim(regexp_replace(" + ent + ", '\\s+', ' ', 'g'))"
    anchor_len = (
        "length(trim(regexp_replace(regexp_replace(a, '(?s)<[^>]*>', ' ',"
        " 'g'), '\\s+', ' ', 'g')))"
    )
    return f"""
        WITH h AS (
          SELECT doc_id,
                 {q(_HTML_P1)} || CAST(doc_id AS VARCHAR) || {q(_HTML_P2)}
                 || CAST(doc_id AS VARCHAR) || {q(_HTML_P3)}
                 || substr(text, 1, 150) || {q(_HTML_P4)}
                 || (CASE WHEN doc_id % 4 = 0 THEN {q(_HTML_FOOTER)}
                          ELSE '' END)
                 || {q(_HTML_P5)} AS html
          FROM documents
        ), sbt AS (
          SELECT doc_id, html,
                 regexp_replace(regexp_replace(regexp_replace(html,
                   '(?is)<script[^>]*>.*?</script>', '', 'g'),
                   '(?is)<style[^>]*>.*?</style>', '', 'g'),
                   '(?s)<!--.*?-->', '', 'g') AS sb
          FROM h
        ), txt AS (
          SELECT doc_id, html, sb, {text_of} AS text_all
          FROM sbt
        )
        SELECT doc_id,
               trim(regexp_replace(regexp_extract(html,
                 '(?is)<title[^>]*>(.*?)</title>', 1), '\\s+', ' ', 'g'))
                 AS title,
               substr(text_all, 1, 100) AS text_head,
               length(text_all) AS n_chars,
               round(coalesce(list_sum(list_transform(
                       regexp_extract_all(sb, '(?is)<a[^>]*>(.*?)</a>', 1),
                       a -> {anchor_len})), 0)
                     / CAST(greatest(length(text_all), 1) AS DOUBLE), 6)
                 AS link_density
        FROM txt
    """


def _warc_extract_oracle_sql() -> str:
    """Computes the EXPECTED parse of the WARC fixture independently —
    per-document arithmetic, no parsing — so the Spark side's framing
    (Content-Length envelopes, per-segment record order, HTTP body
    split) is validated end-to-end, not replayed."""
    http_len = len(_WARC_HTTP_PREFIX)
    return f"""
        WITH b AS (
          SELECT doc_id, doc_id % 25 AS f,
                 '<p>' || substr(text, 1, 120) || '</p>' AS body
          FROM documents
        )
        SELECT CAST(f AS INT) AS warc_file,
               CAST(row_number() OVER (PARTITION BY f ORDER BY doc_id) - 1
                    AS INT) AS record_ord,
               'https://corpus.example/' || CAST(doc_id AS VARCHAR)
                 AS target_uri,
               CAST({http_len} + strlen(body) AS BIGINT)
                 AS content_length,
               body AS payload
        FROM b
    """
