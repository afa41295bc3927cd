"""Component-part dedup + incremental dedup tests (DedupHandler.php:1255-1372,
Command/Records/Deduplicate.php incremental semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from recordmanager_spark.operators import dedup as DD
from recordmanager_spark.sparkcompat import try_element_at

_EMPTY = []


def _rec(id, src, title, author="author x", fmt="marc", year="2000", pages=100,
         isbn=None, host=None, dirty=False):
    return (
        id, src, title, author, fmt, None, isbn or [], [], [],
        year, pages, None, None, host, dirty,
    )


_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType()),
        T.StructField("source_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("author", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("access_restrictions", T.StringType()),
        T.StructField("isbn", T.ArrayType(T.StringType())),
        T.StructField("unique_ids", T.ArrayType(T.StringType())),
        T.StructField("issn", T.ArrayType(T.StringType())),
        T.StructField("publish_year", T.StringType()),
        T.StructField("page_count", T.IntegerType()),
        T.StructField("series_issn", T.StringType()),
        T.StructField("series_numbering", T.StringType()),
        T.StructField("host_id", T.StringType()),
        T.StructField("update_needed", T.BooleanType()),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def test_component_part_dedup_full_match(spark):
    hosts = spark.createDataFrame(
        [("a.h1", "a", "g1"), ("b.h1", "b", "g1"), ("a.h2", "a", None)],
        ["_id", "source_id", "dedup_id"],
    )
    comps = _df(
        spark,
        [
            _rec("a.c1", "a", "part one", host="a.h1"),
            _rec("a.c2", "a", "part two", host="a.h1"),
            _rec("b.c1", "b", "part one", host="b.h1"),
            _rec("b.c2", "b", "part two", host="b.h1"),
        ],
    )
    out = {
        r.id: r.dedup_id
        for r in DD.dedup_component_parts(hosts, comps).collect()
    }
    # aligned pairs matched -> each pair grouped
    assert out["a.c1"] == out["b.c1"] is not None
    assert out["a.c2"] == out["b.c2"] is not None
    assert out["a.c1"] != out["a.c2"]


def test_component_part_dedup_count_mismatch(spark):
    hosts = spark.createDataFrame(
        [("a.h1", "a", "g1"), ("b.h1", "b", "g1")],
        ["_id", "source_id", "dedup_id"],
    )
    comps = _df(
        spark,
        [
            _rec("a.c1", "a", "part one", host="a.h1"),
            _rec("a.c2", "a", "part two", host="a.h1"),
            _rec("b.c1", "b", "part one", host="b.h1"),  # only 1 component
        ],
    )
    out = DD.dedup_component_parts(hosts, comps).collect()
    assert all(r.dedup_id is None for r in out)


def test_component_part_dedup_one_bad_pair_rejects_host(spark):
    hosts = spark.createDataFrame(
        [("a.h1", "a", "g1"), ("b.h1", "b", "g1")],
        ["_id", "source_id", "dedup_id"],
    )
    comps = _df(
        spark,
        [
            _rec("a.c1", "a", "part one", host="a.h1"),
            _rec("a.c2", "a", "part two", year="2000", host="a.h1"),
            _rec("b.c1", "b", "part one", host="b.h1"),
            _rec("b.c2", "b", "part two", year="1999", host="b.h1"),  # reject
        ],
    )
    out = DD.dedup_component_parts(hosts, comps).collect()
    assert all(r.dedup_id is None for r in out)


def _base_records(spark):
    rows = [
        _rec("a.1", "a", "shared title one"),
        _rec("b.1", "b", "shared title one"),
        _rec("a.2", "a", "shared title two"),
        _rec("b.2", "b", "shared title two"),
        _rec("a.3", "a", "lonely record"),
    ]
    df = _df(spark, rows)
    df = DD.with_dedup_keys(df, "title", "author", isbn_col=None)
    return df.withColumn("id_keys", F.array().cast("array<string>")).withColumn(
        "isbn_keys", F.array().cast("array<string>")
    )


def test_incremental_matches_full(spark):
    recs = _base_records(spark)
    full = {r.id: r.dedup_id for r in DD.deduplicate(recs).collect()}
    # prior state: groups computed without b.2 (it arrives dirty)
    prior_recs = recs.where(F.col("_id") != "b.2")
    prior = DD.deduplicate(prior_recs)
    dirty = recs.withColumn("update_needed", F.col("_id") == "b.2")
    inc = {
        r.id: r.dedup_id
        for r in DD.deduplicate_incremental(dirty, prior).collect()
    }
    for k, v in inc.items():
        assert full.get(k) == v, (k, v, full.get(k))
    # the new arrival joined its group
    assert inc["b.2"] == inc["a.2"] is not None


def test_incremental_dirty_record_leaves_group(spark):
    recs = _base_records(spark)
    prior = DD.deduplicate(recs)
    # b.1's title changes so it no longer matches a.1
    changed = recs.withColumn(
        "title",
        F.when(F.col("_id") == "b.1", F.lit("entirely different now")).otherwise(
            F.col("title")
        ),
    )
    changed = DD.with_dedup_keys(changed, "title", "author", isbn_col=None)
    dirty = changed.withColumn("update_needed", F.col("_id") == "b.1")
    inc = {
        r.id: r.dedup_id
        for r in DD.deduplicate_incremental(dirty, prior).collect()
    }
    assert inc.get("b.1") is None  # left the group
    assert inc.get("a.1") is None  # group dissolved below 2 members
    assert inc["a.2"] == inc["b.2"] is not None  # untouched group survives


def test_ignore_keys_block_poison(spark):
    recs = _df(
        spark,
        [
            _rec("a.1", "a", "annual report"),
            _rec("b.1", "b", "annual report"),
        ],
    )
    keyed = DD.with_dedup_keys(recs, "title", "author", isbn_col=None)
    poison = keyed.select(try_element_at("title_keys", 1)).collect()[0][0]
    blocked = DD.with_dedup_keys(
        recs, "title", "author", isbn_col=None, ignore_keys=[poison]
    )
    assert blocked.select(F.size("title_keys")).collect()[0][0] == 0


def test_check_dedup_consistency(spark):
    records = spark.createDataFrame(
        [("a.1", "a"), ("a.2", "a"), ("b.1", "b"), ("c.1", "c")],
        "_id string, source_id string",
    )
    assignment = spark.createDataFrame(
        [
            ("a.1", "g1"), ("b.1", "g1"), ("a.2", "g1"),  # a.2 collides with a.1
            ("c.1", "g2"),                                  # singleton
            ("ghost", "g1"),                                # dangling
        ],
        "id string, dedup_id string",
    )
    issues = {
        (r.id, r.issue)
        for r in DD.check_dedup_consistency(assignment, records).collect()
    }
    assert ("a.2", "same_source_collision") in issues
    assert ("c.1", "singleton_group") in issues
    assert ("ghost", "dangling_record") in issues
    assert not any(i for i in issues if i[0] in ("a.1", "b.1"))


def test_check_dedup_consistency_clean(spark):
    records = spark.createDataFrame(
        [("a.1", "a"), ("b.1", "b")], "_id string, source_id string"
    )
    assignment = spark.createDataFrame(
        [("a.1", "g1"), ("b.1", "g1")], "id string, dedup_id string"
    )
    assert DD.check_dedup_consistency(assignment, records).count() == 0


# ---------------------------------------------------------------------------
# Distributed connected-components fallback (_DRIVER_EDGE_LIMIT=0 forces it)
# ---------------------------------------------------------------------------


def _cc_both_paths(spark, monkeypatch, edges):
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    driver = sorted(
        map(tuple, DD.connected_components(df).collect())
    )
    monkeypatch.setattr(DD, "_DRIVER_EDGE_LIMIT", 0)
    distributed = sorted(
        map(tuple, DD.connected_components(df).collect())
    )
    return driver, distributed


def test_cc_distributed_star_matches_driver(spark, monkeypatch):
    """Skewed star graph (one hub, 300 leaves): the distributed
    label-propagation fallback must produce component-identical output
    to the driver union-find."""
    edges = [("hub", f"leaf{i:03d}") for i in range(300)]
    driver, distributed = _cc_both_paths(spark, monkeypatch, edges)
    assert driver == distributed
    assert all(c == "hub" for _, c in distributed)


def test_cc_distributed_long_chain_matches_driver(spark, monkeypatch):
    """200-node chain — label propagation's worst case. Pointer jumping
    must converge within the default max_iterations (one-hop-only
    propagation would need 200 rounds and fail)."""
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(199)]
    driver, distributed = _cc_both_paths(spark, monkeypatch, edges)
    assert driver == distributed
    assert all(c == "n000" for _, c in distributed)
    assert len(distributed) == 200


def test_cc_distributed_mixed_components(spark, monkeypatch):
    """Several disjoint components of mixed shapes resolve identically
    on both paths."""
    edges = (
        [("a1", "a2"), ("a2", "a3"), ("a1", "a3")]  # triangle
        + [("b1", "b2")]  # pair
        + [(f"c{i}", f"c{i + 1}") for i in range(10)]  # short chain
        + [("z9", "z1"), ("z9", "z2"), ("z9", "z3")]  # star, hub not min
    )
    driver, distributed = _cc_both_paths(spark, monkeypatch, edges)
    assert driver == distributed


def test_cc_distributed_nonnullable_edges(spark, monkeypatch):
    """Edges built from range() (non-nullable columns) used to trip
    Spark's Union constraint rewrite inside the propagation loop
    ("key not found" in UnionBase.rewriteConstraints) — found by the
    r11 distributed-CC soak. The hop step is now a join, not a union;
    pin the shape that failed."""
    from pyspark.sql import functions as F

    edges = (
        spark.range(96)
        .where(F.pmod("id", F.lit(8)) != 7)
        .select(
            F.format_string("r%09d", "id").alias("id_a"),
            F.format_string("r%09d", F.col("id") + 1).alias("id_b"),
        )
    )
    report = {}
    monkeypatch.setattr(DD, "_DRIVER_EDGE_LIMIT", 0)
    comp = DD.connected_components(edges, report=report)
    rows = {r["id"]: r["component"] for r in comp.collect()}
    assert report["path"] == "distributed"
    assert len(rows) == 96
    for i in range(96):
        assert rows[f"r{i:09d}"] == f"r{(i // 8) * 8:09d}"


def test_cc_distributed_nonconvergence_raises(spark, monkeypatch):
    """Running out of iterations is a loud error, not silent wrong
    components."""
    import pytest

    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(99)],
        "id_a string, id_b string",
    )
    monkeypatch.setattr(DD, "_DRIVER_EDGE_LIMIT", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.connected_components(edges, max_iterations=1)


def test_near_dup_prune_distributed_cc(spark, monkeypatch):
    """near_dup_prune inherits the distributed CC fallback; forcing it
    (_DRIVER_EDGE_LIMIT=0) must not change the output."""
    from recordmanager_spark.operators.text_dedup import near_dup_prune

    docs = spark.createDataFrame(
        [(f"d{i:02d}", float((i * 7) % 5)) for i in range(20)],
        "doc_id string, q double",
    )
    pairs = spark.createDataFrame(
        [(f"d{i:02d}", f"d{i + 4:02d}") for i in range(16)],
        "id_a string, id_b string",
    )
    default = sorted(
        map(tuple, near_dup_prune(docs, pairs, quality_col="q").collect())
    )
    monkeypatch.setattr(DD, "_DRIVER_EDGE_LIMIT", 0)
    forced = sorted(
        map(tuple, near_dup_prune(docs, pairs, quality_col="q").collect())
    )
    assert default == forced


def test_assign_components_distributed_matches_driver(spark, monkeypatch):
    """_assign_components' distributed branch (CC + windowed
    one-per-source enforcement) agrees with the driver-side assignment
    on conflicts and dissolving groups."""
    edges = spark.createDataFrame(
        [
            # component {a1,a2,b1}: a1/a2 share source s1 -> a2 evicted
            ("a1", "b1", "s1", "s2"),
            ("a2", "b1", "s1", "s2"),
            # pair from distinct sources survives
            ("c1", "c2", "s1", "s2"),
            # same-source pair dissolves entirely (<2 after eviction)
            ("e1", "e2", "s3", "s3"),
        ],
        "id_a string, id_b string, src_a string, src_b string",
    )
    records = spark.createDataFrame(
        [
            ("a1", "s1"), ("a2", "s1"), ("b1", "s2"),
            ("c1", "s1"), ("c2", "s2"), ("e1", "s3"), ("e2", "s3"),
        ],
        "_id string, source_id string",
    )

    def assign():
        return sorted(
            map(
                tuple,
                DD._assign_components(
                    edges, records, strategy="adaptive"
                ).collect(),
            )
        )

    driver = assign()
    monkeypatch.setattr(DD, "_DRIVER_EDGE_LIMIT", 0)
    distributed = assign()
    assert driver == distributed
    assert ("a2", None) in driver and ("e1", None) in driver


def test_assign_components_rejects_other_strategies(spark):
    import pytest

    edges = spark.createDataFrame(
        [("a1", "b1", "s1", "s2")],
        "id_a string, id_b string, src_a string, src_b string",
    )
    records = spark.createDataFrame(
        [("a1", "s1"), ("b1", "s2")], "_id string, source_id string"
    )
    with pytest.raises(ValueError, match="adaptive"):
        DD._assign_components(edges, records, strategy="task")
