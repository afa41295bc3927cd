"""Group-merge policy goldens (SolrUpdater mergeRecords semantics)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from recordmanager_spark.operators import merge as MG


def test_merge_policies(spark):
    rows = [
        Row(gid=1, _id="a", title="Proper Title Longer", topics=["X", "y"], pages=10, note="first"),
        Row(gid=1, _id="b", title="SHOUTY TITLE LONGER THAN OTHER", topics=["Y", "z"], pages=5, note=None),
        Row(gid=2, _id="c", title=None, topics=None, pages=None, note=None),
    ]
    df = spark.createDataFrame(rows)
    score = F.when(F.col("_id") == "a", 2).otherwise(1)
    out = MG.merge_groups(
        df,
        "gid",
        "_id",
        merged_fields=["topics"],
        single_fields=["note"],
        summed_fields=["pages"],
        score=score,
    ).orderBy("_id")
    g1, g2 = out.collect()
    # the higher-scoring member is the base
    assert g1["local_ids"] == ["a", "b"]
    assert g1["group_size"] == 2
    # merged: base-first order, case-insensitive distinct keeps first case
    assert g1["topics"] == ["X", "y", "z"]
    assert g1["note"] == "first"
    assert g1["pages"] == 15
    # singleton group with nulls
    assert g2["topics"] == []
    assert g2["note"] is None
    assert g2["pages"] is None


def test_copy_down(spark):
    rows = [
        Row(gid=1, _id="a", title="T", topics=["x"], pages=1, note="n"),
        Row(gid=1, _id="b", title="T2", topics=["y"], pages=2, note=None),
    ]
    df = spark.createDataFrame(rows)
    merged = MG.merge_groups(
        df, "gid", "_id", merged_fields=["topics"], summed_fields=["pages"]
    )

    down = MG.copy_down(
        df, merged.withColumnRenamed("_id", "gid_out").withColumnRenamed("gid_out", "_id"),
        "gid", "_id", ["topics"],
    )
    got = {r["_id"]: r["topics"] for r in down.collect()}
    assert got["a"] == ["x", "y"] and got["b"] == ["x", "y"]


def test_merge_component_parts_policy(spark):
    """componentParts policy (SolrUpdater.php:1928-1993): merge decision by
    format class, date propagation, deleted components excluded."""
    import datetime

    d = datetime.date
    hosts = spark.createDataFrame(
        [
            ("h1", "src", ["L1"], "Book", d(2020, 1, 1)),
            ("h2", "src", ["L2"], "Journal", d(2020, 1, 1)),
            ("h3", "src", ["L3"], "eJournal", d(2020, 1, 1)),
            ("h4", "src", ["L4"], "Book", d(2020, 1, 1)),  # no components
            ("h5", "other", ["L1"], "Book", d(2020, 1, 1)),  # other source
        ],
        "_id string, source_id string, linking_id array<string>,"
        " format string, date date",
    )
    comps = spark.createDataFrame(
        [
            ("c1", "src", ["L1"], "Part 1", d(2021, 6, 1), False, False),
            ("c2", "src", ["L1"], "Part 2", d(2019, 6, 1), False, False),
            ("c3", "src", ["L2"], "Part 3", d(2022, 1, 1), False, False),
            ("c4", "src", ["L3"], "Part 4", d(2022, 1, 1), False, False),
            ("cdel", "src", ["L1"], "Gone", d(2030, 1, 1), True, False),
            ("csup", "src", ["L1"], "Hidden", d(2030, 1, 1), False, True),
        ],
        "_id string, source_id string, host_record_id array<string>,"
        " title string, date date, deleted boolean, suppressed boolean",
    )
    out = {
        r["_id"]: r
        for r in MG.merge_component_parts(
            hosts, comps, component_parts="merge_non_earticles"
        ).collect()
    }
    # Book host merges, date advances to newest live component
    assert out["h1"]["merged_component_count"] == 2
    assert [s["id"] for s in out["h1"]["component_info"]] == ["c1", "c2"]
    assert out["h1"]["date"] == d(2021, 6, 1)
    # Journal merges under merge_non_earticles
    assert out["h2"]["merged_component_count"] == 1
    assert out["h2"]["date"] == d(2022, 1, 1)
    # eJournal never merges under merge_non_earticles (but parts exist)
    assert out["h3"]["has_component_parts"]
    assert out["h3"]["merged_component_count"] == 0
    assert out["h3"]["date"] == d(2020, 1, 1)
    assert out["h3"]["component_info"] == []
    # no components at all
    assert not out["h4"]["has_component_parts"]
    # cross-source components don't attach without componentPartSourceId
    assert not out["h5"]["has_component_parts"]
    # ... but do with it
    out5 = {
        r["_id"]: r
        for r in MG.merge_component_parts(
            hosts, comps, component_sources=["src"]
        ).collect()
    }
    assert out5["h5"]["merged_component_count"] == 2


def test_is_hidden_component_part(spark):
    """MetadataUtils::isHiddenComponentPart (:947-973): merge_all hides every
    component; the non-article merge modes hide everything except eArticle
    formats (both modes share one branch body in the reference)."""
    from recordmanager_spark.operators.merge import is_hidden_component_part

    df = spark.createDataFrame(
        [("h1", "Article"), (None, "Article"), ("h1", "eArticle"), ("h1", "Book")],
        "host: string, fmt: string",
    )

    def got(mode):
        rows = df.select(
            "host", "fmt",
            is_hidden_component_part(
                F.col("host"), F.col("fmt"), component_parts=mode
            ).alias("hidden"),
        ).collect()
        return {(r["host"], r["fmt"]): r["hidden"] for r in rows}

    g = got("merge_all")
    assert g[("h1", "Article")] and g[("h1", "Book")] and g[("h1", "eArticle")]
    assert not g[(None, "Article")]

    for mode in ("merge_non_articles", "merge_non_earticles"):
        g = got(mode)
        assert g[("h1", "Article")]        # plain article formats hide
        assert g[("h1", "Book")]           # non-article formats hide
        assert not g[("h1", "eArticle")]   # eArticle stays visible
        assert not g[(None, "Article")]    # not a component

    g = got("no_merge")
    assert not any(g.values())
