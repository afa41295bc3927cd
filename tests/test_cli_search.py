"""index -> search console lifecycle: the reference's whole search
story is a console command away (`solr update-index`;
src/RecordManager/Base/Command/Solr/UpdateIndex.php — behavioral
spec); here `index` writes the bucketed postings + stats catalog
tables and `search` probes them corpus-zero.
"""

import json
import uuid

import pytest

from recordmanager_spark.cli import main


@pytest.fixture
def table(spark):
    """Unique catalog name per run + cleanup: saveAsTable refuses a
    stale warehouse LOCATION left by a previous session even in
    overwrite mode (the table is gone from the fresh catalog, the
    directory is not)."""
    name = "t_cli_bm25_" + uuid.uuid4().hex[:8]
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(f"DROP TABLE IF EXISTS {name}_stats")


def _docs(spark, path):
    spark.createDataFrame(
        [
            (0, "spark engine spark engine spark"),  # tf(spark)=3
            (1, "spark engine and other words here padding tokens"),
            (2, "nothing relevant whatsoever in this document"),
            (3, "spark appears once in a long document " + "pad " * 20),
        ],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(path)


def test_index_then_search_lifecycle(spark, tmp_path, capsys, table):
    src = str(tmp_path / "docs")
    _docs(spark, src)
    main(
        [
            "index",
            "--input", src,
            "--table", table,
            "--buckets", "4",
        ]
    )
    out = capsys.readouterr().out
    assert table in out and "_stats" in out

    # ad-hoc query prints ranked JSON lines
    main(["search", "--table", table, "--query", "spark", "--k", "2"])
    lines = [
        json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
    ]
    assert [r["rank"] for r in lines] == [1, 2]
    # highest tf + short doc wins; doc 2 (no term) never appears
    assert lines[0]["doc_id"] == 0
    assert all(r["doc_id"] != 2 for r in lines)
    assert lines[0]["score"] > lines[1]["score"]

    # batch path: parquet of queries in, parquet of results out
    qsrc = str(tmp_path / "queries")
    spark.createDataFrame(
        [(1, "spark engine"), (2, "padding tokens")],
        "query_id int, query_text string",
    ).write.parquet(qsrc)
    res = str(tmp_path / "results")
    main(
        [
            "search",
            "--table", table,
            "--queries", qsrc,
            "--k", "3",
            "--out", res,
        ]
    )
    rows = spark.read.parquet(res).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {1, 2}
    top_padding = min(by_q[2], key=lambda r: r["rank"])
    assert top_padding["doc_id"] == 1  # the only doc with both terms


def test_search_requires_exactly_one_query_form(tmp_path):
    import pytest

    with pytest.raises(SystemExit, match="query"):
        main(["search", "--table", "t_missing"])
    with pytest.raises(SystemExit, match="query"):
        main(
            [
                "search", "--table", "t_missing",
                "--query", "x", "--queries", "y",
            ]
        )


def test_index_recovers_from_orphan_warehouse_dir(spark, tmp_path, table):
    """A managed-table directory left by a DEAD session (the catalog is
    per-session, the warehouse dir is not) must not fail a re-run of
    `index` with LOCATION_ALREADY_EXISTS."""
    import os
    from urllib.parse import urlparse

    src = str(tmp_path / "docs")
    _docs(spark, src)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    os.makedirs(os.path.join(wh, table.lower()), exist_ok=True)
    os.makedirs(os.path.join(wh, table.lower() + "_stats"), exist_ok=True)
    main(["index", "--input", src, "--table", table, "--buckets", "2"])
    assert spark.table(table).count() > 0


def test_search_survives_catalog_loss(spark, tmp_path, capsys, table):
    """index in process A, search in process B: the fresh catalog has
    forgotten the tables but the warehouse data survived — search must
    re-register and answer, with the bucket spec restored when
    --buckets names the original count (r11; same recovery class as
    curate's fingerprint index)."""
    import json as _json
    import shutil

    from recordmanager_spark.cli import _table_location
    from tests.oracles import local_path

    src = str(tmp_path / "docs")
    _docs(spark, src)
    main(["index", "--input", src, "--table", table, "--buckets", "4"])
    capsys.readouterr()

    # simulate the process restart for BOTH tables: save data aside
    # across the managed-table DROP, then restore it
    for t in (table, table + "_stats"):
        loc = local_path(_table_location(spark, t))
        saved = tmp_path / ("saved_" + t)
        shutil.copytree(loc, saved)
        spark.sql(f"DROP TABLE {t}")
        shutil.copytree(saved, loc)
    assert not spark.catalog.tableExists(table)

    main(
        [
            "search", "--table", table, "--query", "spark",
            "--k", "2", "--buckets", "4",
        ]
    )
    lines = [
        _json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
    ]
    assert [r["rank"] for r in lines] == [1, 2]
    assert lines[0]["doc_id"] == 0  # tf(spark)=3 doc still ranks first
    # the recovered postings table kept its bucket spec
    detail = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    nb = [r.data_type for r in detail if r.col_name == "Num Buckets"]
    assert nb == ["4"]
    # cleanup: recovered tables are external; clear their locations
    for t in (table, table + "_stats"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(
            local_path(_table_location(spark, t)), ignore_errors=True
        )
