"""End-to-end console-command tests: import → deduplicate →
update-index → export → count-values → preview over a temp record
store, mirroring the reference's command lifecycle (§3)."""

from __future__ import annotations

import json
import os

import pytest

from recordmanager_spark.cli import main


def _dc(rec_id: str, title: str, creator: str) -> str:
    return (
        f"<record><recordID>{rec_id}</recordID><title>{title}</title>"
        f"<creator>{creator}</creator><type>Text</type></record>"
    )


@pytest.fixture()
def workspace(tmp_path, spark):
    conf = tmp_path / "conf"
    maps = tmp_path / "mappings"
    conf.mkdir()
    maps.mkdir()
    (conf / "datasources.ini").write_text(
        """
[libA]
institution = InstA
format = dc
recordXPath = //record
fieldRules[] = "copy format genre_facet"
format_mapping = formats.map
extraFields[] = sector_str_mv:library

[libB]
institution = InstB
format = dc
idPrefix = B
"""
    )
    (maps / "formats.map").write_text("Text = Book\n##default = Other\n")
    (tmp_path / "a.xml").write_text(
        "<collection>"
        + _dc("a1", "Shared Chronicle", "Chronicler, C.")
        + _dc("a2", "Only In A", "Author, A.")
        + "</collection>"
    )
    (tmp_path / "b.xml").write_text(
        "<collection>"
        + _dc("b1", "Shared Chronicle", "Chronicler, C.")
        + _dc("b2", "Only In B", "Writer, W.")
        + "</collection>"
    )
    return tmp_path


def test_cli_lifecycle(workspace, spark, capsys):
    ws = str(workspace)
    cfg = f"{ws}/conf/datasources.ini"
    records = f"{ws}/records"

    main(["import", "--config", cfg, "--source", "libA",
          "--file", f"{ws}/a.xml", "--records", records,
          "--id-tag", "recordID"])
    main(["import", "--config", cfg, "--source", "libB",
          "--file", f"{ws}/b.xml", "--records", records,
          "--id-tag", "recordID"])
    stored = spark.read.parquet(records)
    ids = sorted(r._id for r in stored.collect())
    # libA uses the section name as prefix; libB overrides with idPrefix
    assert ids == ["B.b1", "B.b2", "libA.a1", "libA.a2"]

    # re-import of the same file upserts, not duplicates
    main(["import", "--config", cfg, "--source", "libA",
          "--file", f"{ws}/a.xml", "--records", records,
          "--id-tag", "recordID"])
    assert spark.read.parquet(records).count() == 4

    main(["deduplicate", "--records", records, "--out", f"{ws}/dedup"])
    dd = {r.id: r.dedup_id for r in spark.read.parquet(f"{ws}/dedup").collect()}
    # the shared title+author pair groups across sources; group id = min id
    assert dd.get("B.b1") == dd.get("libA.a1") is not None

    main(["update-index", "--records", records, "--config", cfg,
          "--source", "libA", "--out", f"{ws}/solr",
          "--mappings", f"{ws}/mappings"])
    docs = {r["id"]: r.asDict() for r in spark.read.json(f"{ws}/solr").collect()}
    assert set(docs) == {"libA.a1", "libA.a2"}
    d = docs["libA.a1"]
    assert d["genre_facet"] == ["Text"]  # copied before the mapping ran
    assert d["format"] == "Book"  # mapped (scalar format column for dc)
    assert d["sector_str_mv"] == ["library"]
    assert d["institution"] == "InstA"
    # the store's bookkeeping columns never reach a document
    store_cols = {"_id", "source_id", "deleted", "created", "updated",
                  "update_needed"}
    for line in _part_lines(f"{ws}/solr"):
        assert not store_cols & set(json.loads(line))

    main(["export", "--records", records, "--out", f"{ws}/export"])
    exported = spark.read.json(f"{ws}/export")
    assert exported.count() == 4
    assert set(exported.columns) == {"_id", "original_data"}

    main(["count-values", "--records", records, "--field", "format"])
    out = capsys.readouterr().out
    assert "dc" in out  # the stored format column histogram

    rec = f"{ws}/one.xml"
    open(rec, "w").write(_dc("p1", "Preview Me", "Previewer, P."))
    main(["preview", "--file", rec, "--format", "dc"])
    payload = json.loads(capsys.readouterr().out)
    assert payload["title"] == "Preview Me"


def _part_lines(path: str) -> list[str]:
    return [
        line
        for name in sorted(os.listdir(path)) if name.startswith("part-")
        for line in open(os.path.join(path, name)) if line.strip()
    ]


def _preview_and_document(tmp_path, capsys, ini, record, id_tag):
    """(preview map, update-index document) of one imported record."""
    from recordmanager_spark.operators.preview import _empty

    (tmp_path / "conf").mkdir()
    (tmp_path / "mappings").mkdir()
    (tmp_path / "mappings" / "formats.map").write_text("Text = Book\n")
    cfg = str(tmp_path / "conf" / "ds.ini")
    open(cfg, "w").write(ini)
    dump, rec = str(tmp_path / "dump.xml"), str(tmp_path / "rec.xml")
    open(dump, "w").write(f"<collection>{record}</collection>")
    open(rec, "w").write(record)
    records, out = str(tmp_path / "records"), str(tmp_path / "solr")
    common = ["--config", cfg, "--source", "src"]
    main(["import", *common, "--file", dump, "--records", records,
          "--id-tag", id_tag])
    main(["update-index", "--records", records, *common, "--out", out])
    capsys.readouterr()
    main(["preview", "--file", rec, *common])
    preview = json.loads(capsys.readouterr().out)
    (doc,) = [json.loads(line) for line in _part_lines(out)]
    return preview, {k: v for k, v in doc.items() if not _empty(v)}


def test_preview_is_update_index_document_dc(tmp_path, spark, capsys):
    """preview --config --source prints the update-index document of
    the same record (empty fields dropped), plus the epoch indexed
    timestamps every preview carries."""
    preview, doc = _preview_and_document(
        tmp_path, capsys,
        "[src]\ninstitution = I\nformat = dc\nidPrefix = A\n"
        "format_mapping = formats.map\n"
        "extraFields[] = sector_str_mv:library\n",
        _dc("a1", "Parity", "Author, A."), "recordID",
    )
    assert doc["id"] == "A.a1"
    assert doc["format"] == "Book"
    assert doc["sector_str_mv"] == ["library"]
    epoch = "1970-01-01T00:00:00Z"
    assert preview == {**doc, "first_indexed": epoch, "last_indexed": epoch}


def test_preview_is_update_index_document_marc(tmp_path, spark, capsys):
    """The MARC preview differs from the update-index document only by
    the fields update-index does not emit yet: work keys and the epoch
    indexed timestamps."""
    marcxml = (
        '<record><leader>00000cam a22000004i 4500</leader>'
        '<controlfield tag="001">m1</controlfield>'
        '<controlfield tag="008">970101s1999    xxu           '
        '      eng d</controlfield>'
        '<datafield tag="100" ind1="1" ind2=" ">'
        '<subfield code="a">Writer, W.</subfield></datafield>'
        '<datafield tag="245" ind1="1" ind2="0">'
        '<subfield code="a">Parity title</subfield></datafield>'
        '</record>'
    )
    preview, doc = _preview_and_document(
        tmp_path, capsys,
        "[src]\ninstitution = I\nformat = marc\nidPrefix = M\n",
        marcxml, "controlfield",
    )
    assert doc["id"] == "M.m1"
    extra = {"work_keys_str_mv", "first_indexed", "last_indexed"}
    assert extra <= set(preview)
    assert {k: v for k, v in preview.items() if k not in extra} == doc


def test_cli_harvest_and_deletions(tmp_path, spark):
    """harvest: fetched OAI-PMH pages -> records table with deleted
    headers honored; update-index writes delete batches for them."""
    (tmp_path / "ds.ini").write_text(
        "[oai]\ninstitution = I\nformat = dc\n"
        'idSearch[] = "/^oai:x:rec/"\nidReplace[] = "r-"\n'
    )
    page = """<OAI-PMH><ListRecords>
      <record><header><identifier>oai:x:rec1</identifier>
        <datestamp>2024-01-01</datestamp></header>
        <metadata><dc><recordID>rec1</recordID><title>T1</title></dc></metadata>
      </record>
      <record><header status="deleted"><identifier>oai:x:rec2</identifier>
        <datestamp>2024-01-02</datestamp></header>
      </record>
    </ListRecords></OAI-PMH>"""
    (tmp_path / "page1.xml").write_text(page)
    records = str(tmp_path / "records")
    main(["harvest", "--config", str(tmp_path / "ds.ini"), "--source", "oai",
          "--pages", str(tmp_path / "page1.xml"), "--records", records])
    rows = {r._id: r for r in spark.read.parquet(records).collect()}
    assert set(rows) == {"oai.r-1", "oai.r-2"}  # idSearch/idReplace applied
    assert rows["oai.r-2"].deleted is True
    assert "<title>T1</title>" in rows["oai.r-1"].original_data

    out = str(tmp_path / "solr")
    main(["update-index", "--records", records,
          "--config", str(tmp_path / "ds.ini"), "--source", "oai",
          "--out", out, "--mappings", str(tmp_path)])
    live = [r["id"] for r in spark.read.json(out).collect()]
    assert live == ["oai.r-1"]
    deletes = [r["id"] for r in spark.read.json(out + "-deletes").collect()]
    assert deletes == ["oai.r-2"]


def test_cli_record_management(tmp_path, spark, capsys):
    """mark-deleted / suppress / unsuppress / delete-source /
    purge-deleted / dump over a small store."""
    (tmp_path / "ds.ini").write_text("[s1]\ninstitution = I\nformat = dc\n"
                                     "\n[s2]\ninstitution = J\nformat = dc\n")
    (tmp_path / "a.xml").write_text(
        "<collection>" + _dc("a1", "T1", "A.") + _dc("a2", "T2", "B.") + "</collection>"
    )
    (tmp_path / "b.xml").write_text(
        "<collection>" + _dc("b1", "T3", "C.") + "</collection>"
    )
    records = str(tmp_path / "records")
    cfg = str(tmp_path / "ds.ini")
    main(["import", "--config", cfg, "--source", "s1",
          "--file", str(tmp_path / "a.xml"), "--records", records,
          "--id-tag", "recordID"])
    main(["import", "--config", cfg, "--source", "s2",
          "--file", str(tmp_path / "b.xml"), "--records", records,
          "--id-tag", "recordID"])

    main(["mark-deleted", "--records", records, "--id", "s1.a1"])
    rows = {r._id: r for r in spark.read.parquet(records).collect()}
    assert rows["s1.a1"].deleted is True and rows["s1.a2"].deleted is False

    main(["suppress", "--records", records, "--id", "s1.a2"])
    rows = {r._id: r for r in spark.read.parquet(records).collect()}
    assert rows["s1.a2"].suppressed is True
    main(["unsuppress", "--records", records, "--id", "s1.a2"])
    rows = {r._id: r for r in spark.read.parquet(records).collect()}
    assert rows["s1.a2"].suppressed is False

    main(["delete-source", "--records", records, "--source", "s2"])
    rows = {r._id: r for r in spark.read.parquet(records).collect()}
    assert rows["s2.b1"].deleted is True

    capsys.readouterr()  # drain prior command chatter
    main(["dump", "--records", records, "--id", "s1.a2"])
    import json as _json

    payload = _json.loads(capsys.readouterr().out)
    assert payload["_id"] == "s1.a2" and "<title>T2</title>" in payload["original_data"]

    main(["purge-deleted", "--records", records])
    left = sorted(r._id for r in spark.read.parquet(records).collect())
    assert left == ["s1.a2"]


def test_cli_mark_for_update_and_check_dedup(tmp_path, spark, capsys):
    (tmp_path / "ds.ini").write_text("[s1]\ninstitution = I\nformat = dc\n")
    (tmp_path / "a.xml").write_text(
        "<collection>"
        + _dc("a1", "Same Book", "Author, A.")
        + _dc("a2", "Same Book", "Author, A.")
        + "</collection>"
    )
    records = str(tmp_path / "records")
    main(["import", "--config", str(tmp_path / "ds.ini"), "--source", "s1",
          "--file", str(tmp_path / "a.xml"), "--records", records,
          "--id-tag", "recordID"])
    before = {r._id: r.updated for r in spark.read.parquet(records).collect()}
    main(["mark-for-update", "--records", records, "--id", "s1.a1",
          "--set-update-needed"])
    rows = {r._id: r for r in spark.read.parquet(records).collect()}
    assert rows["s1.a1"].updated > before["s1.a1"]
    assert rows["s1.a1"].update_needed is True
    assert rows["s1.a2"].update_needed is False

    # a broken assignment: both same-source records in one group
    spark.createDataFrame(
        [("s1.a1", "g1"), ("s1.a2", "g1")], "id string, dedup_id string"
    ).write.mode("overwrite").parquet(str(tmp_path / "dd"))
    capsys.readouterr()
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(["check-dedup", "--records", records,
              "--dedup", str(tmp_path / "dd")])
    assert "same_source_collision" in capsys.readouterr().out


def test_cli_rewrite_cleans_tmp(workspace, spark):
    """Mutating commands commit through a <records>.new write swapped in
    by rename; a successful commit leaves neither the .new write nor the
    superseded .old version behind (and no .tmp copy of any kind)."""
    records = str(workspace / "records")
    base = [
        "--config", str(workspace / "conf" / "datasources.ini"),
        "--records", records,
    ]

    def leftovers():
        return [p for p in (".new", ".old", ".tmp")
                if os.path.exists(records + p)]

    main(["import", *base, "--source", "libA", "--file",
          str(workspace / "a.xml")])
    assert leftovers() == []
    # second import goes through the upsert + swap path
    main(["import", *base, "--source", "libB", "--file",
          str(workspace / "b.xml")])
    assert os.path.exists(records)
    assert leftovers() == []
    main(["mark-deleted", "--records", records, "--id", "B.b2"])
    assert leftovers() == []
    assert spark.read.parquet(records).count() == 4


def test_import_keeps_last_copy_of_repeated_id(workspace, spark):
    """A dump that repeats a recordID stores one row per id holding the
    later copy, on a first import and again on a re-import; across
    files, the later file by path wins."""
    dump = workspace / "dup.xml"
    dump.write_text(
        "<collection>"
        + _dc("a1", "First Copy", "Author, A.")
        + _dc("a2", "Only Once", "Author, A.")
        + _dc("a1", "Second Copy", "Author, A.")
        + "</collection>"
    )
    records = str(workspace / "records")
    cmd = ["import", "--config", str(workspace / "conf" / "datasources.ini"),
           "--source", "libA", "--records", records, "--id-tag", "recordID",
           "--file"]
    for _ in range(2):
        main([*cmd, str(dump)])
        rows = {r._id: r for r in spark.read.parquet(records).collect()}
        assert spark.read.parquet(records).count() == 2
        assert set(rows) == {"libA.a1", "libA.a2"}
        assert "Second Copy" in rows["libA.a1"].original_data

    dumps = workspace / "dumps"
    dumps.mkdir()
    (dumps / "1.xml").write_text(
        "<collection>" + _dc("a1", "Older File", "Author, A.") + "</collection>"
    )
    (dumps / "2.xml").write_text(
        "<collection>" + _dc("a1", "Newer File", "Author, A.") + "</collection>"
    )
    main([*cmd, str(dumps)])
    rows = spark.read.parquet(records).where("_id = 'libA.a1'").collect()
    assert len(rows) == 1 and "Newer File" in rows[0].original_data


def test_harvest_keeps_last_copy_of_repeated_id(tmp_path, spark):
    """A harvest that fetches a record twice stores one row per id
    holding the later copy, in a new store and again on a re-harvest."""
    (tmp_path / "ds.ini").write_text("[oai]\ninstitution = I\nformat = dc\n")

    def rec(title):
        return (
            "<record><header><identifier>oai:x:rec1</identifier>"
            "<datestamp>2024-01-01</datestamp></header><metadata><dc>"
            f"<recordID>rec1</recordID><title>{title}</title>"
            "</dc></metadata></record>"
        )

    (tmp_path / "page1.xml").write_text(
        "<OAI-PMH><ListRecords>" + rec("First Copy") + rec("Second Copy")
        + "</ListRecords></OAI-PMH>"
    )
    records = str(tmp_path / "records")
    for _ in range(2):
        main(["harvest", "--config", str(tmp_path / "ds.ini"),
              "--source", "oai", "--pages", str(tmp_path / "page1.xml"),
              "--records", records])
        rows = spark.read.parquet(records).collect()
        assert [r._id for r in rows] == ["oai.rec1"]
        assert "<title>Second Copy</title>" in rows[0].original_data


def test_cli_first_import_count_is_observed(workspace, spark, capsys,
                                            monkeypatch):
    """The printed row count comes from the commit write itself: no
    DataFrame.count() pass runs on the first import or on an upsert."""
    records = str(workspace / "records")
    base = [
        "--config", str(workspace / "conf" / "datasources.ini"),
        "--records", records,
    ]

    def no_count(self):
        raise AssertionError("import must not run a separate count")

    monkeypatch.setattr(type(spark.range(1)), "count", no_count)
    main(["import", *base, "--source", "libA", "--file",
          str(workspace / "a.xml")])
    assert "records table now 2 rows" in capsys.readouterr().out
    main(["import", *base, "--source", "libB", "--file",
          str(workspace / "b.xml")])
    assert "records table now 4 rows" in capsys.readouterr().out
    monkeypatch.undo()
    assert spark.read.parquet(records).count() == 4


def _store_rows(df):
    return sorted((r.asDict() for r in df.collect()), key=lambda d: d["_id"])


@pytest.mark.parametrize(
    "step", ["after_new_write", "between_renames", "before_old_delete"]
)
def test_commit_store_crash_heals_on_read(workspace, spark, monkeypatch,
                                          step):
    """A kill at each step of commit_store's swap leaves the store
    readable as exactly the old or exactly the new version, with no
    manual repair; the next command leaves no .new/.old behind."""
    from recordmanager_spark import cli

    records = str(workspace / "records")
    base = [
        "--config", str(workspace / "conf" / "datasources.ini"),
        "--records", records, "--id-tag", "recordID",
    ]
    main(["import", *base, "--source", "libA", "--file",
          str(workspace / "a.xml")])
    old = _store_rows(spark.read.parquet(records))

    real_rename, real_delete = cli._rename_location, cli._delete_location
    renames = []

    def rename(sp, src, dst):
        renames.append((src, dst))
        if (step, len(renames)) in (
            ("after_new_write", 1), ("between_renames", 2)
        ):
            raise KeyboardInterrupt
        real_rename(sp, src, dst)

    def delete(sp, uri):
        if step == "before_old_delete" and len(renames) == 2:
            raise KeyboardInterrupt
        real_delete(sp, uri)

    monkeypatch.setattr(cli, "_rename_location", rename)
    monkeypatch.setattr(cli, "_delete_location", delete)
    with pytest.raises(KeyboardInterrupt):
        main(["import", *base, "--source", "libB", "--file",
              str(workspace / "b.xml")])
    monkeypatch.undo()
    assert os.path.exists(records + ".new") == (step != "before_old_delete")
    assert os.path.exists(records + ".old") == (step != "after_new_write")
    # the fully written new version, captured before anything heals it
    new = _store_rows(spark.read.parquet(
        records if step == "before_old_delete" else records + ".new"
    ))
    assert {r["_id"] for r in new} == {
        "libA.a1", "libA.a2", "B.b1", "B.b2"
    }

    got = _store_rows(cli.read_store(spark, records))
    assert got == (old if step == "after_new_write" else new)
    if step != "after_new_write":
        # the swap was past its commit point: reading finished it
        assert not os.path.exists(records + ".new")
        assert not os.path.exists(records + ".old")

    # re-running the interrupted command commits cleanly
    main(["import", *base, "--source", "libB", "--file",
          str(workspace / "b.xml")])
    assert not os.path.exists(records + ".new")
    assert not os.path.exists(records + ".old")
    assert {r["_id"] for r in _store_rows(spark.read.parquet(records))} == {
        "libA.a1", "libA.a2", "B.b1", "B.b2"
    }


def test_cli_curate_end_to_end(spark, tmp_path):
    """curate: parquet -> [corpus:] pipeline (hygiene + token gate +
    exact dedup + split) -> parquet, via the console entry point."""
    from recordmanager_spark.cli import main

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (0, "<p>alpha beta gamma delta epsilon</p>", "en"),
            (1, "<p>alpha beta gamma delta epsilon</p>", "en"),  # dup of 0
            (2, "<div>too short</div>", "en"),
            (3, "ein deutscher satz mit sechs woertern hier", "de"),
            (4, "zeta eta theta iota kappa lambda", "en"),
        ],
        "doc_id long, text string, lang string",
    ).write.parquet(src)
    ini = tmp_path / "corpus.ini"
    ini.write_text(
        "[corpus:web_en]\n"
        "strip_html = true\n"
        "languages[] = en\n"
        "dedup = exact\n"
        "min_tokens = 4\n"
        "split[] = 0.5\n"
        "split[] = 0.5\n"
    )
    out = str(tmp_path / "curated")
    main(
        [
            "curate",
            "--config", str(ini),
            "--corpus", "web_en",
            "--input", src,
            "--out", out,
        ]
    )
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {0, 4}  # 1 deduped, 2 gated, 3 wrong lang
    assert all(r["split"] in ("train", "val") for r in got.values())


def test_cli_curate_unknown_corpus(tmp_path):
    import pytest as _pytest

    from recordmanager_spark.cli import main

    ini = tmp_path / "c.ini"
    ini.write_text("[corpus:a]\nmin_tokens = 1\n")
    with _pytest.raises(SystemExit):
        main(
            [
                "curate", "--config", str(ini), "--corpus", "missing",
                "--input", "x", "--out", "y",
            ]
        )


def test_cli_update_index_incremental_watermark(workspace, spark):
    """--state-file incremental runs (SolrUpdater.php:860-903 +
    getStartTimestamp:3272): run 1 indexes everything and stores the
    run-start watermark; run 2 indexes only records updated since;
    --from-date '' forces a full reindex and leaves the watermark
    alone."""
    import time

    ws = str(workspace)
    cfg = f"{ws}/conf/datasources.ini"
    records = f"{ws}/records"
    state = f"{ws}/state.json"

    main(["import", "--config", cfg, "--source", "libA",
          "--file", f"{ws}/a.xml", "--records", records,
          "--id-tag", "recordID"])
    main(["update-index", "--records", records, "--config", cfg,
          "--source", "libA", "--out", f"{ws}/solr1",
          "--mappings", f"{ws}/mappings", "--state-file", state])
    assert spark.read.json(f"{ws}/solr1").count() == 2
    st = json.load(open(state))
    assert "Last Index Update source libA" in st

    # second batch arrives AFTER the stored watermark
    time.sleep(1.1)
    (workspace / "a2.xml").write_text(
        "<collection>"
        + _dc("a9", "A Later Arrival", "Newcomer, N.")
        + "</collection>"
    )
    main(["import", "--config", cfg, "--source", "libA",
          "--file", f"{ws}/a2.xml", "--records", records,
          "--id-tag", "recordID"])

    # pin the watermark deterministically against the records' ACTUAL
    # updated stamps: the run applies the reference's 5s clock-skew
    # slack (filter = updated >= watermark - 5s), so set the stored
    # value to a9.updated + 5 — threshold lands exactly on a9,
    # excluding the earlier batch regardless of test wall-clock
    import datetime as dt

    ts = {
        r["_id"]: r["updated"]
        for r in spark.read.parquet(records).collect()
    }
    st = json.load(open(state))
    st["Last Index Update source libA"] = int(
        ts["libA.a9"].replace(tzinfo=dt.timezone.utc).timestamp()
    ) + 5
    json.dump(st, open(state, "w"))

    main(["update-index", "--records", records, "--config", cfg,
          "--source", "libA", "--out", f"{ws}/solr2",
          "--mappings", f"{ws}/mappings", "--state-file", state])
    docs2 = {r["id"] for r in spark.read.json(f"{ws}/solr2").collect()}
    assert docs2 == {"libA.a9"}  # only the post-watermark record

    # explicit empty --from-date = full reindex, watermark untouched
    before = json.load(open(state))
    main(["update-index", "--records", records, "--config", cfg,
          "--source", "libA", "--out", f"{ws}/solr3",
          "--mappings", f"{ws}/mappings", "--state-file", state,
          "--from-date", ""])
    assert spark.read.json(f"{ws}/solr3").count() == 3
    assert json.load(open(state)) == before


def test_import_pretransformation(tmp_path, spark):
    """preTransformation (PreTransformationTrait.php): whole-payload
    XSLT applied BEFORE splitting — here a namespace-strip-style rewrite
    renaming <rec> wrappers to <record> so the default splitter finds
    them; stylesheet params carry source_id/institution/format."""
    (tmp_path / "conf").mkdir()
    (tmp_path / "conf" / "ds.ini").write_text(
        """
[pre]
institution = InstP
format = dc
recordXPath = //record
preTransformation = fix.xsl
"""
    )
    (tmp_path / "fix.xsl").write_text(
        """<xsl:stylesheet version="1.0"
  xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
  <xsl:param name="source_id"/>
  <xsl:template match="/|@*|node()"><xsl:copy>
    <xsl:apply-templates select="@*|node()"/></xsl:copy></xsl:template>
  <xsl:template match="rec">
    <record><src><xsl:value-of select="$source_id"/></src>
      <xsl:apply-templates select="node()"/></record>
  </xsl:template>
</xsl:stylesheet>"""
    )
    (tmp_path / "in.xml").write_text(
        "<collection>"
        "<rec><recordID>p1</recordID><title>T1</title></rec>"
        "<rec><recordID>p2</recordID><title>T2</title></rec>"
        "</collection>"
    )
    records = str(tmp_path / "records")
    main(["import", "--config", str(tmp_path / "conf" / "ds.ini"),
          "--source", "pre", "--file", str(tmp_path / "in.xml"),
          "--records", records, "--id-tag", "recordID",
          "--xsl-dir", str(tmp_path)])
    rows = {r._id: r for r in spark.read.parquet(records).collect()}
    assert sorted(rows) == ["pre.p1", "pre.p2"]
    # the transformed payload (not the original) was split and stored
    assert "<src>pre</src>" in rows["pre.p1"].original_data
    assert "<rec>" not in rows["pre.p1"].original_data


def test_import_pretransformation_missing_sheet(tmp_path):
    (tmp_path / "ds.ini").write_text(
        "[pre]\nformat = dc\npreTransformation = nope.xsl\n"
    )
    (tmp_path / "in.xml").write_text("<collection/>")
    with pytest.raises(SystemExit, match="preTransformation stylesheet"):
        main(["import", "--config", str(tmp_path / "ds.ini"),
              "--source", "pre", "--file", str(tmp_path / "in.xml"),
              "--records", str(tmp_path / "records")])


def test_update_index_solr_id_settings(tmp_path, spark):
    """createSolrId (SolrUpdater.php:3145-3165): indexUnprefixedIds
    strips the prefix from the INDEX id; solrIdPrefix swaps it; the
    stored _id never changes."""
    (tmp_path / "conf").mkdir()
    (tmp_path / "mappings").mkdir()
    (tmp_path / "conf" / "ds.ini").write_text(
        """
[bare]
institution = I
format = dc
indexUnprefixedIds = true

[swap]
institution = I
format = dc
solrIdPrefix = S
"""
    )
    cfg = str(tmp_path / "conf" / "ds.ini")
    records = str(tmp_path / "records")
    (tmp_path / "in.xml").write_text(
        "<collection>" + _dc("x1", "T", "A.") + "</collection>"
    )
    for src in ("bare", "swap"):
        main(["import", "--config", cfg, "--source", src,
              "--file", str(tmp_path / "in.xml"), "--records", records,
              "--id-tag", "recordID", "--record-tag", "record"])
    stored = sorted(r._id for r in spark.read.parquet(records).collect())
    assert stored == ["bare.x1", "swap.x1"]
    for src, want in (("bare", "x1"), ("swap", "S.x1")):
        out = str(tmp_path / f"solr_{src}")
        main(["update-index", "--records", records, "--config", cfg,
              "--source", src, "--out", out,
              "--mappings", str(tmp_path / "mappings")])
        ids = [r["id"] for r in spark.read.json(out).collect()]
        assert ids == [want]


def test_update_index_merged_parts_gate(tmp_path, spark):
    """indexMergedParts (SolrUpdater.php:1922,2130): under merge_all, a
    component part indexes with hidden_component_boolean=true by
    default and is skipped entirely with indexMergedParts=false."""
    (tmp_path / "conf").mkdir()
    (tmp_path / "mappings").mkdir()
    ini = """
[m]
institution = I
format = dc
componentParts = merge_all
{extra}
"""
    records = str(tmp_path / "records")
    spark.createDataFrame(
        [
            ("m.h1", "m", "dc",
             _dc("h1", "Host", "A."), False, None),
            ("m.c1", "m", "dc",
             _dc("c1", "Component", "A."), False, ["m.h1"]),
        ],
        "_id string, source_id string, format string, "
        "original_data string, deleted boolean, "
        "host_record_id array<string>",
    ).write.parquet(records)
    for extra, expect_ids, hidden_of in (
        ("", {"m.h1", "m.c1"}, {"m.c1": True, "m.h1": None}),
        ("indexMergedParts = false", {"m.h1"}, None),
    ):
        (tmp_path / "conf" / "ds.ini").write_text(ini.format(extra=extra))
        out = str(tmp_path / ("solr_" + ("on" if not extra else "off")))
        main(["update-index", "--records", records,
              "--config", str(tmp_path / "conf" / "ds.ini"),
              "--source", "m", "--out", out,
              "--mappings", str(tmp_path / "mappings")])
        rows = {r["id"]: r.asDict() for r in spark.read.json(out).collect()}
        assert set(rows) == expect_ids
        if hidden_of:
            for rid, h in hidden_of.items():
                assert rows[rid].get("hidden_component_boolean") == h


def test_update_index_solr_transformation(tmp_path, spark):
    """solrTransformation (SolrUpdater.php:1407-1419): the Solr doc is
    the stylesheet's <field name=..> outputs — repeated names become
    multi-valued fields; stylesheet params carry the source config."""
    (tmp_path / "conf").mkdir()
    (tmp_path / "mappings").mkdir()
    (tmp_path / "conf" / "ds.ini").write_text(
        """
[xf]
institution = InstX
format = custom
solrTransformation = solr.xsl
"""
    )
    (tmp_path / "solr.xsl").write_text(
        """<xsl:stylesheet version="1.0"
  xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
  <xsl:param name="institution"/>
  <xsl:template match="/record">
    <doc>
      <field name="title_full"><xsl:value-of select="title"/></field>
      <xsl:for-each select="subject">
        <field name="topic_facet"><xsl:value-of select="."/></field>
      </xsl:for-each>
      <field name="institution"><xsl:value-of select="$institution"/></field>
    </doc>
  </xsl:template>
</xsl:stylesheet>"""
    )
    records = str(tmp_path / "records")
    spark.createDataFrame(
        [
            ("xf.1", "xf",
             "<record><title>T-one</title><subject>s1</subject>"
             "<subject>s2</subject></record>", False),
        ],
        "_id string, source_id string, original_data string, "
        "deleted boolean",
    ).write.parquet(records)
    out = str(tmp_path / "solr")
    main(["update-index", "--records", records,
          "--config", str(tmp_path / "conf" / "ds.ini"),
          "--source", "xf", "--out", out,
          "--mappings", str(tmp_path / "mappings"),
          "--xsl-dir", str(tmp_path)])
    rows = [r.asDict() for r in spark.read.json(out).collect()]
    assert len(rows) == 1
    doc = rows[0]
    assert doc["id"] == "xf.1"
    assert doc["title_full"] == ["T-one"]
    assert sorted(doc["topic_facet"]) == ["s1", "s2"]
    assert doc["institution"] == ["InstX"]


def test_harvest_oaipmh_transformation(tmp_path, spark):
    """oaipmhTransformation: the stylesheet chain rewrites each OAI-PMH
    response page before record extraction (here it annotates the
    record metadata so the stored original_data proves the page was
    transformed pre-split)."""
    (tmp_path / "conf").mkdir()
    (tmp_path / "conf" / "ds.ini").write_text(
        """
[oh]
institution = I
format = dc
oaipmhTransformation = page.xsl
"""
    )
    (tmp_path / "page.xsl").write_text(
        """<xsl:stylesheet version="1.0"
  xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
  <xsl:template match="/|@*|node()"><xsl:copy>
    <xsl:apply-templates select="@*|node()"/></xsl:copy></xsl:template>
  <xsl:template match="title">
    <title>PRE-<xsl:value-of select="."/></title>
  </xsl:template>
</xsl:stylesheet>"""
    )
    (tmp_path / "page.xml").write_text(
        '<OAI-PMH><ListRecords><record>'
        '<header><identifier>oai:x:1</identifier>'
        '<datestamp>2024-01-01</datestamp></header>'
        '<metadata><dc><title>Harvested</title></dc></metadata>'
        '</record></ListRecords></OAI-PMH>'
    )
    records = str(tmp_path / "records")
    main(["harvest", "--config", str(tmp_path / "conf" / "ds.ini"),
          "--source", "oh", "--pages", str(tmp_path / "page.xml"),
          "--records", records, "--xsl-dir", str(tmp_path)])
    rows = spark.read.parquet(records).collect()
    assert len(rows) == 1
    assert "PRE-Harvested" in rows[0].original_data


EAD_DOC = """<ead><eadheader>
  <eadid identifier="ARCH1"/>
  <filedesc><titlestmt><titleproper>Collection</titleproper></titlestmt></filedesc>
  </eadheader>
  <archdesc level="fonds"><did><unitid identifier="F0">F0</unitid>
    <unittitle>Fonds title</unittitle></did>
  <dsc>
    <c01 level="series"><did><unitid identifier="S1">S1</unitid>
      <unittitle>Series title</unittitle></did>
      <c02 level="file"><did><unitid identifier="F2">F2</unitid>
        <unittitle>File title</unittitle></did></c02>
    </c01>
  </dsc></archdesc></ead>"""


def test_import_record_splitter_ead(tmp_path, spark):
    """recordSplitterClass = Ead splits a finding aid into hierarchy
    components; recordSplitterParams nonInheritedFields=unittitle stops
    ancestor-title inheritance (pinned indirectly: split still yields
    the components)."""
    (tmp_path / "conf").mkdir()
    (tmp_path / "conf" / "ds.ini").write_text(
        """
[arc]
institution = I
format = ead
recordSplitterClass = "\\\\RecordManager\\\\Base\\\\Splitter\\\\Ead"
recordSplitterParams[] = "nonInheritedFields=unittitle"
"""
    )
    (tmp_path / "ead.xml").write_text(EAD_DOC)
    records = str(tmp_path / "records")
    main(["import", "--config", str(tmp_path / "conf" / "ds.ini"),
          "--source", "arc", "--file", str(tmp_path / "ead.xml"),
          "--records", records])
    rows = sorted(r._id for r in spark.read.parquet(records).collect())
    # archdesc unitid F0 differs from the eadid archive id, so it gets
    # the archive prefix exactly like any component (Ead.php:255-263)
    assert rows == ["arc.ARCH1_F0", "arc.ARCH1_F2", "arc.ARCH1_S1"]


def test_import_record_splitter_unknown(tmp_path):
    (tmp_path / "ds.ini").write_text(
        "[z]\nformat = dc\nrecordSplitter = Mystery\n"
    )
    (tmp_path / "in.xml").write_text("<collection/>")
    with pytest.raises(SystemExit, match="unknown recordSplitter"):
        main(["import", "--config", str(tmp_path / "ds.ini"),
              "--source", "z", "--file", str(tmp_path / "in.xml"),
              "--records", str(tmp_path / "records")])


def test_import_record_splitter_transformation(tmp_path, spark):
    """recordSplitter = <stylesheet> runs the splitting TRANSFORMATION
    (EadSplit.xsl shape): the transform emits a wrapper whose children
    are the records, ids in the id attribute."""
    (tmp_path / "conf").mkdir()
    (tmp_path / "conf" / "ds.ini").write_text(
        """
[tx]
institution = I
format = dc
recordSplitter = split.xsl
"""
    )
    (tmp_path / "split.xsl").write_text(
        """<xsl:stylesheet version="1.0"
  xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
  <xsl:template match="/bundle">
    <records>
      <xsl:for-each select="item">
        <record><xsl:attribute name="id"><xsl:value-of select="@key"/></xsl:attribute>
          <title><xsl:value-of select="name"/></title></record>
      </xsl:for-each>
    </records>
  </xsl:template>
</xsl:stylesheet>"""
    )
    (tmp_path / "in.xml").write_text(
        '<bundle><item key="k1"><name>N1</name></item>'
        '<item key="k2"><name>N2</name></item></bundle>'
    )
    records = str(tmp_path / "records")
    main(["import", "--config", str(tmp_path / "conf" / "ds.ini"),
          "--source", "tx", "--file", str(tmp_path / "in.xml"),
          "--records", records, "--xsl-dir", str(tmp_path)])
    rows = {r._id: r for r in spark.read.parquet(records).collect()}
    assert sorted(rows) == ["tx.k1", "tx.k2"]
    assert "<title>N1</title>" in rows["tx.k1"].original_data


def test_ead3_splitter_prepend_parent_title(spark):
    """recordSplitterParams prependParentTitleWithUnitId=true prefixes
    the parent title with the parent's unitid text (Ead3.php:259-263)."""
    from recordmanager_spark.sources.splitter import make_ead3_splitter

    doc = """<ead3><archdesc level="fonds"><did>
      <unitid identifier="A1">A-one</unitid><unittitle>Arch</unittitle></did>
      <dsc><c01 level="series"><did><unitid identifier="S1">S-one</unitid>
        <unittitle>Series</unittitle></did>
        <c02 level="file"><did><unitid identifier="F1">F-one</unitid>
          <unittitle>File</unittitle></did></c02>
      </c01></dsc></archdesc></ead3>"""
    df = spark.createDataFrame([(doc,)], "xml string")
    import pyspark.sql.functions as SF

    plain = spark.createDataFrame([(doc,)], "xml string").select(
        SF.explode(
            make_ead3_splitter({})(SF.col("xml"))
        ).alias("p")
    ).select("p.part_id", "p.parent_title").collect()
    prep = df.select(
        SF.explode(
            make_ead3_splitter(
                {"prependParentTitleWithUnitId": "true"}
            )(SF.col("xml"))
        ).alias("p")
    ).select("p.part_id", "p.parent_title").collect()
    by_plain = {r.part_id: r.parent_title for r in plain}
    by_prep = {r.part_id: r.parent_title for r in prep}
    assert by_plain["A1_F1"] == "Series"
    assert by_prep["A1_F1"] == "S-one Series"
    assert by_prep["A1_S1"] == "A-one Arch"


def test_update_index_skosmos_enrichment(tmp_path, spark):
    """enrichments[] = SkosmosEnrichment (SolrUpdater.php:3070-3095 +
    SkosmosEnrichment.php:136-146): 650$0 concept URIs gain the
    vocabulary's pref+alt labels in topic_add_txt_mv, joined from an
    offline entities table."""
    (tmp_path / "conf").mkdir()
    (tmp_path / "mappings").mkdir()
    (tmp_path / "conf" / "ds.ini").write_text(
        """
[sk]
institution = I
format = marc
enrichments[] = SkosmosEnrichment
"""
    )
    data = (
        '{"leader":"L","fields":[{"001":"r1"},'
        '{"245":{"ind1":"1","ind2":"0","subfields":[{"a":"T"}]}},'
        '{"650":{"ind1":" ","ind2":"7","subfields":'
        '[{"a":"Cats"},{"0":"http://voc.example/c1"}]}}]}'
    )
    records = str(tmp_path / "records")
    spark.createDataFrame(
        [("sk.1", "sk", "marc", data, False)],
        "_id string, source_id string, format string, "
        "original_data string, deleted boolean",
    ).write.parquet(records)
    ents = str(tmp_path / "ents")
    spark.createDataFrame(
        [("http://voc.example/c1", ["Felines"], ["Housecats"])],
        "uri string, pref_labels array<string>, alt_labels array<string>",
    ).write.parquet(ents)
    out = str(tmp_path / "solr")
    main(["update-index", "--records", records,
          "--config", str(tmp_path / "conf" / "ds.ini"),
          "--source", "sk", "--out", out,
          "--mappings", str(tmp_path / "mappings"),
          "--enrichment-data", f"SkosmosEnrichment={ents}"])
    doc = spark.read.json(out).collect()[0].asDict()
    assert doc["id"] == "sk.1"
    assert sorted(doc["topic_add_txt_mv"]) == ["Felines", "Housecats"]
    # missing table is a loud failure, not a silent skip
    with pytest.raises(SystemExit, match="needs --enrichment-data"):
        main(["update-index", "--records", records,
              "--config", str(tmp_path / "conf" / "ds.ini"),
              "--source", "sk", "--out", str(tmp_path / "solr2"),
              "--mappings", str(tmp_path / "mappings")])



def test_import_hierarchy_cleanup(tmp_path, spark):
    """StoreRecordTrait.php:294-310: re-importing an archive marks
    deleted the members the new split no longer contains; the
    keepMissingHierarchyMembers flag turns the cleanup off."""
    import re as _re

    reduced = _re.sub(
        r"<c02.*?</c02>", "", EAD_DOC, flags=_re.S
    )
    (tmp_path / "conf").mkdir()
    ini = """
[arc]
institution = I
format = ead
recordSplitterClass = Ead
{extra}
"""
    records = str(tmp_path / "records")
    cfgp = tmp_path / "conf" / "ds.ini"

    def imp(doc, extra=""):
        cfgp.write_text(ini.format(extra=extra))
        (tmp_path / "ead.xml").write_text(doc)
        main(["import", "--config", str(cfgp), "--source", "arc",
              "--file", str(tmp_path / "ead.xml"), "--records", records])

    imp(EAD_DOC)
    assert spark.read.parquet(records).where("not deleted").count() == 3
    # re-import without the c02: the file component is cleaned up
    imp(reduced)
    rows = {r._id: r.deleted for r in spark.read.parquet(records).collect()}
    assert rows["arc.ARCH1_F2"] is True
    assert rows["arc.ARCH1_F0"] is False and rows["arc.ARCH1_S1"] is False
    # with the keep flag, a further reduced import deletes nothing
    imp(EAD_DOC)  # restore all three
    imp(reduced, extra="keepMissingHierarchyMembers = true")
    rows = {r._id: r.deleted for r in spark.read.parquet(records).collect()}
    assert rows["arc.ARCH1_F2"] is False


def test_extract_wide_marc_mixed_serializations(spark):
    """A store may hold MARCXML and MARC-in-JSON rows side by side (a
    harvest beside a JSON import); each row is parsed by its own first
    byte, so both get their titles."""
    from recordmanager_spark.cli import extract_wide

    xml = (
        '<record xmlns="http://www.loc.gov/MARC21/slim">'
        "<leader>00000cam a22000004i 4500</leader>"
        '<controlfield tag="001">x1</controlfield>'
        '<datafield tag="245" ind1="1" ind2="0">'
        '<subfield code="a">Title from XML</subfield></datafield>'
        "</record>"
    )
    marc_json = json.dumps({
        "leader": "00000cam a22000004i 4500",
        "fields": [
            {"001": "j1"},
            {"245": {"ind1": "1", "ind2": "0",
                     "subfields": [{"a": "Title from JSON"}]}},
        ],
    })
    df = spark.createDataFrame(
        [("x1", "s", xml), ("j1", "s", "  " + marc_json)],
        "_id string, source_id string, original_data string",
    ).coalesce(1)
    got = extract_wide(df, "marc", only=["title"]).select("_id", "title")
    assert {r["_id"]: r["title"] for r in got.collect()} == {
        "x1": "Title from XML", "j1": "Title from JSON",
    }
