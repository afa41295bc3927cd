"""Incremental curate: `dedup_index = <table>` in the [corpus:] section
probes a persisted fingerprint index instead of the full corpus — the
reference's changed-since ingest architecture on the corpus tier. Run 1
bootstraps the index; run 2 drops cross-ingest duplicates and appends
only new fingerprints.
"""

import shutil
import uuid

import pytest

from recordmanager_spark.cli import _table_location, main
from tests.oracles import local_path


@pytest.fixture
def index_table(spark):
    name = "t_fp_idx_" + uuid.uuid4().hex[:8]
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # a recovered (re-registered) index is EXTERNAL: DROP leaves the
    # warehouse files behind — clear them so runs don't accumulate
    loc = local_path(_table_location(spark, name) or "")
    if loc:
        shutil.rmtree(loc, ignore_errors=True)


def test_two_ingests_dedup_across_runs(spark, tmp_path, index_table):
    ini = tmp_path / "corpus.ini"
    ini.write_text(
        "[corpus:daily]\n"
        f"dedup_index = {index_table}\n"
        "min_tokens = 2\n"
        "keep_text = true\n"
    )

    batch1 = str(tmp_path / "b1")
    spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "the quick brown fox"),   # within-batch dup of 1
            (3, "a different document"),
        ],
        "doc_id long, text string",
    ).write.parquet(batch1)
    out1 = str(tmp_path / "out1")
    main(
        [
            "curate", "--config", str(ini), "--corpus", "daily",
            "--input", batch1, "--out", out1,
        ]
    )
    kept1 = {r["doc_id"] for r in spark.read.parquet(out1).collect()}
    assert kept1 == {1, 3}  # 2 deduped within the batch
    idx1 = {
        r["canonical_id"]: r["fp"]
        for r in spark.table(index_table).collect()
    }
    assert set(idx1) == {1, 3}  # min-id canonicals, one per fingerprint

    batch2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [
            (10, "the quick brown fox"),  # dup of ingest-1 doc 1
            (11, "a brand new document"),
            (12, "a brand new document"),  # within-batch dup of 11
        ],
        "doc_id long, text string",
    ).write.parquet(batch2)
    out2 = str(tmp_path / "out2")
    main(
        [
            "curate", "--config", str(ini), "--corpus", "daily",
            "--input", batch2, "--out", out2,
        ]
    )
    kept2 = {r["doc_id"] for r in spark.read.parquet(out2).collect()}
    assert kept2 == {11}  # 10 dropped via the index, 12 within batch
    idx2 = {r["canonical_id"] for r in spark.table(index_table).collect()}
    assert idx2 == {1, 3, 11}  # only the new fingerprint appended


def test_index_survives_catalog_loss(spark, tmp_path, index_table):
    """A fresh CLI process has a fresh in-memory catalog: the table
    looks absent while its warehouse data survived. curate must
    RE-REGISTER the surviving index (dedup against prior ingests,
    append to it) — not probe an empty bootstrap and rmtree the old
    data as an orphan (r10 ADVICE, high)."""
    ini = tmp_path / "corpus.ini"
    ini.write_text(
        "[corpus:daily]\n"
        f"dedup_index = {index_table}\n"
        "keep_text = true\n"
    )
    batch1 = str(tmp_path / "b1")
    spark.createDataFrame(
        [(1, "the quick brown fox"), (3, "a different document")],
        "doc_id long, text string",
    ).write.parquet(batch1)
    main(
        [
            "curate", "--config", str(ini), "--corpus", "daily",
            "--input", batch1, "--out", str(tmp_path / "out1"),
        ]
    )

    # simulate a process restart: catalog forgets the table, the
    # warehouse directory survives (save data aside across the
    # managed-table DROP, then restore it)
    loc = local_path(_table_location(spark, index_table))
    saved = tmp_path / "saved_idx"
    shutil.copytree(loc, saved)
    spark.sql(f"DROP TABLE {index_table}")
    assert not spark.catalog.tableExists(index_table)
    shutil.copytree(saved, loc)

    batch2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [
            (10, "the quick brown fox"),   # dup of run-1 doc 1
            (11, "a brand new document"),
        ],
        "doc_id long, text string",
    ).write.parquet(batch2)
    out2 = str(tmp_path / "out2")
    main(
        [
            "curate", "--config", str(ini), "--corpus", "daily",
            "--input", batch2, "--out", out2,
        ]
    )
    kept2 = {r["doc_id"] for r in spark.read.parquet(out2).collect()}
    assert kept2 == {11}  # cross-restart dedup held
    idx = {r["canonical_id"] for r in spark.table(index_table).collect()}
    assert idx == {1, 3, 11}  # old rows preserved, new row appended


def test_index_append_skips_gated_docs(spark, tmp_path, index_table):
    """Gated-out documents (language filter here) must not enter the
    fingerprint index: a phantom canonical would permanently suppress
    future identical documents that DO pass the gates (r10 ADVICE)."""
    ini = tmp_path / "corpus.ini"
    ini.write_text(
        "[corpus:daily]\n"
        f"dedup_index = {index_table}\n"
        "languages[] = en\n"
        "keep_text = true\n"
    )
    batch1 = str(tmp_path / "b1")
    spark.createDataFrame(
        [(1, "shared text across batches", "fi")],
        "doc_id long, text string, lang string",
    ).write.parquet(batch1)
    main(
        [
            "curate", "--config", str(ini), "--corpus", "daily",
            "--input", batch1, "--out", str(tmp_path / "out1"),
        ]
    )
    assert spark.table(index_table).count() == 0  # doc 1 was gated out

    batch2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [(2, "shared text across batches", "en")],
        "doc_id long, text string, lang string",
    ).write.parquet(batch2)
    out2 = str(tmp_path / "out2")
    main(
        [
            "curate", "--config", str(ini), "--corpus", "daily",
            "--input", batch2, "--out", out2,
        ]
    )
    kept2 = {r["doc_id"] for r in spark.read.parquet(out2).collect()}
    assert kept2 == {2}  # not suppressed by a phantom canonical


def test_index_fingerprints_cleaned_text(spark, tmp_path, index_table):
    """With strip_html on, the index must hold fingerprints of the
    STRIPPED text (the frame the pipeline dedups) — raw-HTML
    fingerprints would never match a future probe."""
    ini = tmp_path / "corpus.ini"
    ini.write_text(
        "[corpus:daily]\n"
        f"dedup_index = {index_table}\n"
        "strip_html = true\n"
        "keep_text = true\n"
    )
    batch1 = str(tmp_path / "b1")
    spark.createDataFrame(
        [(1, "<p>hello <b>dedup</b> world</p>")],
        "doc_id long, text string",
    ).write.parquet(batch1)
    main(
        [
            "curate", "--config", str(ini), "--corpus", "daily",
            "--input", batch1, "--out", str(tmp_path / "out1"),
        ]
    )

    batch2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [(2, "<div>hello dedup world</div>")],  # same text once stripped
        "doc_id long, text string",
    ).write.parquet(batch2)
    out2 = str(tmp_path / "out2")
    main(
        [
            "curate", "--config", str(ini), "--corpus", "daily",
            "--input", batch2, "--out", out2,
        ]
    )
    assert spark.read.parquet(out2).count() == 0  # cross-batch dup caught


def test_id_type_drift_refused_loudly(spark, tmp_path, index_table):
    """A later ingest whose --id-col type differs from the persisted
    index must fail LOUDLY — recovery infers the stored schema from the
    surviving parquet footers and curate compares it to the batch
    (r11 ADVICE: a batch-derived declared schema silently nulled or
    cast-failed every probe)."""
    ini = tmp_path / "corpus.ini"
    ini.write_text(
        "[corpus:daily]\n"
        f"dedup_index = {index_table}\n"
        "keep_text = true\n"
    )
    batch1 = str(tmp_path / "b1")
    spark.createDataFrame(
        [(1, "the quick brown fox")], "doc_id long, text string"
    ).write.parquet(batch1)
    main(
        [
            "curate", "--config", str(ini), "--corpus", "daily",
            "--input", batch1, "--out", str(tmp_path / "out1"),
        ]
    )
    batch2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [("s1", "another document")], "doc_id string, text string"
    ).write.parquet(batch2)
    with pytest.raises(SystemExit, match="id-type change"):
        main(
            [
                "curate", "--config", str(ini), "--corpus", "daily",
                "--input", batch2, "--out", str(tmp_path / "out2"),
            ]
        )


def test_dedup_index_rejects_minhash_combo(tmp_path):
    from recordmanager_spark.corpus_config import parse_corpus_ini

    with pytest.raises(ValueError, match="dedup_index"):
        parse_corpus_ini(
            "[corpus:x]\ndedup = minhash\ndedup_index = t\n"
        )
