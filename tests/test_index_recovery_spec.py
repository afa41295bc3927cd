"""Bucket-spec-safe index recovery (r11 ADVICE, medium): the spec a
bucketed index was WRITTEN with is persisted as a sidecar in the table
location, recovery adopts it with no flags and refuses a mismatched
caller spec, and legacy sidecar-less locations are validated against
the bucket ids encoded in surviving file names. Plus the capped
console print paths for compare-records / check-index."""

from __future__ import annotations

import shutil
import uuid

import pytest

from recordmanager_spark import cli
from recordmanager_spark.cli import (
    _recover_orphan_index,
    _table_location,
)
from recordmanager_spark.sources.bucketed import (
    read_bucket_spec,
    write_bucket_spec,
    write_bucketed,
)
from tests.oracles import local_path


@pytest.fixture
def table(spark):
    name = "t_spec_" + uuid.uuid4().hex[:8]
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    loc = local_path(_table_location(spark, name) or "")
    if loc:
        shutil.rmtree(loc, ignore_errors=True)


def _bucketed_df(spark):
    return spark.createDataFrame(
        [(f"k{i}", i) for i in range(20)], "term string, v int"
    )


def _simulate_restart(spark, table, tmp_path):
    """Catalog forgets the table; the warehouse directory survives."""
    loc = local_path(_table_location(spark, table))
    saved = tmp_path / ("saved_" + table)
    shutil.copytree(loc, saved)
    spark.sql(f"DROP TABLE {table}")
    assert not spark.catalog.tableExists(table)
    shutil.copytree(saved, loc)
    return loc


def _num_buckets(spark, table):
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if r.col_name == "Num Buckets":
            return int(r.data_type)
    return None


def test_write_bucketed_persists_spec_sidecar(spark, table):
    write_bucketed(_bucketed_df(spark), table, "term", 8)
    loc = _table_location(spark, table)
    assert read_bucket_spec(spark, loc) == {"key": "term", "n_buckets": 8}


def test_recovery_adopts_sidecar_spec_without_flags(spark, table, tmp_path):
    write_bucketed(_bucketed_df(spark), table, "term", 8)
    _simulate_restart(spark, table, tmp_path)
    # caller knows nothing: the sidecar restores the shuffle-free spec
    assert _recover_orphan_index(spark, table, None, None, None)
    assert _num_buckets(spark, table) == 8
    assert spark.table(table).count() == 20


def test_recovery_refuses_mismatched_caller_spec(spark, table, tmp_path):
    write_bucketed(_bucketed_df(spark), table, "term", 8)
    _simulate_restart(spark, table, tmp_path)
    with pytest.raises(SystemExit, match="mis-buckets every probe"):
        _recover_orphan_index(spark, table, None, "term", 16)
    # matching spec is accepted
    assert _recover_orphan_index(spark, table, None, "term", 8)
    assert _num_buckets(spark, table) == 8


def test_recovery_legacy_location_validates_file_names(
    spark, table, tmp_path
):
    import os

    write_bucketed(_bucketed_df(spark), table, "term", 8)
    loc = _simulate_restart(spark, table, tmp_path)
    os.remove(f"{loc}/_rm_bucket_spec.json")  # pre-r12 index
    # a count below an observed bucket id is refused
    with pytest.raises(SystemExit, match="bucket ids up to"):
        _recover_orphan_index(spark, table, None, "term", 4)
    # a covering count is accepted (best legacy validation available)
    assert _recover_orphan_index(spark, table, None, "term", 8)


def test_append_with_mismatched_spec_raises(spark, table):
    write_bucketed(_bucketed_df(spark), table, "term", 8)
    with pytest.raises(ValueError, match="bucket spec mismatch"):
        write_bucketed(
            _bucketed_df(spark), table, "term", 16, mode="append"
        )
    write_bucketed(_bucketed_df(spark), table, "term", 8, mode="append")
    assert spark.table(table).count() == 40


def test_write_bucket_spec_roundtrip_overwrites(spark, tmp_path):
    loc = str(tmp_path / "specloc")
    (tmp_path / "specloc").mkdir()
    write_bucket_spec(spark, loc, "fp", 64)
    assert read_bucket_spec(spark, loc) == {"key": "fp", "n_buckets": 64}
    write_bucket_spec(spark, loc, "fp", 32)
    assert read_bucket_spec(spark, loc) == {"key": "fp", "n_buckets": 32}
    assert read_bucket_spec(spark, str(tmp_path / "nosuch")) is None


def test_compare_records_print_cap(spark, tmp_path, capsys, monkeypatch):
    """An over-cap diff prints a truncated prefix + pointer to --out,
    never collecting the full diff to the driver."""
    monkeypatch.setattr(cli, "_PRINT_CAP", 5)
    rec = str(tmp_path / "rec")
    idx = str(tmp_path / "idx")
    spark.createDataFrame(
        [(str(i), f"new{i}") for i in range(12)], "id string, title string"
    ).write.parquet(rec)
    spark.createDataFrame(
        [(str(i), f"old{i}") for i in range(12)], "id string, title string"
    ).write.parquet(idx)

    class A:
        records, index, out = rec, idx, None
        single_id = source = fields = None
        id_col, skip_missing = "id", False

    cli.cmd_compare_records(A())
    out = capsys.readouterr().out
    assert "... 7 more — use --out for the full diff" in out
    assert "12 field differences" in out
    assert out.count("would be changed") == 5


def test_check_index_print_cap(spark, tmp_path, capsys, monkeypatch):
    monkeypatch.setattr(cli, "_PRINT_CAP", 5)
    idx = str(tmp_path / "cidx")
    rec = str(tmp_path / "crec")
    spark.createDataFrame(
        [(str(i),) for i in range(12)], "id string"
    ).write.parquet(idx)
    spark.createDataFrame(
        [("none",)], "id string"
    ).write.parquet(rec)

    class A:
        index, records, dedup, out = idx, rec, None, None
        id_col, updated_col, report_only = "id", "updated", True

    cli.cmd_check_index(A())
    out = capsys.readouterr().out
    assert "... 7 more — use --out for the full list" in out
    assert "12 orphaned records" in out
    assert out.count("Found orphan") == 5


@pytest.mark.parametrize(
    "raw",
    [
        b"",  # crash between fs.create(truncate) and the write
        b'{"key": "term", "n_bu',  # partial write
        b'"just a string"',  # valid JSON, not a dict
        b'{"key": "term", "n_buckets": "lots"}',  # non-numeric count
        b'{"n_buckets": 8}',  # missing key
    ],
)
def test_corrupt_sidecar_reads_as_absent(spark, tmp_path, raw):
    """A malformed sidecar must behave exactly like no sidecar — not
    permanently block recovery/appends with a JSONDecodeError."""
    loc = tmp_path / ("corrupt_" + uuid.uuid4().hex[:6])
    loc.mkdir()
    (loc / "_rm_bucket_spec.json").write_bytes(raw)
    assert read_bucket_spec(spark, str(loc)) is None


def test_recovery_survives_corrupt_sidecar(spark, table, tmp_path):
    """Recovery with a truncated sidecar falls back to the legacy
    file-name validation instead of crashing."""
    write_bucketed(_bucketed_df(spark), table, "term", 8)
    loc = _simulate_restart(spark, table, tmp_path)
    lp = local_path(loc)
    with open(f"{lp}/_rm_bucket_spec.json", "wb") as f:
        f.write(b'{"key": "ter')
    assert _recover_orphan_index(spark, table, None, "term", 8)
    assert spark.table(table).count() == 20
