from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from recordmanager_spark.operators import incremental as INC


def test_changed_since(spark):
    rows = [
        Row(_id="1", updated=dt.datetime(2024, 1, 1)),
        Row(_id="2", updated=dt.datetime(2024, 1, 10)),
    ]
    df = spark.createDataFrame(rows)
    got = [r["_id"] for r in INC.changed_since(df, "updated", dt.datetime(2024, 1, 5)).collect()]
    assert got == ["2"]
    # slack pulls the watermark back
    got = sorted(
        r["_id"]
        for r in INC.changed_since(
            df, "updated", dt.datetime(2024, 1, 1, 0, 0, 3), slack_seconds=5
        ).collect()
    )
    assert got == ["1", "2"]


def test_unseen_ids(spark):
    stored = spark.createDataFrame([Row(_id="a"), Row(_id="b")])
    seen = spark.createDataFrame([Row(_id="b")])
    assert [r["_id"] for r in INC.unseen_ids(stored, seen, "_id").collect()] == ["a"]


def test_propagate_dirty_to_hosts(spark):
    records = spark.createDataFrame(
        [
            Row(_id="s.host1", source_id="s", linking_id=["h1"], host_record_id=[]),
            Row(_id="s.host2", source_id="s", linking_id=["h2"], host_record_id=[]),
            Row(_id="s.c1", source_id="s", linking_id=["c1"], host_record_id=["h1"]),
        ]
    )
    changed = records.where("_id = 's.c1'")
    dirty = [r["_id"] for r in INC.propagate_dirty_to_hosts(records, changed).collect()]
    assert dirty == ["s.host1"]


def test_watermark_store(tmp_path):
    from recordmanager_spark.streaming.pipeline import WatermarkStore

    ws = WatermarkStore(str(tmp_path / "state.json"))
    assert ws.get("k") is None
    ws.set("k", "2024-01-01T00:00:00")
    assert ws.get("k") == "2024-01-01T00:00:00"


def test_watermark_store_clear_and_atomic_write(tmp_path, monkeypatch):
    import json

    from recordmanager_spark.streaming import pipeline as P

    path = str(tmp_path / "state.json")
    ws = P.WatermarkStore(path)
    ws.set("a", 1)
    ws.set("b", 2)
    ws.clear("a")
    ws.clear("missing")
    assert json.load(open(path)) == {"b": 2}

    def crash(*_a, **_k):
        raise KeyboardInterrupt

    # a crash before the swap leaves the previous state intact
    monkeypatch.setattr(P.os, "replace", crash)
    with pytest.raises(KeyboardInterrupt):
        ws.set("b", 3)
    assert json.load(open(path)) == {"b": 2}
