"""IVF ANN recall + preview pipeline tests."""

from __future__ import annotations

import json

import pytest

from recordmanager_spark import config as CF
from recordmanager_spark.operators import preview as PV
from recordmanager_spark.operators import similarity as SIM


def _emb(spark, sf="/root/testdata/sf0.001"):
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def test_ivf_recall_vs_bruteforce(spark):
    emb = _emb(spark).limit(400).cache()
    queries = emb.limit(20)
    exact = SIM.knn_bruteforce(emb, queries, k=10)
    approx = SIM.knn_ivf(emb, queries, k=10, n_cells=16, n_probe=6)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, recall
    # rank-1 self-free ordering sanity: every query has <= 10 neighbors
    counts = {}
    for q, _ in a:
        counts[q] = counts.get(q, 0) + 1
    assert max(counts.values()) <= 10


def test_ivf_full_probe_equals_bruteforce(spark):
    emb = _emb(spark).limit(120).cache()
    queries = emb.limit(8)
    exact = {(r.query_id, r.neighbor_id, r.rank) for r in
             SIM.knn_bruteforce(emb, queries, k=5).collect()}
    # probing every cell makes IVF exhaustive -> identical to brute force
    approx = {(r.query_id, r.neighbor_id, r.rank) for r in
              SIM.knn_ivf(emb, queries, k=5, n_cells=8, n_probe=8).collect()}
    assert approx == exact


def _source(**settings):
    """A compiled source whose mapping files are read from
    ``settings["maps"]`` (file name -> text)."""
    maps = settings.pop("maps", {})
    return CF.compile_source(CF.SourceConfig(**settings), maps.__getitem__)


def test_preview_marc(spark):
    raw = json.dumps(
        {
            "leader": "00000cam a22000004i 4500",
            "fields": [
                {"001": "p1"},
                {"245": {"ind1": "1", "ind2": "0",
                         "subfields": [{"a": "Preview title"}]}},
                {"852": {"ind1": " ", "ind2": " ",
                         "subfields": [{"b": "MAIN"}]}},
            ],
        }
    )
    out = PV.preview_record(
        spark,
        raw,
        _source(
            id="t", format="marc", institution="INST",
            field_rules=["copy building building2"],
        ),
        hierarchical_facets=["building"],
    )
    assert out["id"] == "t.p1"
    assert out["title"] == "Preview title"
    assert out["building"] == ["0/INST/", "1/INST/MAIN/"]
    assert out["building2"] == ["MAIN"]
    assert out["institution"] == "INST"


def test_preview_dc_with_mapping(spark):
    out = PV.preview_record(
        spark,
        "<dc><recordID>d1</recordID><title>T</title><type>Text</type>"
        "<subject>Text</subject></dc>",
        _source(
            id="t", format="dc", mappings={"topic": [("fmt.map", "normal")]},
            maps={"fmt.map": "Text = Published"},
        ),
    )
    assert out["id"] == "t.d1"
    assert out["topic"] == ["Published"]
    assert out["format"] == "Text"  # scalar col untouched by array mapping


def test_preview_unknown_format(spark):
    with pytest.raises(SystemExit, match="nope"):
        PV.preview_record(spark, "x", _source(id="t", format="nope"))
