from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from recordmanager_spark.operators import similarity as SIM

VECS = [
    Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
    Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),
    Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
    Row(vec_id=3, embedding=[0.0, 0.0, 1.0]),
    Row(vec_id=4, embedding=[-1.0, 0.0, 0.0]),
]


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb)


def test_knn_bruteforce_matches_numpy(spark):
    df = spark.createDataFrame(VECS)
    q = df.where("vec_id = 0")
    out = SIM.knn_bruteforce(df, q, k=2).collect()
    assert [r["neighbor_id"] for r in out] == [1, 2]
    expected = round(_cos([1, 0, 0], [0.9, 0.1, 0.0]), 6)
    assert out[0]["cosine"] == pytest.approx(expected, abs=1e-6)
    assert [r["rank"] for r in out] == [1, 2]


def test_knn_lsh_subset_of_exact_scores(spark):
    df = spark.createDataFrame(VECS)
    q = df.where("vec_id = 0")
    approx = SIM.knn_lsh(df, q, k=3, num_planes=2).collect()
    # every returned neighbor must carry the exact cosine score
    for r in approx:
        truth = _cos(VECS[0].embedding, VECS[r["neighbor_id"]].embedding)
        assert r["cosine"] == pytest.approx(round(truth, 6), abs=1e-6)


def test_semantic_dedup(spark):
    """Cluster-then-prune: identical/near-identical vectors in the same
    cell keep only the lowest id; distinct directions survive."""
    import numpy as np

    rng = [
        [1.0] + [0.0] * 7,            # 0: axis-x
        [0.999, 0.04] + [0.0] * 6,    # 1: near-dup of 0
        [0.0, 1.0] + [0.0] * 6,       # 2: axis-y
        [0.0, 0.999, 0.04] + [0.0] * 5,  # 3: near-dup of 2
        [0.0] * 7 + [1.0],            # 4: distinct
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rng)],
        "vec_id: long, embedding: array<double>",
    )
    out = {
        r["id"]: (r["cell"], r["kept"])
        for r in SIM.semantic_dedup(
            df, "vec_id", "embedding", threshold=0.95, n_cells=3,
            kmeans_iters=1,
        ).collect()
    }
    assert len(out) == 5
    # near-dup pairs land in the same cell and the higher id is dropped
    assert out[0][0] == out[1][0] and out[0][1] and not out[1][1]
    assert out[2][0] == out[3][0] and out[2][1] and not out[3][1]
    assert out[4][1]


def test_cluster_corpus_assignments_and_stats(spark):
    from recordmanager_spark.operators import similarity as SM

    # two tight groups around orthogonal axes + their noisy copies
    rows = []
    for i in range(10):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
        vec = [v + 0.01 * (i % 3) for v in base]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assignments, stats = SM.cluster_corpus(df, n_cells=2, kmeans_iters=0)
    a = {r.id: r for r in assignments.collect()}
    # seeds = vectors 0 (x-axis) and 1 (y-axis): evens cluster with 0
    evens = {a[i].cluster for i in range(0, 10, 2)}
    odds = {a[i].cluster for i in range(1, 10, 2)}
    assert evens == {0} and odds == {1}
    assert all(r.sim > 0.99 for r in a.values())
    s = {r.cluster: r for r in stats.collect()}
    assert s[0].cluster_size == 5 and s[1].cluster_size == 5
    assert 0.99 <= s[0].mean_sim <= 1.0


def test_cluster_corpus_lloyd_refinement_moves_centroids(spark):
    from recordmanager_spark.operators import similarity as SM

    # seed picks ids 0,1 (both x-like); one Lloyd round re-centers and
    # the y-group coheres around its own mean
    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1])] + [
        (i, [0.0, 1.0]) for i in range(2, 8)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _, stats0 = SM.cluster_corpus(df, n_cells=2, kmeans_iters=0)
    _, stats2 = SM.cluster_corpus(df, n_cells=2, kmeans_iters=2)
    m0 = {r.cluster: r.mean_sim for r in stats0.collect()}
    m2 = {r.cluster: r.mean_sim for r in stats2.collect()}
    assert sum(m2.values()) >= sum(m0.values()) - 1e-9
