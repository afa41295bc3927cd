"""Product quantization: encode determinism, ADC vs exact recall,
md5-grid codebook parity."""

from __future__ import annotations

import hashlib
import math
import random

from pyspark.sql import Row
from pyspark.sql import functions as F

from recordmanager_spark.operators import pq as PQ
from recordmanager_spark.operators.similarity import knn_bruteforce
from tests.oracles import pq_train

DIM, M, K = 16, 4, 8


def _clustered_vectors(n_clusters=6, per_cluster=30, noise=0.05):
    rnd = random.Random(42)
    rows = []
    vid = 0
    for c in range(n_clusters):
        center = [rnd.uniform(-1, 1) for _ in range(DIM)]
        for _ in range(per_cluster):
            rows.append(
                Row(
                    vec_id=vid,
                    embedding=[
                        x + rnd.uniform(-noise, noise) for x in center
                    ],
                )
            )
            vid += 1
    return rows


def test_md5_grid_matches_formula():
    books = PQ.md5_grid_codebooks(2, 3, 4)
    assert len(books) == 2 and len(books[0]) == 3 and len(books[0][0]) == 4
    v = int(hashlib.md5(b"pq:1:2:3").hexdigest()[:15], 16) % 2001
    assert books[1][2][3] == (v - 1000) / 1000.0
    assert all(-1.0 <= x <= 1.0 for b in books for c in b for x in c)


def test_pq_encode_deterministic_and_scan_stage(spark):
    df = spark.createDataFrame(_clustered_vectors())
    books = PQ.md5_grid_codebooks(M, K, DIM // M)
    a = PQ.pq_encode(df, "embedding", books).collect()
    b = PQ.pq_encode(df, "embedding", books).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    codes = {r.vec_id: r.pq_code for r in a}
    assert all(len(c) == M and all(0 <= x < K for x in c)
               for c in codes.values())
    # zero shuffles: encoding is a pure projection
    from tools.plan_audit import unique_exchange_count

    assert unique_exchange_count(PQ.pq_encode(df, "embedding", books)) == 0


def test_pq_encode_picks_nearest_centroid(spark):
    books = PQ.md5_grid_codebooks(M, K, DIM // M)
    # a vector EQUAL to known centroids must encode to their indices
    target = [x for s in range(M) for x in books[s][3]]
    df = spark.createDataFrame([Row(vec_id=0, embedding=target)])
    code = PQ.pq_encode(df, "embedding", books).collect()[0].pq_code
    assert list(code) == [3] * M


def test_trained_pq_recall_vs_bruteforce(spark):
    """ADC over trained codebooks must recover most exact neighbors on
    clustered data — the quantization-quality pin for pq_encode/knn_pq
    over k-means codebooks."""
    rows = _clustered_vectors()
    df = spark.createDataFrame(rows)
    books = pq_train(df, "vec_id", "embedding", DIM, m=8, k=16,
                     sample=1000, iters=8)
    codes = PQ.pq_encode(df, "embedding", books)
    queries = df.where(F.col("vec_id") % 45 == 0)
    approx = PQ.knn_pq(codes, queries, books, k=10, rerank=df, shortlist=40)
    exact = knn_bruteforce(df, queries, "vec_id", "embedding",
                           dim=DIM, k=10)
    a = {}
    for r in approx.collect():
        a.setdefault(r.query_id, set()).add(r.neighbor_id)
    e = {}
    for r in exact.collect():
        e.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(a[q] & e[q]) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_pq_compression_ratio():
    """The point of PQ: m bytes per vector vs dim*4 — document the 32x
    story for dim-64 float32 at m=8 in an executable assertion."""
    assert (64 * 4) / 8 == 32.0
    books = PQ.md5_grid_codebooks(8, 16, 8)
    assert sum(len(b) * len(b[0]) for b in books) == 8 * 16 * 8  # literals only


def test_ivfadc_encode_shape_and_scan_stage(spark):
    df = spark.createDataFrame(_clustered_vectors())
    coarse = PQ.md5_grid_coarse(4, DIM)
    books = PQ.md5_grid_codebooks(M, K, DIM // M)
    enc = PQ.ivfadc_encode(df, "embedding", coarse, books, "vec_id")
    rows = enc.collect()
    assert all(0 <= r.cell < 4 and len(r.pq_code) == M for r in rows)
    from tools.plan_audit import unique_exchange_count

    assert unique_exchange_count(enc) == 0  # pure scan-stage


def test_ivfadc_residual_encoding_beats_plain_pq(spark):
    """Residual quantization must reconstruct closer than plain PQ with
    the SAME code budget — the whole point of IVFADC (Jégou §VI). Use
    trained quantizers on clustered data and compare rank quality:
    all-probe IVFADC recall@10 >= plain-PQ ADC recall@10."""
    rows = _clustered_vectors()
    df = spark.createDataFrame(rows)
    books = pq_train(df, "vec_id", "embedding", DIM, m=M, k=K,
                     sample=1000, iters=6)
    # coarse centroids: one per true cluster region, trained via the
    # same deterministic sample (k-means on full vectors, m=1 trick)
    coarse = pq_train(df, "vec_id", "embedding", DIM, m=1, k=6,
                      sample=1000, iters=6)[0]
    queries = df.where(F.col("vec_id") % 45 == 0)
    exact = knn_bruteforce(df, queries, "vec_id", "embedding", dim=DIM, k=10)
    e = {}
    for r in exact.collect():
        e.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(approx_df):
        a = {}
        for r in approx_df.collect():
            a.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(a.get(q, set()) & e[q]) / len(e[q]) for q in e) / len(e)

    plain_codes = PQ.pq_encode(df, "embedding", books)
    r_plain = recall(PQ.knn_pq(plain_codes, queries, books, k=10))
    enc = PQ.ivfadc_encode(df, "embedding", coarse, books, "vec_id")
    r_ivfadc = recall(
        PQ.knn_ivfadc(enc, queries, coarse, books, k=10, n_probe=None)
    )
    assert r_ivfadc >= r_plain, (r_ivfadc, r_plain)
    assert r_ivfadc >= 0.5, r_ivfadc


def test_ivfadc_probe_pruning(spark):
    """n_probe < n_cells only scores cells on the query's ranked list;
    neighbors from unprobed cells never appear."""
    df = spark.createDataFrame(_clustered_vectors())
    coarse = PQ.md5_grid_coarse(4, DIM)
    books = PQ.md5_grid_codebooks(M, K, DIM // M)
    enc = PQ.ivfadc_encode(df, "embedding", coarse, books, "vec_id")
    cells = {r.vec_id: r.cell for r in enc.collect()}
    queries = df.where(F.col("vec_id") == 0)
    out = PQ.knn_ivfadc(enc, queries, coarse, books, k=50, n_probe=1)
    got_cells = {cells[r.neighbor_id] for r in out.collect()}
    assert len(got_cells) == 1  # exactly the single probed cell


def test_ivfadc_indexed_search_prunes_partitions(spark):
    """knn_ivfadc over an encoded index persisted as a catalog table
    partitioned by cell: (1) probe results are identical to the
    inline-encode path; (2) the probe scan carries a dynamic partition
    pruning filter on cell — a search READS only the probed cells'
    directories; (3) the corpus side never shuffles (its only moves are
    the broadcast-join probe and the ranking window)."""
    df = spark.createDataFrame(_clustered_vectors())
    coarse = PQ.md5_grid_coarse(6, DIM)
    books = PQ.md5_grid_codebooks(M, K, DIM // M)
    table = "ivfadc_idx_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    inline = PQ.ivfadc_encode(df, "embedding", coarse, books, "vec_id")
    inline.write.mode("overwrite").partitionBy("cell").saveAsTable(table)
    idx = spark.table(table)
    queries = df.where(F.col("vec_id") < 5)

    expect = sorted(
        map(
            tuple,
            PQ.knn_ivfadc(
                inline, queries, coarse, books, k=5, n_probe=2
            ).collect(),
        )
    )
    got_df = PQ.knn_ivfadc(idx, queries, coarse, books, k=5, n_probe=2)
    assert sorted(map(tuple, got_df.collect())) == expect

    plan = got_df._sc._jvm.PythonSQLUtils.explainString(
        got_df._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruningexpression" in plan, plan
    assert "BroadcastHashJoin" in plan
    # the index side contributes scan -> broadcast probe -> window; its
    # only exchange is the per-query ranking window
    from tools.plan_audit import unique_exchange_count

    assert unique_exchange_count(got_df) <= 1
    spark.sql(f"DROP TABLE IF EXISTS {table}")
