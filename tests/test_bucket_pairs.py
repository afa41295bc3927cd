"""Pins for the bounded-state bucket pairing (ADVICE r6):

- small buckets (n <= cap) produce EXACT all-pairs — identical to the
  uncapped join;
- over-cap buckets report EVERY member (the round-6 slice-truncation
  silently dropped beyond-cap rows from every band), connect all
  members through the hub reps, and stay linear (<= n*cap pairs);
- payload columns ride correctly through both paths (the Hamming
  engine's fingerprints);
- the degenerate-embedding corpus regression: identical vectors share
  every band bucket, so truncation used to drop the same rows
  everywhere — now every vector appears in the near-dup output.
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from recordmanager_spark.operators.bucket_pairs import capped_bucket_pairs


def _banded(spark, rows):
    return spark.createDataFrame(rows, "band int, bkey string, id bigint")


def test_small_buckets_exact_all_pairs(spark):
    rows = [(0, "a", i) for i in range(4)] + [(0, "b", 10), (0, "b", 11)]
    out = capped_bucket_pairs(
        _banded(spark, rows), ["band", "bkey"], "id", bucket_cap=10
    ).collect()
    got = {(r.id_a, r.id_b) for r in out}
    want = {(i, j) for i in range(4) for j in range(4) if i < j} | {(10, 11)}
    assert got == want


def test_small_buckets_join_path_matches_array_path(spark):
    rows = [(b, k, b * 100 + i) for b in range(3) for k in "xy" for i in range(5)]
    df = _banded(spark, rows)
    arr = capped_bucket_pairs(df, ["band", "bkey"], "id", 50, small_path="array")
    jn = capped_bucket_pairs(df, ["band", "bkey"], "id", 50, small_path="join")
    assert sorted(map(tuple, arr.collect())) == sorted(map(tuple, jn.collect()))


def test_over_cap_bucket_covers_every_member(spark):
    n, cap = 60, 5
    rows = [(0, "hot", i) for i in range(n)]
    out = capped_bucket_pairs(
        _banded(spark, rows), ["band", "bkey"], "id", bucket_cap=cap
    ).collect()
    covered = {r.id_a for r in out} | {r.id_b for r in out}
    # the r6 shape dropped ids beyond the cap entirely; now every member
    # pairs with the hub reps
    assert covered == set(range(n))
    # linear, not quadratic: <= n * cap (hub pairs), far below n*(n-1)/2
    assert len(out) <= n * cap
    # all members connect into ONE component through the reps
    parent = {i: i for i in range(n)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in out:
        parent[find(r.id_a)] = find(r.id_b)
    assert len({find(i) for i in range(n)}) == 1


def test_over_cap_reps_are_deterministic(spark):
    rows = [(0, "hot", i) for i in range(40)]
    df = _banded(spark, rows)
    a = sorted(map(tuple, capped_bucket_pairs(df, ["band", "bkey"], "id", 4).collect()))
    b = sorted(map(tuple, capped_bucket_pairs(df, ["band", "bkey"], "id", 4).collect()))
    assert a == b


def test_payload_rides_both_paths(spark):
    rows = [
        Row(band=0, bkey="small", id=901, h=11),
        Row(band=0, bkey="small", id=902, h=22),
    ] + [Row(band=0, bkey="big", id=i, h=100 + i) for i in range(10)]
    df = spark.createDataFrame(rows)
    out = capped_bucket_pairs(
        df, ["band", "bkey"], "id", bucket_cap=3,
        payload_cols=("h",), small_path="join",
    ).collect()
    for r in out:
        # payload must track its id through the hub swap
        expect_a = 11 if r.id_a == 901 else 22 if r.id_a == 902 else 100 + r.id_a
        expect_b = 11 if r.id_b == 901 else 22 if r.id_b == 902 else 100 + r.id_b
        assert (r.h_a, r.h_b) == (expect_a, expect_b)
        assert r.id_a < r.id_b
    assert (901, 902) in {(r.id_a, r.id_b) for r in out}


def test_hamming_over_cap_bucket_reports_beyond_cap_members(spark):
    from recordmanager_spark.operators import text_dedup as TD

    # 50 identical fingerprints: same value in every band -> one
    # degenerate bucket per band; cap far below the membership
    sigs = spark.createDataFrame(
        [Row(id=i, hash=0x0F0F0F0F0F0F0F0F) for i in range(50)]
    )
    out = TD.hamming_near_duplicates(
        sigs, total_bits=64, max_hamming=2, bucket_cap=8
    ).collect()
    covered = {r.id_a for r in out} | {r.id_b for r in out}
    assert covered == set(range(50))
    assert all(r.hamming == 0 for r in out)


def test_null_bucket_and_null_payload_rows_excluded(spark):
    """Contract pin (r8/r9): rows with NULL bucket keys or NULL payloads
    are filtered up front — they never pair, on either path. In-repo
    callers derive both from md5/hash expressions (never null); the
    filter also keeps every branch's scan canonically identical so the
    banded exchange is stage-reused."""
    rows = [
        Row(band=0, bkey="k", id=1, h=10),
        Row(band=0, bkey="k", id=2, h=20),
        Row(band=0, bkey=None, id=3, h=30),   # null bucket: excluded
        Row(band=0, bkey=None, id=4, h=40),   # would have paired with 3
        Row(band=0, bkey="k", id=5, h=None),  # null payload: excluded
    ]
    df = spark.createDataFrame(rows, "band int, bkey string, id bigint, h bigint")
    pairs = capped_bucket_pairs(
        df, ["band", "bkey"], "id", bucket_cap=10, payload_cols=("h",)
    ).collect()
    assert sorted((r.id_a, r.id_b) for r in pairs) == [(1, 2)]


def test_assume_under_cap_equivalence(spark):
    """The census-skipping caller-contract path (assume_under_cap=True)
    must be row-identical — multiplicity included — to the routed
    default whenever no bucket exceeds the cap, on both small paths.
    (Rationale + measurements: PERFORMANCE.md round-10 census-floor
    probe; an automatic gate was rejected because deciding needs the
    census itself or an eager corpus scan.)"""
    rows = [
        Row(band=b, bkey=f"k{i % 4}", id=i, h=i * 10)
        for b in range(3)
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "band int, bkey string, id bigint, h bigint"
    )
    for path in ("array", "join"):
        routed = capped_bucket_pairs(
            df, ["band", "bkey"], "id", bucket_cap=10,
            payload_cols=("h",), small_path=path,
        )
        direct = capped_bucket_pairs(
            df, ["band", "bkey"], "id", bucket_cap=10,
            payload_cols=("h",), small_path=path, assume_under_cap=True,
        )
        key = lambda r: (r.id_a, r.id_b, r.h_a, r.h_b)
        assert sorted(map(key, routed.collect())) == sorted(
            map(key, direct.collect())
        ), path
