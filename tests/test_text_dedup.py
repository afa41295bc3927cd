from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from recordmanager_spark.operators import text_dedup as TD

DOCS = [
    Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
    Row(doc_id=2, text="The quick brown fox jumps over the lazy dog today!"),  # exact after norm
    Row(doc_id=3, text="the quick brown fox jumps over the lazy cat today"),  # near-dup
    Row(doc_id=4, text="completely different content about spark engines here"),
    Row(doc_id=5, text="another unrelated document discussing parquet files"),
]


def test_exact_duplicates(spark):
    df = spark.createDataFrame(DOCS)
    out = {r["id"]: r["canonical_id"] for r in TD.exact_duplicates(df, "doc_id", "text").collect()}
    assert out[1] == 1 and out[2] == 1  # same fingerprint
    assert out[3] == 3 and out[4] == 4


def test_distinct_by_text(spark):
    df = spark.createDataFrame(DOCS)
    kept = sorted(r["doc_id"] for r in TD.distinct_by_text(df, "doc_id", "text").collect())
    assert kept == [1, 3, 4, 5]


def test_jaccard_verify_bruteforce(spark):
    df = spark.createDataFrame(DOCS)
    ids = df.select(F.col("doc_id").alias("id"))
    pairs = (
        ids.alias("a")
        .crossJoin(ids.alias("b"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    out = TD.jaccard_verify(df, pairs, "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and got[(1, 3)] < 1.0
    assert (1, 4) not in got


def test_minhash_finds_exact_and_near_dups(spark):
    df = spark.createDataFrame(DOCS)
    out = TD.minhash_near_duplicates(df, "doc_id", "text", threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # identical docs always collide in every band
    assert (1, 2) in pairs
    # no false positives above threshold
    for a, b in pairs:
        assert {a, b} <= {1, 2, 3}


def test_minhash_recall_vs_bruteforce(spark):
    # identical-after-normalization docs are guaranteed; near-dups are
    # probabilistic — assert the pipeline is a subset of true pairs
    df = spark.createDataFrame(DOCS)
    approx = {
        (r["id_a"], r["id_b"])
        for r in TD.minhash_near_duplicates(df, "doc_id", "text", threshold=0.3).collect()
    }
    ids = df.select(F.col("doc_id").alias("id"))
    all_pairs = (
        ids.alias("a").crossJoin(ids.alias("b")).where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in TD.jaccard_verify(df, all_pairs, "doc_id", "text", threshold=0.3).collect()
    }
    assert approx <= exact


def test_simhash_hamming(spark):
    df = spark.createDataFrame(DOCS)
    sigs = {r["id"]: r["simhash"] for r in TD.simhash(df, "doc_id", "text").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sigs[1], sigs[2]) <= ham(sigs[1], sigs[4])
    out = TD.simhash_near_duplicates(df, "doc_id", "text", max_hamming=3)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in pairs  # identical token sets -> distance 0


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003)
# ---------------------------------------------------------------------------


def test_winnow_guarantee_shared_substring(spark):
    """Any shared substring of length >= w+k-1 (= 8 at k=5,w=4) must share a
    selected fingerprint — the paper's coverage guarantee."""
    common = "identical shared passage inside both documents"
    df = spark.createDataFrame(
        [
            (1, "first doc intro " + common + " first tail"),
            (2, "a different opening here " + common + " other ending"),
            (3, "totally unrelated content with nothing in common at all zzz"),
        ],
        "doc_id: long, text: string",
    )
    fps = {
        r["id"]: set(r["fp"])
        for r in TD.winnow_fingerprints(df, "doc_id", "text").collect()
    }
    assert fps[1] & fps[2]          # shared passage -> shared fingerprint
    # sanity: fingerprints are md5 hex
    assert all(len(h) == 32 for h in fps[1])


def test_winnow_identical_docs_identical_fp(spark):
    df = spark.createDataFrame(
        [(1, "Same text! Same TEXT."), (2, "same text same text")],
        "doc_id: long, text: string",
    )
    fps = [
        r["fp"] for r in
        TD.winnow_fingerprints(df, "doc_id", "text").orderBy("id").collect()
    ]
    assert fps[0] == fps[1]  # normalization collapses case/punct


def test_winnow_short_text(spark):
    # shorter than k: one gram of the whole text; shorter than w windows:
    # single-min fallback
    df = spark.createDataFrame([(1, "ab"), (2, "")], "doc_id: long, text: string")
    out = TD.winnow_fingerprints(df, "doc_id", "text").collect()
    assert all(len(r["fp"]) == 1 for r in out)


def test_winnow_near_duplicates_and_cap(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(i, base + f" variant {i}") for i in range(6)]
        + [(100, "entirely different text about unrelated matters xyz")],
        "doc_id: long, text: string",
    )
    pairs = TD.winnow_near_duplicates(df, "doc_id", "text", min_shared=5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got and (4, 5) in got
    assert not any(100 in p for p in got)
    # bucket_cap=2: an over-cap posting list keeps the min id per md5
    # salt slot (bounded-state truncation, r7) — <= 2 survivors per
    # fingerprint, so only salted-rep pairs can reach min_shared
    import hashlib

    def slot(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 2

    reps = {min((i for i in range(6) if slot(i) == s), default=None)
            for s in (0, 1)} - {None}
    capped = TD.winnow_near_duplicates(
        df, "doc_id", "text", min_shared=5, bucket_cap=2
    )
    got_capped = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got_capped == {tuple(sorted(reps))}


def test_line_level_dedup(spark):
    """Boilerplate lines (shared by > max_docs docs) are removed; unique
    lines keep their order; all-boilerplate docs come back empty."""
    df = spark.createDataFrame(
        [
            (1, "HEADER\nalpha one\nFOOTER"),
            (2, "HEADER\nbeta two\nFOOTER"),
            (3, "HEADER\ngamma three\nFOOTER"),
            (4, "HEADER\nFOOTER"),
        ],
        "doc_id: long, text: string",
    )
    out = {
        r["id"]: r["text"]
        for r in TD.line_level_dedup(df, "doc_id", "text", max_docs=3).collect()
    }
    # HEADER/FOOTER are in 4 docs -> dropped; unique middles survive
    assert out == {1: "alpha one", 2: "beta two", 3: "gamma three", 4: ""}

    # max_docs=4 keeps everything intact
    out2 = {
        r["id"]: r["text"]
        for r in TD.line_level_dedup(df, "doc_id", "text", max_docs=4).collect()
    }
    assert out2[1] == "HEADER\nalpha one\nFOOTER"


def test_near_dup_prune_keeps_best_quality(spark):
    """Transitive cluster {a,b,c} keeps the highest-quality member;
    singleton d keeps itself; ties break to the smallest id."""
    from pyspark.sql import functions as F  # noqa: F401

    from recordmanager_spark.operators.text_dedup import near_dup_prune

    docs = spark.createDataFrame(
        [("a", 0.5), ("b", 0.9), ("c", 0.9), ("d", 0.1)],
        "doc_id string, q double",
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id_a string, id_b string"
    )
    out = {r.doc_id: r for r in near_dup_prune(docs, pairs, quality_col="q").collect()}
    assert out["a"].cluster_id == out["b"].cluster_id == out["c"].cluster_id == "a"
    # b and c tie on quality 0.9 -> smallest id b wins
    assert [out[k].keep for k in ("a", "b", "c", "d")] == [False, True, False, True]
    assert out["d"].cluster_id == "d"


def test_near_dup_prune_no_quality_min_id(spark):
    from recordmanager_spark.operators.text_dedup import near_dup_prune

    docs = spark.createDataFrame([("x",), ("y",)], "doc_id string")
    pairs = spark.createDataFrame([("y", "x")], "id_a string, id_b string")
    out = {r.doc_id: r for r in near_dup_prune(docs, pairs).collect()}
    assert out["x"].keep is True and out["y"].keep is False


def test_minhash_incremental_batch_vs_index(spark):
    from recordmanager_spark.operators import text_dedup as TD

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely different content about spark partitions here"),
            (3, "yet another unrelated document speaking of libraries"),
        ],
        "doc_id long, text string",
    )
    index = TD.minhash_signature(corpus, "doc_id", "text")
    batch = spark.createDataFrame(
        [
            # exact copy of doc 1 -> agreement 1.0
            (101, "the quick brown fox jumps over the lazy dog tonight"),
            # genuinely new
            (102, "zz yy xx ww vv uu tt ss rr qq pp oo"),
        ],
        "doc_id long, text string",
    )
    annotated, new_index = TD.minhash_incremental(batch, index)
    rows = {r.doc_id: r for r in annotated.collect()}
    assert rows[101].is_dup and rows[101].matched_id == 1
    assert rows[101].agreement == 1.0
    assert not rows[102].is_dup and rows[102].matched_id is None
    # index grows by exactly the non-duplicate batch rows
    ids = {r.id for r in new_index.collect()}
    assert ids == {1, 2, 3, 102}
    # second run of the same batch against the UPDATED index: the fresh
    # doc is now a duplicate of its own earlier admission
    annotated2, _ = TD.minhash_incremental(batch, new_index)
    rows2 = {r.doc_id: r for r in annotated2.collect()}
    assert rows2[102].is_dup and rows2[102].matched_id == 102


def test_minhash_incremental_within_batch_pair(spark):
    """Two duplicates arriving in the SAME batch: the larger id flags
    as a dup of the smaller one and only the smaller enters the index
    (this was a real gap — both used to slip past the index probe and
    both got stored). within_batch=False restores the probe-only shape."""
    from recordmanager_spark.operators import text_dedup as TD

    corpus = spark.createDataFrame(
        [(1, "completely different content about spark partitions here")],
        "doc_id long, text string",
    )
    index = TD.minhash_signature(corpus, "doc_id", "text")
    dup_text = "the quick brown fox jumps over the lazy dog tonight"
    batch = spark.createDataFrame(
        [(201, dup_text), (202, dup_text),
         (203, "zz yy xx ww vv uu tt ss rr qq pp oo")],
        "doc_id long, text string",
    )
    annotated, new_index = TD.minhash_incremental(batch, index)
    rows = {r.doc_id: r for r in annotated.collect()}
    assert not rows[201].is_dup
    assert rows[202].is_dup and rows[202].matched_id == 201
    assert rows[202].agreement == 1.0
    assert not rows[203].is_dup
    assert {r.id for r in new_index.collect()} == {1, 201, 203}
    # opt-out: the historical probe-only behavior
    probe_only, idx2 = TD.minhash_incremental(
        batch, index, within_batch=False
    )
    rows2 = {r.doc_id: r for r in probe_only.collect()}
    assert not rows2[201].is_dup and not rows2[202].is_dup
    assert {r.id for r in idx2.collect()} == {1, 201, 202, 203}


def test_minhash_incremental_shuffle_path_identical(spark):
    from recordmanager_spark.operators import text_dedup as TD

    corpus = spark.createDataFrame(
        [(i, f"shared base text number {i % 4} with tail {i}") for i in range(20)],
        "doc_id long, text string",
    )
    index = TD.minhash_signature(corpus, "doc_id", "text")
    batch = spark.createDataFrame(
        [(100 + i, f"shared base text number {i % 4} with tail {i}")
         for i in range(8)],
        "doc_id long, text string",
    )
    a, _ = TD.minhash_incremental(batch, index, broadcast_batch=True)
    b, _ = TD.minhash_incremental(batch, index, broadcast_batch=False)
    key = lambda r: (r.doc_id, r.is_dup, r.matched_id, r.agreement)
    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))


def test_minhash_incremental_candidate_cap(spark):
    from recordmanager_spark.operators import text_dedup as TD

    # 10 identical corpus docs; cap 3 keeps the 3 smallest old ids as
    # candidates, best match = smallest id
    corpus = spark.createDataFrame(
        [(i, "same boilerplate text repeated everywhere forever") for i in range(10)],
        "doc_id long, text string",
    )
    index = TD.minhash_signature(corpus, "doc_id", "text")
    batch = spark.createDataFrame(
        [(99, "same boilerplate text repeated everywhere forever")],
        "doc_id long, text string",
    )
    annotated, _ = TD.minhash_incremental(batch, index, max_candidates=3)
    [row] = annotated.collect()
    assert row.is_dup and row.matched_id == 0 and row.agreement == 1.0


# ---------------------------------------------------------------------------
# Generic banded Hamming near-dup (hamming_near_duplicates)
# ---------------------------------------------------------------------------

def _brute_hamming(rows, max_hamming):
    out = set()
    for i, (ida, ha) in enumerate(rows):
        for idb, hb in rows[i + 1:]:
            d = bin((ha ^ hb) & 0xFFFFFFFFFFFFFFFF).count("1")
            if d <= max_hamming:
                a, b = sorted((ida, idb))
                out.add((a, b, d))
    return out


def test_hamming_near_duplicates_vs_bruteforce(spark):
    import random

    rng = random.Random(42)
    rows = [(i, rng.getrandbits(64) - (1 << 63)) for i in range(60)]
    # planted: 20 near-pairs at distances 0..2, incl. negative hashes
    for j in range(20):
        base = rows[j][1]
        flips = base
        for b in range(j % 3):
            flips ^= 1 << ((j * 7 + b * 13) % 64)
        rows.append((100 + j, ((flips + (1 << 63)) % (1 << 64)) - (1 << 63)))
    df = spark.createDataFrame(rows, "id long, hash long")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in TD.hamming_near_duplicates(
            df, total_bits=64, max_hamming=2
        ).collect()
    }
    want = _brute_hamming(
        [(i, h & 0xFFFFFFFFFFFFFFFF) for i, h in rows], 2
    )
    assert got == want
    assert len(got) >= 20  # the planted pairs all survive


def test_hamming_top_bit_only_difference(spark):
    # bit 63 is outside all three 21-bit bands; a pair differing only
    # there must still surface (identical bands) with hamming 1
    rows = [(1, 5), (2, 5 - (1 << 63))]
    df = spark.createDataFrame(rows, "id long, hash long")
    got = TD.hamming_near_duplicates(df, total_bits=64, max_hamming=2).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [(1, 2, 1)]


def test_hamming_band_bits_default_derivation(spark):
    # max_hamming=7 -> 8 bands x 8 bits over 64; distance 7 always found
    base = 0x0123456789ABCDEF
    other = base
    for b in range(7):
        other ^= 1 << (b * 9)
    df = spark.createDataFrame(
        [(1, base), (2, other)], "id long, hash long"
    )
    got = TD.hamming_near_duplicates(df, max_hamming=7).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [(1, 2, 7)]


def test_exact_dup_incremental_bucketed_index(spark):
    """Incremental exact dedup against the PERSISTED bucketed
    fingerprint index: semantics (index hits -> historical canonical,
    unseen texts dedup within the batch) and the scale contract — the
    index side of the probe join reads co-located, ZERO index-side
    exchange."""
    import io
    import re
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from recordmanager_spark.operators.text_dedup import exact_dup_incremental
    from recordmanager_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    hist = spark.createDataFrame(
        [(1, "Alpha text!"), (2, "alpha TEXT"), (3, "beta")],
        "doc_id long, text string",
    )
    spark.sql("DROP TABLE IF EXISTS t_fp_idx")
    # build the index the way cmd_curate bootstraps it: probe the first
    # batch against an empty index and write its new rows bucketed on fp
    empty = spark.createDataFrame([], "fp string, canonical_id long")
    write_bucketed(exact_dup_incremental(hist, empty)[1], "t_fp_idx", "fp", 4)
    batch = spark.createDataFrame(
        [
            (10, "ALPHA text"),   # index hit -> canonical 1
            (11, "gamma new"),    # first occurrence -> itself
            (12, "gamma NEW!"),   # within-batch dup -> 11
            (13, "beta"),         # index hit -> canonical 3
        ],
        "doc_id long, text string",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        idx = read_bucketed(spark, "t_fp_idx")
        annotated, new_rows = exact_dup_incremental(batch, idx)
        got = {r.id: r.canonical_id for r in annotated.collect()}
        assert got == {10: 1, 11: 11, 12: 11, 13: 3}
        fresh = {r.canonical_id for r in new_rows.collect()}
        assert fresh == {11}

        # scale contract: the probe join's INDEX side must carry no
        # exchange (bucket-co-located scan); only batch-side exchanges
        # and the miss-canonical groupBy may appear
        buf = io.StringIO()
        with redirect_stdout(buf):
            annotated.explain("formatted")
        plan = buf.getvalue()
        scan_to_exchange = [
            sec
            for sec in re.split(r"^\(\d+\) ", plan, flags=re.M)[1:]
            if sec.startswith("Exchange") and "t_fp_idx" in sec
        ]
        assert scan_to_exchange == [], plan
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_fp_idx")


def test_minhash_calibration_estimator_quality(spark):
    """The agreement estimate tracks true Jaccard: identical texts
    estimate 1.0 with zero error; disjoint texts estimate ~0; the
    mean absolute error over near-dup pairs stays within a few
    binomial standard deviations of sqrt(j(1-j)/num_perm)."""
    from recordmanager_spark.operators.text_dedup import minhash_calibration

    base = "the quick brown fox jumps over the lazy dog and runs far away"
    rows = []
    for i in range(0, 40, 2):
        rows.append((i, base + f" tail {i}"))
        rows.append((i + 1, base + f" tail {i} extra"))  # near-dup of i
    rows += [(100, "completely different words entirely"), (101, base)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.id_a, r.id_b): r for r in
           minhash_calibration(df, "doc_id", "text").collect()}
    near = [r for (a, b), r in out.items() if b == a + 1 and a < 40]
    assert near and all(r.jaccard > 0.5 for r in near)
    mean_err = sum(r.abs_err for r in near) / len(near)
    assert mean_err < 0.25, mean_err  # ~2x the binomial sd at n=16
    far = out[(100, 101)]
    assert far.jaccard < 0.1 and far.est_jaccard <= 0.25
    assert all(abs(r.abs_err - abs(r.est_jaccard - r.jaccard)) < 1e-6
               for r in out.values())


def test_minhash_calibration_rejects_string_ids_without_pairs(spark):
    import pytest

    from recordmanager_spark.operators import text_dedup as TD

    df = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y w")], "doc_id string, text string"
    )
    with pytest.raises(ValueError, match="explicit .* `pairs`"):
        TD.minhash_calibration(df, "doc_id", "text")
    # explicit pairs keep string-id corpora fully supported
    pairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    out = TD.minhash_calibration(df, "doc_id", "text", pairs=pairs).collect()
    assert len(out) == 1 and out[0].id_a == "a"


def test_duplication_weights(spark):
    from recordmanager_spark.operators.text_dedup import duplication_weights

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same  TEXT!"), (3, "unique"), (4, "same text")],
        "doc_id long, text string",
    )
    out = {r["id"]: (r["n_copies"], r["weight"])
           for r in duplication_weights(df).collect()}
    # normalization folds case/punct/whitespace: 1,2,4 share a fingerprint
    assert out[1] == (3, round(1 / 3, 6))
    assert out[2] == (3, round(1 / 3, 6))
    assert out[4] == (3, round(1 / 3, 6))
    assert out[3] == (1, 1.0)
    # expectation preserved: weights per fingerprint sum to 1
    assert abs(sum(w for n, w in out.values() if n == 3) - 1.0) < 1e-5


def test_ngram_novelty(spark):
    from recordmanager_spark.operators.text_dedup import ngram_novelty

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),          # grams: a b g, b g d
            (2, "alpha beta gamma epsilon"),        # shares "alpha beta gamma"
            (3, "totally different words entirely"),
            (4, "hi"),                              # short-doc fallback gram
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: (r["n_grams"], r["n_novel"], r["novelty"])
           for r in ngram_novelty(df).collect()}
    assert out[1] == (2, 1, 0.5)   # "beta gamma delta" novel
    assert out[2] == (2, 1, 0.5)
    assert out[3] == (2, 2, 1.0)
    assert out[4] == (1, 1, 1.0)   # whole-text fallback gram is unique
