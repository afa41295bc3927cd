"""Skew report (heavy hitters), corpus datacard.

Counts/shares are checked against a Python Counter model; the datacard's
approx mode is checked for agreement with exact mode on a corpus whose
group sizes are far inside the sketch error bounds.
"""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from recordmanager_spark.operators import diagnostics as DG


@pytest.fixture(scope="module")
def keyed(spark):
    # skewed: key "hot" holds 60 of 100 rows; two ties at 15
    rows = (
        [("hot", i) for i in range(60)]
        + [("warm_a", i) for i in range(15)]
        + [("warm_b", i) for i in range(15)]
        + [("cold", i) for i in range(10)]
    )
    return spark.createDataFrame(rows, "k string, v long")


def test_heavy_hitters_counts_and_ties(spark, keyed):
    got = DG.skew_report(keyed, ["k"], top_n=3).collect()
    assert [(r["k"], r["cnt"]) for r in got] == [
        ("hot", 60), ("warm_a", 15), ("warm_b", 15)
    ]
    assert got[0]["share"] == 0.6


def test_skew_report_salt_math(spark, keyed):
    got = {r["k"]: r for r in
           DG.skew_report(keyed, ["k"], top_n=10, partitions=10).collect()}
    # hot: 60 rows, even share would be 100/10 = 10 → factor 6, salt 6
    assert got["hot"]["skew_factor"] == 6.0
    assert got["hot"]["suggested_salt"] == 6
    # cold fills 1 reducer's share exactly → salt stays 1
    assert got["cold"]["skew_factor"] == 1.0
    assert got["cold"]["suggested_salt"] == 1
    assert abs(got["warm_a"]["share"] - 0.15) < 1e-9


def test_skew_report_default_partitions(spark, keyed):
    # no explicit partitions → session shuffle partitions
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    got = DG.skew_report(keyed, ["k"], top_n=1).collect()[0]
    assert got["skew_factor"] == round(60 * p / 100.0, 4)


@pytest.fixture(scope="module")
def corpus(spark):
    texts = []
    for i in range(40):
        body = " ".join(
            f"the quick word{j} and of to in is that for with" for j in range(3)
        )
        texts.append((i, f"doc {i} {body}", "en", "web" if i % 2 else "books"))
    # exact duplicates: 10 copies of one text in "web"
    texts += [(100 + i, "the same duplicated text and of to in is for with more words here", "en", "web") for i in range(10)]
    return spark.createDataFrame(
        texts, "doc_id long, text string, lang string, source string"
    )


def test_datacard_dup_rate_and_budget(spark, corpus):
    got = {(r["source"], r["lang"]): r
           for r in DG.corpus_datacard(corpus, by=("source", "lang")).collect()}
    web = got[("web", "en")]
    # 20 distinct singles + 10 copies of one text = 21 unique / 30 docs
    assert web["n_docs"] == 30
    assert web["n_unique"] == 21
    assert web["dup_rate"] == round(1 - 21 / 30, 6)
    books = got[("books", "en")]
    assert books["n_docs"] == 20 and books["dup_rate"] == 0.0
    # token budget equals the Python count
    rows = corpus.filter("source = 'books'").collect()
    assert books["ws_tokens"] == sum(len(r["text"].split()) for r in rows)


def test_datacard_approx_agrees_at_test_scale(spark, corpus):
    exact = {(r["source"], r["lang"]): r
             for r in DG.corpus_datacard(corpus, approach="exact").collect()}
    approx = {(r["source"], r["lang"]): r
              for r in DG.corpus_datacard(corpus, approach="approx").collect()}
    assert set(exact) == set(approx)
    for k in exact:
        # HLL rsd=0.01 and a 10k-accuracy percentile sketch are exact-ish
        # at tens of rows; identical budgets always
        assert exact[k]["ws_tokens"] == approx[k]["ws_tokens"]
        assert abs(exact[k]["n_unique"] - approx[k]["n_unique"]) <= 1
        assert abs(exact[k]["median_quality"] - approx[k]["median_quality"]) <= 0.26


def test_datacard_rejects_unknown_approach(spark, corpus):
    with pytest.raises(ValueError):
        DG.corpus_datacard(corpus, approach="sketchy")


def test_heavy_hitters_multi_key_and_model(spark):
    rows = [(i % 4, ("a" if i % 2 else "b"), i) for i in range(50)]
    df = spark.createDataFrame(rows, "g long, h string, v long")
    model = Counter(((i % 4, ("a" if i % 2 else "b")) for i in range(50)))
    got = DG.skew_report(df, ["g", "h"], top_n=100).collect()
    assert {(r["g"], r["h"]): r["cnt"] for r in got} == dict(model)
    # ordering: count desc then keys asc
    counts = [r["cnt"] for r in got]
    assert counts == sorted(counts, reverse=True)


def test_ann_recall_report(spark):
    from recordmanager_spark.operators.diagnostics import ann_recall_report

    exact = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (1, 20, 1), (1, 21, 2), (2, 30, 1)],
        ["query_id", "neighbor_id", "rank"],
    )
    # q0: perfect; q1: one of two; q2: missed entirely (absent approx)
    approx = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (1, 21, 1), (1, 99, 2)],
        ["query_id", "neighbor_id", "rank"],
    )
    out = {
        r["query_id"]: (r["n_exact"], r["n_approx"], r["n_hit"], r["recall"])
        for r in ann_recall_report(exact, approx).collect()
    }
    assert out[0] == (2, 2, 2, 1.0)
    assert out[1] == (2, 2, 1, 0.5)
    assert out[2] == (1, 0, 0, 0.0)


def test_source_overlap_report(spark):
    from recordmanager_spark.operators.diagnostics import (
        source_overlap_report,
    )

    rows = [
        ("s1", "f1"), ("s1", "f2"), ("s1", "f2"),  # dup fp collapses
        ("s2", "f2"), ("s2", "f3"),
        ("s3", "f9"),  # no overlap with anyone
    ]
    df = spark.createDataFrame(rows, ["source", "fingerprint"])
    out = {
        (r["source_a"], r["source_b"]): (
            r["n_shared"], r["n_a"], r["n_b"], r["jaccard"],
        )
        for r in source_overlap_report(df).collect()
    }
    # only the overlapping pair appears; jaccard = 1 shared / 3 union
    assert out == {("s1", "s2"): (1, 2, 2, round(1 / 3, 6))}


def test_token_divergence_report(spark):
    import math

    from recordmanager_spark.operators.diagnostics import (
        token_divergence_report,
    )

    # identical distributions -> 0; fully disjoint vocab -> ln2 / 1.0
    rows = [
        ("a", "apple banana cherry"),
        ("b", "apple banana cherry"),
        ("c", "delta echo foxtrot"),
    ]
    df = spark.createDataFrame(rows, ["source", "text"])
    out = {
        (r["source_a"], r["source_b"]): (
            r["js_divergence"], r["total_variation"],
        )
        for r in token_divergence_report(df, n_buckets=64).collect()
    }
    assert out[("a", "b")] == (0.0, 0.0)
    assert out[("a", "c")] == (round(math.log(2), 6), 1.0)
    assert out[("b", "c")] == (round(math.log(2), 6), 1.0)
    # symmetry of the metric: overlapping-but-different distributions
    df2 = spark.createDataFrame(
        [("a", "x x y"), ("b", "x y y")], ["source", "text"]
    )
    js, tv = next(
        (r["js_divergence"], r["total_variation"])
        for r in token_divergence_report(df2, n_buckets=64).collect()
    )
    # p=(2/3,1/3) vs q=(1/3,2/3): tv = 1/3; js closed form
    p, q = 2 / 3, 1 / 3
    expect = 0.5 * (
        p * math.log(2 * p / (p + q)) + q * math.log(2 * q / (p + q))
    ) * 2
    assert tv == round(1 / 3, 6)
    assert js == round(expect, 6)
