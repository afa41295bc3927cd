"""DSIR importance resampling: weights favor target-like documents,
micro-integer determinism, and Gumbel top-k selection."""

from __future__ import annotations

from recordmanager_spark.operators import dsir as DS


def _corpus(spark):
    # two disjoint vocabularies: "aa bb cc" (target-like) vs "xx yy zz"
    rows = []
    for i in range(40):
        text = "aa bb cc aa bb" if i % 2 == 0 else "xx yy zz xx yy"
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_weights_favor_target_distribution(spark):
    df = _corpus(spark)
    target = df.where("doc_id % 2 = 0")  # the aa/bb/cc half
    out = DS.dsir_select(df, target, k=40, n_buckets=64).collect()
    w = {r.doc_id: r.log_weight for r in out}
    target_like = [w[i] for i in range(40) if i % 2 == 0]
    other = [w[i] for i in range(40) if i % 2 == 1]
    assert min(target_like) > max(other)
    # and the top half of the resample is exactly the target-like half
    top = sorted(out, key=lambda r: (-r.score, r.doc_id))[:20]
    assert all(r.doc_id % 2 == 0 for r in top)


def test_deterministic_across_runs(spark):
    df = _corpus(spark)
    target = df.where("doc_id % 2 = 0")
    a = [(r.doc_id, r.score) for r in DS.dsir_select(df, target, k=10).collect()]
    b = [(r.doc_id, r.score) for r in DS.dsir_select(df, target, k=10).collect()]
    assert a == b


def test_empty_and_single_token_docs(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "solo"), (4, "aa bb")],
        "doc_id long, text string",
    )
    counts = DS.tagged_bucket_counts([(0, df), (1, df)], n_buckets=32)
    ratios = DS._log_ratio_micros_from(counts[0], counts[1], 32, 0.5)
    scored = DS.dsir_score(df, ratios, n_buckets=32).collect()
    by_id = {r.doc_id: r.log_weight for r in scored}
    # identical p and q: every weight is exactly 0; empty docs score 0
    assert all(v == 0.0 for v in by_id.values())


def test_bucket_counts_bounded_and_bigrams_present(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    counts = DS.tagged_bucket_counts([(0, df)], n_buckets=16)[0]
    assert sum(counts.values()) == 5  # 3 unigrams + 2 bigrams
    assert all(0 <= b < 16 for b in counts)


def test_mismatched_ratio_table_raises(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    try:
        DS.dsir_score(df, [0, 0], n_buckets=5)
    except ValueError as e:
        assert "n_buckets" in str(e)
    else:
        raise AssertionError("expected ValueError")
