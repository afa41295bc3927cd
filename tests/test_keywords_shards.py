"""Round-7 corpus tools: tf-idf keywords, deterministic shuffle shards,
paragraph dedup."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from recordmanager_spark.operators.keywords import tfidf_keywords
from recordmanager_spark.operators.packing import shuffle_shards
from recordmanager_spark.operators.text_dedup import paragraph_dedup

DOCS = [
    Row(doc_id=1, text="spark spark spark parquet"),
    Row(doc_id=2, text="spark parquet parquet arrow"),
    Row(doc_id=3, text="arrow flight arrow flight unique"),
]


def test_tfidf_scores_and_ranks(spark):
    out = tfidf_keywords(
        spark.createDataFrame(DOCS), "doc_id", "text", top_k=2
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.id, []).append(r)
    # doc 1: spark tf=3 df=2 -> 3*ln(3/2); parquet tf=1 df=2
    top1 = by_doc[1][0]
    assert top1.term == "spark" and top1.rank == 1
    assert abs(top1.score - round(3 * math.log(3 / 2), 6)) < 1e-9
    # doc 3: flight (2*ln3=2.197) > unique (1*ln3=1.099) > arrow (2*ln1.5=0.811)
    assert by_doc[3][0].term == "flight"
    assert by_doc[3][1].term == "unique"
    # ranks dense per doc, max top_k
    assert all(len(v) <= 2 and [r.rank for r in v] == [1, 2][: len(v)]
               for v in by_doc.values())


def test_tfidf_tie_breaks_by_term(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="zebra apple"), Row(doc_id=2, text="other words")]
    )
    out = [r for r in tfidf_keywords(df, "doc_id", "text", top_k=2).collect()
           if r.id == 1]
    # identical tf/df -> identical score -> term ascending
    assert [r.term for r in sorted(out, key=lambda r: r.rank)] == [
        "apple", "zebra"
    ]


def test_tfidf_min_df_filter(spark):
    df = spark.createDataFrame(DOCS)
    out = tfidf_keywords(df, "doc_id", "text", top_k=5, min_df=2).collect()
    assert "unique" not in {r.term for r in out}  # df=1 dropped
    assert "flight" not in {r.term for r in out}


def test_shuffle_shards_deterministic_and_uniform(spark):
    df = spark.range(4000).withColumnRenamed("id", "doc_id")
    a = shuffle_shards(df, "doc_id", 16, seed="s1").collect()
    b = shuffle_shards(df, "doc_id", 16, seed="s1").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # rerun-stable
    c = shuffle_shards(df, "doc_id", 16, seed="s2").collect()
    moved = sum(
        1 for ra, rc in zip(sorted(a, key=lambda r: r.doc_id),
                            sorted(c, key=lambda r: r.doc_id))
        if ra.shard != rc.shard
    )
    assert moved > 3000  # a new seed reshuffles ~15/16 of the rows
    from collections import Counter

    sizes = Counter(r.shard for r in a)
    assert len(sizes) == 16
    assert max(sizes.values()) < 2 * min(sizes.values())  # balanced


def test_paragraph_dedup_first_occurrence_wins(spark):
    sep = "\n\n"
    rows = [
        Row(doc_id=1, text=sep.join(["Shared intro.", "Alpha body.", "Tail 1"])),
        Row(doc_id=2, text=sep.join(["Shared intro.", "Beta body.", "Tail 2"])),
        Row(doc_id=3, text=sep.join(["Shared intro.", "Alpha body.", ""])),
    ]
    out = {r.id: r for r in paragraph_dedup(
        spark.createDataFrame(rows), "doc_id", "text").collect()}
    assert out[1].text == sep.join(["Shared intro.", "Alpha body.", "Tail 1"])
    assert out[2].text == sep.join(["Beta body.", "Tail 2"])
    # doc 3 keeps only the empty structural paragraph
    assert out[3].text == ""
    assert out[3].n_paragraphs == 3 and out[3].kept_paragraphs == 1
    assert out[2].kept_ratio == round(2 / 3, 6)


def test_paragraph_dedup_within_doc_repeats(spark):
    sep = "\n\n"
    df = spark.createDataFrame(
        [Row(doc_id=5, text=sep.join(["Same para.", "Same para.", "Other."]))]
    )
    out = paragraph_dedup(df, "doc_id", "text").collect()[0]
    assert out.text == sep.join(["Same para.", "Other."])
    assert out.kept_paragraphs == 2


def test_paragraph_dedup_normalized_matching(spark):
    """Punctuation/case variants of a paragraph hash identically."""
    sep = "\n\n"
    rows = [
        Row(doc_id=1, text="Accept ALL cookies!!"),
        Row(doc_id=2, text="accept all cookies"),
    ]
    out = {r.id: r for r in paragraph_dedup(
        spark.createDataFrame(rows), "doc_id", "text").collect()}
    assert out[1].kept_paragraphs == 1
    assert out[2].kept_paragraphs == 0 and out[2].text == ""
