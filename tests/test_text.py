from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from recordmanager_spark.functions import text as TX


def one(spark, col, value: str):
    return spark.createDataFrame([Row(v=value)]).select(col.alias("o")).first()["o"]


def test_tokenize_and_count(spark):
    assert one(spark, TX.tokenize(F.col("v")), "  a  b\tc \n") == ["a", "b", "c"]
    assert one(spark, TX.token_count(F.col("v")), "") == 0
    assert one(spark, TX.token_count(F.col("v")), "one two") == 2


def test_quality_score_bounds(spark):
    good = "the quick brown fox jumps over the lazy dog and then some more of it"
    assert one(spark, TX.quality_score(F.col("v")), good) == 1.0
    assert one(spark, TX.quality_score(F.col("v")), "x") <= 0.5


def test_lang_id(spark):
    assert one(spark, TX.lang_id(F.col("v")), "the cat and the dog is here") == "en"
    assert one(spark, TX.lang_id(F.col("v")), "der hund und die katze ist da") == "de"
    assert one(spark, TX.lang_id(F.col("v")), "zzz qqq") == "und"


def test_fingerprint_normalization(spark):
    a = one(spark, TX.fingerprint(F.col("v")), "Hello,  WORLD!")
    b = one(spark, TX.fingerprint(F.col("v")), "hello world")
    assert a == b


@pytest.mark.parametrize(
    "text,n,expected",
    [
        ("a b c d", 3, ["a b c", "b c d"]),
        ("a b", 3, ["a b"]),  # degenerate: whole text
        ("a b c", 2, ["a b", "b c"]),
        ("a b a b a", 2, ["a b", "b a"]),  # distinct
    ],
)
def test_token_ngrams(spark, text, n, expected):
    assert one(spark, TX.token_ngrams(F.col("v"), n), text) == expected


def test_bpe_ish_token_count(spark):
    # 'hello'(2) + 'hi'(1) + 'abcdefgh'(2)
    assert one(spark, TX.bpe_ish_token_count(F.col("v")), "hello hi abcdefgh") == 5
