"""BPE subword tokenization: Sennrich-style training on word counts
(the driver-side trainer in tests/oracles.py), and the inline (JVM
replace-chain) encoder agrees with the symbol-list-walk oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recordmanager_spark.functions import bpe as B
from tests.oracles import bpe_encode_udf, bpe_train


SENNRICH = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]


def test_bpe_train_sennrich_merges():
    """The classic example: 'es' (count 9) wins the first merge by
    lexicographic tie-break over 'st'/'t▁', then chains to 'est',
    'est▁'; 'lo'/'low' follow at count 7."""
    merges = bpe_train(SENNRICH, n_merges=5)
    e = B.END_OF_WORD
    assert merges == [
        ("e", "s"),
        ("es", "t"),
        ("est", e),
        ("l", "o"),
        ("lo", "w"),
    ]


def test_bpe_train_deterministic_and_bounded():
    m1 = bpe_train(SENNRICH, n_merges=3)
    m2 = bpe_train(list(reversed(SENNRICH)), n_merges=3)
    assert m1 == m2  # input order never matters
    assert bpe_train([("ab", 1)], n_merges=50) == [
        ("a", "b"), ("ab", B.END_OF_WORD)
    ]  # runs dry gracefully
    with pytest.raises(ValueError, match="max_words"):
        bpe_train(SENNRICH, n_merges=1, max_words=2)


def test_bpe_encode_inline(spark):
    merges = bpe_train(SENNRICH, n_merges=5)
    df = spark.createDataFrame(
        [("lowest newest",), ("", ), (None,)], "t string"
    )
    got = [
        r.toks
        for r in df.select(B.bpe_encode("t", merges).alias("toks")).collect()
    ]
    e = B.END_OF_WORD
    # 'lowest' = l o w e s t ▁ --es/est/est▁/lo/low--> low + est▁;
    # 'newest' keeps its unmerged prefix letters
    assert got[0] == ["low", "est" + e, "n", "e", "w", "est" + e]
    assert got[1] == []
    assert got[2] is None


def test_bpe_encode_inline_matches_udf(spark):
    """The JVM replace-chain and the pandas-UDF symbol-walk encoders are
    the same algorithm — outputs must be identical token-for-token."""
    merges = bpe_train(SENNRICH, n_merges=5)
    rows = [
        ("lowest newest widest",),
        ("low low lower",),
        ("wide open spaces",),
        ("aaa aaaa aaaaa",),
    ]
    df = spark.createDataFrame(rows, "t string")
    inline = [
        r.toks
        for r in df.select(B.bpe_encode("t", merges).alias("toks"))
        .orderBy("t")
        .collect()
    ]
    enc = bpe_encode_udf(merges)
    udf = [
        r.toks
        for r in df.select(enc(F.col("t")).alias("toks")).orderBy("t").collect()
    ]
    assert inline == udf


def test_bpe_encode_boundary_collision_parity(spark):
    """Merges whose pattern could match across a symbol boundary must
    not: with [(t,h),(h,e)], 'the' is t h e ▁ -> th e ▁, and the 'h e'
    visible inside the string 'th e' is NOT a symbol pair — the result
    is [th, e, ▁], never ['the', ▁]. The inline chain must equal the
    UDF's symbol-list walk exactly (this was a real divergence: the
    un-anchored replace chain produced 'the')."""
    e = B.END_OF_WORD
    merges = [("t", "h"), ("h", "e")]
    rows = [("the",), ("hhe othe theta",), ("h he hhe",)]
    df = spark.createDataFrame(rows, "t string")
    inline = [
        r.toks
        for r in df.select(B.bpe_encode("t", merges).alias("toks"))
        .orderBy("t")
        .collect()
    ]
    enc = bpe_encode_udf(merges)
    udf = [
        r.toks
        for r in df.select(enc(F.col("t")).alias("toks")).orderBy("t").collect()
    ]
    assert inline == udf
    got = (
        df.where(F.col("t") == "the")
        .select(B.bpe_encode("t", merges).alias("toks"))
        .collect()[0]
        .toks
    )
    assert got == ["th", "e", e]


def test_bpe_encode_adjacent_and_regex_special(spark):
    """Adjacent occurrences all merge in one pass ('abab' -> ab ab) and
    regex metacharacters in symbols/replacements are quoted."""
    e = B.END_OF_WORD
    df = spark.createDataFrame(
        [("abab aba",), ("().$ $$",), ("a\\b x\\Ey",)], "t string"
    )
    cases = [
        ([("a", "b")], "abab aba", ["ab", "ab", e, "ab", "a", e]),
        ([("(", ")"), ("$", ".")], "().$ $$", ["()", ".", "$", e, "$", "$", e]),
        ([("\\", "b"), ("\\E", "y")], "a\\b x\\Ey", None),
    ]
    for merges, text, want in cases:
        inline = (
            df.where(F.col("t") == text)
            .select(B.bpe_encode("t", merges).alias("toks"))
            .collect()[0]
            .toks
        )
        enc = bpe_encode_udf(merges)
        udf = (
            df.where(F.col("t") == text)
            .select(enc(F.col("t")).alias("toks"))
            .collect()[0]
            .toks
        )
        assert inline == udf, (merges, text)
        if want is not None:
            assert inline == want, (merges, text)


def test_bpe_encode_inline_cap():
    with pytest.raises(ValueError, match="max_inline_merges"):
        B.bpe_encode("t", [("a", "b")] * 10, max_inline_merges=5)


def test_word_frequencies(spark):
    df = spark.createDataFrame(
        [("the cat sat",), ("the cat",), ("  the  ",)], "text string"
    )
    counts = {
        r.word: r["count"]
        for r in B.word_frequencies(df, "text").collect()
    }
    assert counts == {"the": 3, "cat": 2, "sat": 1}
    pruned = {
        r.word: r["count"]
        for r in B.word_frequencies(df, "text", min_count=2).collect()
    }
    assert pruned == {"the": 3, "cat": 2}
