"""Gopher/C4 quality filters, PII scrubbing, contamination flagging.

Each statistic is checked against a straightforward Python model on
literal documents (the Spark implementation is a single-pass sorted
scan — the model is the obvious counting definition)."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from recordmanager_spark.functions import quality as QL
from recordmanager_spark.operators import contamination as CT


def _one(spark, col, text):
    return (
        spark.createDataFrame([(text,)], "t string")
        .select(col.alias("v"))
        .collect()[0]["v"]
    )


def _model_dup_stats(items):
    c = Counter(items)
    n_dup = sum(v for v in c.values() if v > 1)
    dup_chars = sum(v * len(k) for k, v in c.items() if v > 1)
    return n_dup, dup_chars


class TestRepetition:
    def test_duplicate_line_stats(self, spark):
        text = "aaa\nbb\naaa\ncccc\n\nbb\naaa"
        lines = [l for l in text.split("\n") if l]
        n_dup, dup_chars = _model_dup_stats(lines)
        got = _one(spark, QL.duplicate_line_stats(F.col("t")), text)
        assert got["dup_line_frac"] == pytest.approx(n_dup / len(lines))
        assert got["dup_line_char_frac"] == pytest.approx(
            dup_chars / sum(len(l) for l in lines)
        )

    def test_no_duplicates(self, spark):
        got = _one(spark, QL.duplicate_line_stats(F.col("t")), "a\nb\nc")
        assert got["dup_line_frac"] == 0.0
        assert got["dup_line_char_frac"] == 0.0

    def test_top_ngram_char_fraction(self, spark):
        text = "x y x y x y z"
        # 2-grams: "x y"×3, "y x"×2, "y z"×1 -> top covers 3*3 chars
        got = _one(spark, QL.top_ngram_char_fraction(F.col("t"), 2), text)
        assert got == pytest.approx(9 / len(text))

    def test_top_ngram_tiebreak_prefers_longer(self, spark):
        # "bb cc" and "a bb" both occur once; longer gram wins the tie
        text = "a bb cc"
        got = _one(spark, QL.top_ngram_char_fraction(F.col("t"), 2), text)
        assert got == pytest.approx(5 / len(text))

    def test_dup_ngram_char_fraction(self, spark):
        text = "p q p q p q"
        toks = text.split()
        grams = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        _, dup_chars = _model_dup_stats(grams)
        got = _one(spark, QL.dup_ngram_char_fraction(F.col("t"), 2), text)
        assert got == pytest.approx(dup_chars / len(text))

    def test_short_doc_whole_text_gram(self, spark):
        got = _one(spark, QL.top_ngram_char_fraction(F.col("t"), 5), "one two")
        assert got == pytest.approx(1.0)


class TestQualityRules:
    def test_word_stats(self, spark):
        text = "The cat and the dog have fun with that ball"
        got = _one(spark, QL.gopher_quality_stats(F.col("t")), text)
        toks = text.split()
        assert got["n_words"] == len(toks)
        assert got["mean_word_len"] == pytest.approx(
            sum(len(w) for w in toks) / len(toks)
        )
        assert got["frac_alpha_words"] == pytest.approx(1.0)
        # the, and, have, with, that -> 5 of the required list present
        assert got["stop_hits"] == 5
        assert not got["passes"]  # fewer than 50 words

    def test_symbol_ratio(self, spark):
        text = "# head ... more #tag"
        got = _one(spark, QL.gopher_quality_stats(F.col("t")), text)
        # '#'×2 + '...'×1 over 5 whitespace tokens
        assert got["symbol_word_ratio"] == pytest.approx(3 / 5)

    def test_passes_long_clean_doc(self, spark):
        text = " ".join(
            ["the quick brown fox jumps over and beside that lazy dog of ours"]
            * 6
        )
        got = _one(spark, QL.gopher_quality_stats(F.col("t")), text)
        assert got["n_words"] >= 50
        assert got["passes"]


class TestC4Clean:
    def test_line_rules(self, spark):
        text = (
            "A proper sentence ends here.\n"
            "too short.\n"
            "no terminal punctuation at all\n"
            "We value your cookie choices today.\n"
            'He said "stop right there."\n'
        )
        got = _one(spark, QL.c4_clean_lines(F.col("t")), text)
        assert got["n_total"] == 5
        assert got["n_kept"] == 2
        assert got["text"].split("\n") == [
            "A proper sentence ends here.",
            'He said "stop right there."',
        ]


class TestPII:
    def test_all_categories(self, spark):
        text = (
            "mail bob.smith+x@corp.example.org server 10.1.2.3 "
            "call +358 40 123 4567 ssn 321-54-9876 end"
        )
        got = _one(spark, QL.pii_scrub(F.col("t")), text)
        assert got["n_ssn"] == 1
        assert got["n_email"] == 1
        assert got["n_ip"] == 1
        assert got["n_phone"] == 1
        assert got["text"] == (
            "mail <EMAIL> server <IP> call <PHONE> ssn <SSN> end"
        )

    def test_ssn_not_double_counted_as_phone(self, spark):
        got = _one(spark, QL.pii_scrub(F.col("t")), "id 123-45-6789 only")
        assert got["n_ssn"] == 1
        assert got["n_phone"] == 0

    def test_clean_text_untouched(self, spark):
        text = "no personal data in this sentence"
        got = _one(spark, QL.pii_scrub(F.col("t")), text)
        assert got["text"] == text
        assert got["n_email"] == got["n_ip"] == got["n_phone"] == 0


class TestContamination:
    def test_flags_overlap_only(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "alpha beta gamma delta epsilon completely different"),
                (3, "nothing shared with the benchmark text here at all"),
            ],
            "id long, text string",
        )
        bench = spark.createDataFrame(
            [(99, "alpha beta gamma delta epsilon")], "id long, text string"
        )
        out = {
            r["id"]: (r["n_hits"], r["contaminated"])
            for r in CT.flag_contaminated(
                docs, "id", "text", bench, "text", n=5, min_hits=1
            ).collect()
        }
        assert out[1] == (1, True)  # shares the 5-gram
        assert out[2] == (1, True)
        assert out[3] == (0, False)

    def test_min_hits_threshold(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d e f")], "id long, text string"
        )
        bench = spark.createDataFrame(
            [(9, "a b c d e f")], "id long, text string"
        )
        out = CT.flag_contaminated(
            docs, "id", "text", bench, "text", n=5, min_hits=3
        ).collect()[0]
        assert out["n_hits"] == 2  # "a b c d e", "b c d e f"
        assert not out["contaminated"]

    def test_benchmark_side_broadcast(self, spark):
        docs = spark.createDataFrame(
            [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(50)],
            "id long, text string",
        )
        bench = docs.limit(2)
        plan = CT.flag_contaminated(
            docs, "id", "text", bench, "text", n=5
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


def test_url_host_and_domain_blocklist(spark):
    from pyspark.sql import functions as F

    from recordmanager_spark.functions import quality as QL

    df = spark.createDataFrame(
        [
            ("https://spam.example/x", 1),
            ("http://sub.spam.example:8080/y?q=1", 1),
            ("https://notspam.example/z", 0),  # substring must NOT match
            ("https://ok.example/", 0),
            ("ftp://SPAM.example/mixed-case", 1),
            ("no-scheme.example/path", 0),  # not a URL -> host ''
        ],
        "url string, want int",
    )
    host = QL.url_host("url")
    got = df.select(
        host.alias("h"),
        QL.host_blocked(host, ["spam.example"]).alias("b"),
        "want",
    ).collect()
    for r in got:
        assert r.b == bool(r.want), r
    assert got[5].h == ""


def test_blocklist_hits_token_boundaries(spark):
    from recordmanager_spark.functions import quality as QL

    df = spark.createDataFrame(
        [
            ("clean words only", 0),
            ("has BADWORD inside", 1),
            ("badwordish is not a hit", 0),  # whole-token only
            ("badword verboten badword", 2),  # distinct words, not counts
        ],
        "text string, want int",
    )
    got = df.select(
        QL.blocklist_hits("text", ["badword", "verboten"]).alias("n"), "want"
    ).collect()
    for r in got:
        assert r.n == r.want, r
