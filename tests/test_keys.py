"""Golden tests for the scalar key/normalization library — mirrors the
reference's MetadataUtilsTest data providers (SURVEY §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from recordmanager_spark.functions import keys as K
from tests.oracles import normalize_key_py


def one(spark, col, value: str):
    df = spark.createDataFrame([Row(v=value)])
    return df.select(col.alias("out")).first()["out"]


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("Hello, World!", "helloworld"),
        ("Ähtäri – kaupunki", "ahtäri–kaupunki".replace("ä", "a").replace("–", "–")),
        ("  spaces  and\ttabs ", "spacesandtabs"),
        ("UPPER lower 123", "upperlower123"),
        ("café Résumé", "caferesume"),
    ],
)
def test_normalize_key(spark, raw, expected):
    # non-ASCII punctuation (en dash) is outside the reference's ASCII strip
    # ranges and survives — semantics pinned here
    assert one(spark, K.normalize_key(F.col("v")), raw) == expected


@pytest.mark.parametrize(
    "title,expected",
    [
        # >3 long words stops accumulation after the 4th long word
        ("alpha bravo charlie delta echo foxtrot", "alphabravocharliedelta"),
        # 35 significant chars cap: word crossing the cap is kept
        ("ab cd ef gh ij kl mn op qr st uv wx yz aa bb cc dd ee ff gg hh ii",
         "abcdefghijklmnopqrstuvwxyzaabbccddee"),
        ("short", "short"),
        ("", ""),
    ],
)
def test_create_title_key(spark, title, expected):
    assert one(spark, K.create_title_key(F.col("v")), title) == expected


@pytest.mark.parametrize(
    "isbn,expected",
    [
        ("0-306-40615-2", "9780306406157"),  # valid ISBN-10 -> 13
        ("0306406152", "9780306406157"),
        ("0-306-40615-1", ""),  # bad check digit
        ("9780306406157", "9780306406157"),  # already 13
        ("not an isbn", ""),
        ("043942089X", "9780439420891"),  # X check char
    ],
)
def test_normalize_isbn(spark, isbn, expected):
    assert one(spark, K.normalize_isbn(F.col("v")), isbn) == expected


@pytest.mark.parametrize(
    "a,b,expected",
    [
        ("smith john", "smith john", True),  # equal
        ("smith john", "smith j", True),  # prefix
        ("smith john", "smith jane", True),  # initial match on 2nd word
        ("smith john", "jones john", False),  # first word must match
        ("li wu", "li wu x", False),  # < 6 chars -> only exact
        ("smith john a", "smith john b", False),  # differing later initial
    ],
)
def test_author_match(spark, a, b, expected):
    df = spark.createDataFrame([Row(a=a, b=b)])
    got = df.select(
        K.author_match_expr(F.col("a"), F.col("b")).alias("m")
    ).first()["m"]
    assert got == expected


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("title /", "title"),
        ("Smith, A.", "Smith, A."),  # initial's period survives
        ("The end.", "The end"),
        ("unbalanced)", "unbalanced"),
        ("balanced (yes)", "balanced (yes)"),
        # reference's own testStripTrailingPunctuation fixtures
        # (MetadataUtilsTest.php:216-231)
        ("123.", "123."),  # numeric last word keeps its period
        ("foo /", "foo"),
        ("1979© ", "1979©"),
        ("foo--", "foo--"),
        ("bar /:;,=([", "bar"),
        ("Mattila P.", "Mattila P."),
        # abbreviation list (MetadataUtils.php:605-613 + abbreviations.lst)
        ("told by Mr.", "told by Mr."),
        ("written by ms.", "written by ms."),
        ("not an abbreviation xmr.", "not an abbreviation xmr"),
        ("ends with 3.5.", "ends with 3.5."),
        # '. -' suffix rule (MetadataUtils.php:616-618)
        ("dangling. -", "dangling"),
        ("squares]", "squares"),
        ("keep [squares]", "keep [squares]"),
    ],
)
def test_strip_trailing_punctuation(spark, raw, expected):
    assert one(spark, K.strip_trailing_punctuation(F.col("v")), raw) == expected


def test_strip_trailing_punctuation_additional(spark):
    # the reference's additional-chars form: stripTrailingPunctuation('foo/]', ']')
    assert (
        one(spark, K.strip_trailing_punctuation(F.col("v"), additional="]"), "foo/]")
        == "foo"
    )
    assert (
        one(spark, K.strip_trailing_punctuation(F.col("v"), additional="©"), "foo/:©")
        == "foo"
    )


def test_strip_leading_article_and_sort_title(spark):
    assert one(spark, K.strip_leading_article(F.col("v")), "The Annual Report") == "annual report"
    assert one(spark, K.create_sort_title(F.col("v")), "The  [Annual] Report!") == "annual report"


@pytest.mark.parametrize(
    "raw,expected",
    # MetadataUtilsTest.php createSortTitleProvider (stripArticle=true):
    # quoted articles strip on the second pass, French elided articles
    # ("l'") come from the shipped articles list
    [
        ("", ""),
        ("Theme is this", "theme is this"),
        ("The Me", "me"),
        ('"The Others"', "others"),
        ("L'Avion", "avion"),
        ("Ll'Avion", "ll avion"),
    ],
)
def test_create_sort_title_golden(spark, raw, expected):
    assert one(spark, K.create_sort_title(F.col("v")), raw) == expected


@pytest.mark.parametrize(
    "raw,expected",
    # PHP `^\w*(\d+)$` is greedy: capture = last digit only (verified vs PCRE)
    [("rec000123", "3"), ("Customer#7", "Customer#7"), ("42", "2"), ("abc", "abc")],
)
def test_create_id_sort_key(spark, raw, expected):
    assert one(spark, K.create_id_sort_key(F.col("v")), raw) == expected


def test_extract_year(spark):
    assert one(spark, K.extract_year(F.col("v")), "c1987.") == "1987"
    assert one(spark, K.extract_year(F.col("v")), "no year") == ""
    assert one(spark, K.extract_year(F.col("v")), "in -0044 BC era") == "-0044"


def test_array_iunique(spark):
    df = spark.createDataFrame([Row(v=["Foo", "foo", "BAR", "Foo", "baz"])])
    got = df.select(K.array_iunique(F.col("v")).alias("out")).first()["out"]
    # first occurrence + original case preserved
    assert got == ["Foo", "BAR", "baz"]


@pytest.mark.parametrize(
    "raw,expected",
    [
        # ICU Any-Latin analogue: Cyrillic/Greek titles key consistently
        # across sources (reference key_folding_rules,
        # recordmanager.ini.sample:19-25)
        ("Война и мир", "voinaimir"),
        ("Толстой", "tolstoi"),
        ("Tolstoï", "tolstoi"),  # same author, Latin source, same key
        ("Δημοκρατία", "dimokratia"),
        ("Ψυχή", "psychi"),
        ("объём", "obyom"),  # soft sign dropped, ё -> yo
        ("ЩИ и Борщ", "shchiiborshch"),
        ("decomposed ä", "decomposeda"),  # combining marks stripped
    ],
)
def test_normalize_key_script_folding(spark, raw, expected):
    assert one(spark, K.normalize_key(F.col("v")), raw) == expected


# ---------------------------------------------------------------------------
# Scalar tail: ISO-8601 validation, timestamp formatting, ucFirst,
# control-char strip, XML whitespace trim, arrayTrim
# (MetadataUtils.php:785-985)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("1970-01-01T00:00:00Z", 0),
        ("2021-02-28T10:00:00Z", 1614506400),
        ("2021-02-30T10:00:00Z", None),   # overflow day -> strtotime roundtrip fails
        ("2021-13-01T00:00:00Z", None),   # month out of range
        ("2021-02-28 10:00:00Z", None),   # missing T
        ("nope", None),
        ("2021-02-28T10:00:00", None),    # missing Z
    ],
)
def test_validate_iso8601_date(spark, raw, expected):
    assert one(spark, K.validate_iso8601_date(F.col("v")), raw) == expected


def test_format_timestamp(spark):
    assert (
        one(spark, K.format_timestamp(F.lit(1614508800)), "x")
        == "2021-02-28T10:40:00Z"
    )
    # NULL input formats the epoch (PHP `?? 0`)
    assert (
        one(spark, K.format_timestamp(F.lit(None).cast("long")), "x")
        == "1970-01-01T00:00:00Z"
    )


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("hello world", "Hello world"),
        ("über alles", "Über alles"),
        ("", ""),
        ("X", "X"),
    ],
)
def test_uc_first(spark, raw, expected):
    assert one(spark, K.uc_first(F.col("v")), raw) == expected


def test_strip_control_characters(spark):
    assert one(spark, K.strip_control_characters(F.col("v")), "a\tb\r\nc") == "abc"
    # only CR/LF/TAB — other control chars survive (reference strips exactly 3)
    assert one(spark, K.strip_control_characters(F.col("v")), "a\x0bb") == "a\x0bb"


def test_trim_xml_whitespace(spark):
    assert (
        one(spark, K.trim_xml_whitespace(F.col("v")), "<a> <b>x  y</b> </a>")
        == "<a><b>x  y</b></a>"
    )
    assert (
        one(
            spark,
            K.trim_xml_whitespace(F.col("v")),
            "<r>\n  <t>keep  inner</t>\n  <u/>\n</r>",
        )
        == "<r><t>keep  inner</t><u/></r>"
    )


def test_array_trim(spark):
    df = spark.createDataFrame([Row(v=[" a ", "b\t", "\n c\x0b"])])
    out = df.select(K.array_trim(F.col("v")).alias("out")).first()["out"]
    assert out == ["a", "b", "c"]


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("とうきょう", "toukiyou"),  # hiragana (per-char: きょ -> kiyo)
        ("トウキョウ", "toukiyou"),  # katakana keys identically
        ("トーキョー", "tokiyo"),  # chōonpu dropped
        ("さっぽろ", "saporo"),  # sokuon dropped (per-char approximation)
        ("にほんご Nihongo", "nihongonihongo"),  # mixed scripts
        ("ガギグゲゴ", "gagigugego"),  # voiced katakana via block offset
    ],
)
def test_normalize_key_kana_table_fold(spark, raw, expected):
    """Without PyICU the table engine still keys kana to stable Latin
    (per-character Hepburn-ish; digraph/gemination divergences from ICU
    are documented at _KANA_BASE)."""
    assert one(spark, K.normalize_key(F.col("v")), raw) == expected


def test_normalize_key_table_engine_goldens(spark):
    for raw, expected in [("A -.*B  C", "abc"), ("ÖÄÅöäåüïé", "oaaoaauie")]:
        assert one(spark, K.normalize_key(F.col("v")), raw) == expected


def test_normalize_key_py_matches_column_engine(spark):
    vals = [
        "PCS7088 (mono)", "Äiti järvi", "Щука", "カタカナ", None, "A-B c!",
        "θάλασσα",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = [r.k for r in df.select(K.normalize_key(F.col("s")).alias("k")).collect()]
    # the Column fold null-propagates; the py twin maps None -> ""
    assert got == [normalize_key_py(v) if v is not None else None for v in vals]
