"""Parity gate for the SQL-text compilation path.

Production builds every MARC Solr column, the call-number argument
trees and the work-key tree only through the SQL-text twin. Running
the same spec functions on real Columns is the reference: each twin
tree must be BYTE-IDENTICAL to it on an adversarial MARC corpus — 880
linkage, analytical entries, non-filing indicators, ISBN-10 upgrades,
OCLC prefixes, unbalanced trailing brackets, abbreviation / numeric /
initial trailing periods, DOIs in 856, 264-ind2 publisher fallback,
Cyrillic + kana normalize_key folds, 034 DMS coordinates, empty/missing
fields. ``test_solr_frame_golden`` pins the whole produced frame.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import recordmanager_spark.extractors.marc as MARC
import recordmanager_spark.sqlalg as S
import recordmanager_spark.sqltwin as TW
from tests.golden_rows import assert_golden, collect_rows


def _rec(fields, leader="00000cam a22000004i 4500"):
    return json.dumps({"leader": leader, "fields": fields})


def _df(tag, sub):
    ind1, ind2 = sub.pop("__ind1", " "), sub.pop("__ind2", " ")
    return {
        tag: {
            "ind1": ind1,
            "ind2": ind2,
            "subfields": [{k: v} for k, v in sub.items()],
        }
    }


RECORDS = [
    # the everything record: 880 links, relators, facets, DOI, OCLC, geo
    _rec(
        [
            {"001": "rec1"},
            {"003": "FI-NL"},
            {"008": "970101s1999    xxua               eng d"},
            _df("100", {"a": "Writer, Wendy-Ann B.", "4": "aut"}),
            _df("700", {"a": "Helper, H.", "e": "edt.", "__ind2": "2"}),
            _df("700", {"a": "Second, S.", "e": "trl"}),
            _df("110", {"a": "Corp Inc.", "b": "Division"}),
            _df(
                "245",
                {"__ind1": "1", "__ind2": "4", "a": "The Title :",
                 "b": "subtitle /", "n": "Part 1.", "6": "880-01"},
            ),
            _df(
                "880",
                {"__ind1": "1", "__ind2": "4", "6": "245-01",
                 "a": "Тайтл кириллицей"},
            ),
            _df("240", {"a": "Uniform work", "n": "no. 2", "__ind2": "0"}),
            _df("130", {"a": "Master uniform", "p": "Pt"}),
            _df("650", {"a": "Topic.", "x": "Sub", "v": "genreform",
                        "z": "Helsinki", "y": "1900s", "0": "id0"}),
            _df("655", {"a": "fiction", "__ind2": "7"}),
            _df("651", {"a": "Finland", "z": "North"}),
            _df("648", {"a": "20th century", "y": "1950"}),
            _df("035", {"a": "(OCoLC)ocm00012345"}),
            _df("035", {"a": "ocn987654321"}),
            _df("020", {"a": "0-306-40615-2"}),
            _df("022", {"a": "1234-5678"}),
            _df("010", {"a": "  lccn42  ", "b": "nucmc7"}),
            _df("015", {"a": "FIN-1", "2": "skl"}),
            _df("024", {"a": "979-0-1234-5678-5", "__ind1": "2"}),
            _df("260", {"b": "PubHouse,", "c": "c1999."}),
            _df("300", {"a": "123 pages :", "b": "ill. ;", "c": "24 cm"}),
            _df("250", {"a": "2nd ed. ="}),
            _df("490", {"a": "Series A ["}),
            _df("505", {"a": "Contents here", "r": "Writer", "t": "T1"}),
            _df("362", {"a": "Vol. 1 (1999)-"}),
            _df("856", {"u": "https://doi.org/10.1/ab%20c?x=1", "q": "pdf"}),
            _df("852", {"b": "MAIN", "c": "STACK"}),
            _df("034", {"d": "E0793000", "e": "E0794500",
                        "f": "N0400000", "g": "N0395900", "__ind1": "1"}),
            _df("041", {"a": "fineng", "h": "swe"}),
            _df("773", {"z": "0-306-40615-2", "w": "(FI-NL)123", "6": "x"}),
            _df("780", {"a": "Old title (", "t": "old"}),
            _df("785", {"a": "New title :", "t": "new"}),
            _df("246", {"a": "Alt form", "b": "b."}),
            _df("730", {"a": "Related uniform"}),
            _df("740", {"a": "Added title"}),
        ]
    ),
    # trailing-punctuation traps: initials, numerics, abbreviations,
    # unbalanced brackets; non-personal comma-less author; kana title
    _rec(
        [
            {"001": "rec2"},
            {"008": "120101s2012    fi                  fin d"},
            _df("100", {"a": "Smith, A."}),
            _df("700", {"a": "One-Two, Jean-Luc Xavier"}),
            _df("245", {"__ind2": "0", "a": "Numbers 123.", "b": "x Mr."}),
            _df("246", {"a": "ひらがなのタイトル"}),
            _df("260", {"b": "Press)"}),
            _df("264", {"__ind2": "1", "b": "Fallback Pub"}),
            _df("050", {"a": "QA76.5", "b": ".A1", "__ind1": "0"}),
            _df("082", {"a": "005.133", "__ind1": "0"}),
            _df("083", {"a": "004.2"}),
            _df("024", {"a": "IAN123 TAIL", "__ind1": "3"}),
            _df("016", {"a": "  BN-77  ", "2": "dnb"}),
            _df("655", {"v": "poetry]"}),
        ]
    ),
    # minimal control-only record + 264-only publisher, no 008 year
    _rec(
        [
            {"001": "rec3"},
            {"008": "990101s19uu    xx                  und d"},
            _df("264", {"__ind2": "1", "b": "Only264", "c": "[2005]"}),
            _df("245", {"a": "..."}),
            _df("041", {"a": "GER", "d": " eng ", "j": "fre"}),
        ]
    ),
    # empty fields edge: no 245, 240 fallback; 006 illustrated; 363?
    _rec(
        [
            {"001": "rec4"},
            {"006": "a    b    "},
            {"008": "000000n"},
            _df("240", {"a": "Only Uniform", "__ind2": "3"}),
            _df("100", {"a": "von Goethe, Johann Wolfgang"}),
            _df("856", {"u": "http://dx.doi.org/10.99/z#frag"}),
            _df("024", {"a": "10.5/direct", "2": "doi", "__ind1": "7"}),
            _df("035", {"a": "(CONSER)co-1"}),
        ],
        leader="00000cem a22000004i 4500",
    ),
    # linking/host edges (ADVICE r12): no 001 so the Koha 999$c id
    # fallback fires, 003 agency for prepend_003, multiple 773$w with
    # one already parenthesized, comma-less ind1=0 author flip
    _rec(
        [
            {"003": "FI-X"},
            {"008": "050101s2005    fi                  fin d"},
            _df("999", {"c": "koha77"}),
            _df("773", {"w": "(FI-NL)h1", "t": "Host A"}),
            _df("773", {"w": "h2"}),
            _df("035", {"a": "(OCoLC)555"}),
            _df("100", {"__ind1": "0", "a": "Mononym Author"}),
            _df("245", {"a": "Linked title"}),
        ]
    ),
]


@pytest.fixture(scope="module")
def parsed(spark):
    df = spark.createDataFrame([(r,) for r in RECORDS], "raw string")
    out = df.select(MARC.parse_marc_in_json("raw").alias("marc"))
    return out.localCheckpoint(eager=True)


def _all_names():
    return list(MARC._solr_col_builders(F.col("marc"), None, {}))


def test_twin_column_parity(spark, parsed):
    """Every twin-compiled Solr column == the Column-API build, on every
    adversarial record."""
    twin = TW.marc_twin()._solr_col_builders(S.col("marc"), None, {})
    colb = MARC._solr_col_builders(F.col("marc"), None, {})
    mismatches = []
    names = _all_names()
    a_cols = [F.expr(str(twin[n]())).cast("string").alias(f"t_{i}")
              for i, n in enumerate(names)]
    b_cols = [colb[n]().cast("string").alias(f"c_{i}")
              for i, n in enumerate(names)]
    rows = parsed.select(*a_cols, *b_cols).collect()
    for r in rows:
        for i, n in enumerate(names):
            if r[f"t_{i}"] != r[f"c_{i}"]:
                mismatches.append((n, r[f"t_{i}"], r[f"c_{i}"]))
    assert not mismatches, mismatches[:5]


def test_twin_host_linking_author_parity(spark, parsed):
    """marc_main_author / marc_host_record_ids / linking_ids (every
    prepend_003 / id_in_999 variant) and the call-number argument trees
    — twin paths that have no _solr_col_builders entry, so the column
    sweep above never exercises them (ADVICE r12)."""
    tw = TW.marc_twin()
    cases: dict = {
        "main_author": (
            lambda: MARC.marc_main_author(F.col("marc")),
            lambda: tw.marc_main_author(S.col("marc")),
        ),
    }
    for k in MARC._callnumber_pure_exprs(F.col("marc")):
        cases[f"callnumber_{k}"] = (
            lambda k=k: MARC._callnumber_pure_exprs(F.col("marc"))[k],
            lambda k=k: tw._callnumber_pure_exprs(S.col("marc"))[k],
        )
    for p3 in (False, True):
        cases[f"host_ids_p3={p3}"] = (
            lambda p3=p3: MARC.marc_host_record_ids(
                F.col("marc"), prepend_003=p3
            ),
            lambda p3=p3: tw.marc_host_record_ids(
                S.col("marc"), prepend_003=p3
            ),
        )
        for i9 in (False, True):
            cases[f"linking_p3={p3}_i9={i9}"] = (
                lambda p3=p3, i9=i9: MARC.linking_ids(
                    F.col("marc"), prepend_003=p3, id_in_999=i9
                ),
                lambda p3=p3, i9=i9: tw.linking_ids(
                    S.col("marc"), prepend_003=p3, id_in_999=i9
                ),
            )
    names = list(cases)
    t_cols = [
        F.expr(str(cases[n][1]())).cast("string").alias(f"t_{i}")
        for i, n in enumerate(names)
    ]
    c_cols = [
        cases[n][0]().cast("string").alias(f"c_{i}")
        for i, n in enumerate(names)
    ]
    mismatches = []
    for r in parsed.select(*t_cols, *c_cols).collect():
        for i, n in enumerate(names):
            if r[f"t_{i}"] != r[f"c_{i}"]:
                mismatches.append((n, r[f"t_{i}"], r[f"c_{i}"]))
    assert not mismatches, mismatches[:5]


def test_twin_work_keys_parity(spark, parsed):
    a = parsed.select(MARC.work_keys("marc").cast("string").alias("v"))
    b = parsed.select(
        MARC._work_keys(F.col("marc")).cast("string").alias("v")
    )
    assert [r["v"] for r in a.collect()] == [r["v"] for r in b.collect()]


def test_solr_frame_golden(spark, parsed):
    """The whole ``to_solr_columns`` frame over RECORDS, one digest per
    row. The key carries a hash of the output column list in order, so
    the frame's column order is pinned with its values; the hidden
    shared-subtree columns and the call-number UDF columns are covered
    through the outputs that read them."""
    import hashlib

    out = MARC.to_solr_columns(parsed, "marc")
    order = hashlib.sha256(",".join(out.columns).encode()).hexdigest()[:12]
    assert_golden(
        f"marc_solr_frame#{order}", collect_rows(out, "marc", "fullrecord")
    )


def test_twin_id_prefix(spark, parsed):
    out = MARC.to_solr_columns(parsed, "marc", id_prefix="src", only=["id"])
    ids = sorted(r["id"] for r in out.select("id").collect())
    # "src." is the 001-less Koha record (999$c ids are a renormalize
    # setting, not a to_solr_columns default) — prefix + empty 001.
    assert ids == ["src.", "src.rec1", "src.rec2", "src.rec3", "src.rec4"]


def test_twin_is_the_default_path(spark, parsed):
    """to_solr_columns routes its columns through F.expr (the twin) —
    pin by checking a cold-cache build yields the expected values."""
    MARC._SOLR_COLS_CACHE.clear()
    out = MARC.to_solr_columns(parsed, "marc", only=["title", "isbn"])
    vals = out.select("title", F.array_join("isbn", "|").alias("i")).collect()
    assert vals[0]["title"] == "The Title : subtitle / Part 1."
    assert vals[0]["i"] == "9780306406157"


def test_sqlalg_literal_escaping(spark):
    """Control chars, quotes, backslashes and unicode survive the SQL
    literal round trip byte-for-byte."""
    import recordmanager_spark.sqlalg as SA

    samples = [
        "a'b", "a\\b", "a\\'b", "tab\there", "nl\nthere", "nul\x00x",
        "käsekuchen", "Тайтл", "ひらがな", "[^a-z0-9]+", "\\p{P}+",
        "(?i)(?<! .)\\.\\z",
    ]
    cols = [F.expr(str(SA.lit(s))).alias(f"c{i}") for i, s in enumerate(samples)]
    row = spark.range(1).select(*cols).collect()[0]
    for i, s in enumerate(samples):
        assert row[f"c{i}"] == s, (row[f"c{i}"], s)


def test_sqlalg_case_when_chain(spark):
    import recordmanager_spark.sqlalg as SA

    x = SA.col("id")
    e = SA.when(x == 0, "zero").when(x == 1, "one").otherwise("many")
    rows = spark.range(3).select(F.expr(str(e)).alias("v")).collect()
    assert [r["v"] for r in rows] == ["zero", "one", "many"]


def test_twin_normalize_key_parity(spark):
    """keys.py twin: the table fold (incl. kana + Cyrillic paths) matches
    the Column build on non-Latin input."""
    import recordmanager_spark.functions.keys as K

    ktw = TW.keys_twin()
    samples = [
        "Tämä on Österreich", "Щедрик два", "ひらがな ノ題", "Mixed Тест x",
        "plain ascii!", "", None,
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    a = df.select(F.expr(str(ktw.normalize_key(S.col("s")))).alias("v"))
    b = df.select(K.normalize_key(F.col("s")).alias("v"))
    assert [r["v"] for r in a.collect()] == [r["v"] for r in b.collect()]


def test_parser_conf_pinned_and_asserted(spark):
    """The session factory pins escapedStringLiterals=false (ADVICE r6)
    and assert_parser_conf fails fast under the legacy mode."""
    from recordmanager_spark import sqlalg as SA

    assert spark.conf.get("spark.sql.parser.escapedStringLiterals") == "false"
    SA.assert_parser_conf(spark)  # no raise
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        import pytest

        with pytest.raises(RuntimeError, match="escapedStringLiterals"):
            SA.assert_parser_conf(spark)
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")


# (name, builder over a functions module, hand-parenthesized text, compare
# values). Each builder runs once against sqlalg and once against
# pyspark.sql.functions; the rendered text must parse to the same tree as
# the fully parenthesized text, and evaluate to the same values as the
# Column build.
_PAREN_CASES = [
    ("and-left", lambda M: M.col("p") & M.col("q") & M.col("r") & M.col("t"),
     "((p AND q) AND r) AND t", True),
    ("and-right", lambda M: M.col("p") & (M.col("q") & (M.col("r") & M.col("t"))),
     "p AND (q AND (r AND t))", True),
    ("or-left", lambda M: M.col("p") | M.col("q") | M.col("r") | M.col("t"),
     "((p OR q) OR r) OR t", True),
    ("or-right", lambda M: M.col("p") | (M.col("q") | (M.col("r") | M.col("t"))),
     "p OR (q OR (r OR t))", True),
    ("or-under-and", lambda M: (M.col("p") | M.col("q")) & (M.col("r") | M.col("t")),
     "(p OR q) AND (r OR t)", True),
    ("and-under-or", lambda M: (M.col("p") & M.col("q")) | (M.col("r") & M.col("t")),
     "(p AND q) OR (r AND t)", True),
    ("not-and", lambda M: ~(M.col("p") & M.col("q")), "NOT (p AND q)", True),
    ("not-or-and", lambda M: ~M.col("p") & ~(M.col("q") | M.col("r")),
     "(NOT p) AND (NOT (q OR r))", True),
    ("not-cmp", lambda M: ~(M.col("a") == 1), "NOT (a = 1)", True),
    ("not-isnull", lambda M: ~M.col("a").isNull(), "NOT (a IS NULL)", True),
    ("not-not", lambda M: ~~M.col("p"), "NOT (NOT p)", True),
    ("in-cmp", lambda M: (M.col("a") == 1).isin(True), "(a = 1) IN (true)", True),
    ("in-sum", lambda M: (M.col("a") + 1).isin(2, 3), "(a + 1) IN (2, 3)", True),
    ("rlike-cmp", lambda M: (M.col("a") == 1).rlike("t"), "(a = 1) RLIKE 't'", False),
    ("isnull-cmp", lambda M: (M.col("a") == 1).isNull(), "(a = 1) IS NULL", True),
    ("isnotnull-and", lambda M: (M.col("p") & M.col("q")).isNotNull(),
     "(p AND q) IS NOT NULL", True),
    ("cmp-isnull", lambda M: M.col("a").isNull() == M.col("p"),
     "(a IS NULL) = p", True),
    ("cmp-chain", lambda M: (M.col("a") == M.col("b")) == M.col("p"),
     "(a = b) = p", True),
    ("cmp-right", lambda M: M.col("p") == (M.col("a") < M.col("b")),
     "p = (a < b)", True),
    ("eq-null-safe", lambda M: M.col("a").eqNullSafe(M.col("b") + 1) & M.col("p"),
     "(a <=> (b + 1)) AND p", True),
    ("neg-sum", lambda M: -(M.col("a") + M.col("b")), "- (a + b)", True),
    ("neg-col", lambda M: -M.col("a") * M.col("b"), "(- a) * b", True),
    ("minus-neg-lit", lambda M: M.col("a") - (-M.lit(1)), "a - (- 1)", True),
    ("minus-neg-col", lambda M: M.col("a") - (-M.col("b")), "a - (- b)", True),
    ("neg-neg", lambda M: -(-M.col("a")), "- (- a)", True),
    ("sub-left", lambda M: M.col("a") - M.col("b") - M.col("c"), "(a - b) - c", True),
    ("sub-right", lambda M: M.col("a") - (M.col("b") - M.col("c")), "a - (b - c)", True),
    ("mul-over-add", lambda M: (M.col("a") + M.col("b")) * M.col("c"),
     "(a + b) * c", True),
    ("add-over-mul", lambda M: M.col("a") * M.col("b") + M.col("c") % 3,
     "(a * b) + (c % 3)", True),
    ("div-right", lambda M: M.col("a") / (M.col("b") * M.col("c")),
     "a / (b * c)", True),
    ("radd", lambda M: 1 - (M.col("a") + 2), "1 - (a + 2)", True),
    ("xor-cmp", lambda M: M.col("a").bitwiseXOR(M.col("b") + 1) == M.col("c"),
     "(a ^ (b + 1)) = c", True),
    ("field-composite", lambda M: (M.col("a") + M.col("b"))["f"], "(a + b).f", False),
    ("index-composite", lambda M: M.col("arr")[M.col("a") - 1], "arr[(a - 1)]", True),
    ("index-of-case",
     lambda M: M.when(M.col("p"), M.col("arr")).otherwise(M.array(M.col("b")))[0],
     "(CASE WHEN p THEN arr ELSE array(b) END)[0]", True),
    ("field-of-case",
     lambda M: M.when(M.col("p"), M.col("st")).otherwise(M.col("st"))["x"],
     "(CASE WHEN p THEN st ELSE st END).x", True),
    ("nested-case",
     lambda M: M.when(M.col("p"), M.when(M.col("q"), 1).otherwise(2))
     .when(M.col("r") & M.col("t"), M.when(M.col("a") > 1, 3))
     .otherwise(M.col("a") + 4) + 1,
     "(CASE WHEN p THEN (CASE WHEN q THEN 1 ELSE 2 END) "
     "WHEN (r AND t) THEN (CASE WHEN (a > 1) THEN 3 END) ELSE (a + 4) END) + 1",
     True),
    ("lambda-body",
     lambda M: M.filter(M.col("arr"), lambda x: (x > 1) & ~(x == 3)),
     "filter(arr, {v} -> (({v} > 1) AND (NOT ({v} = 3))))", True),
    ("cast-arg", lambda M: (M.col("a") + 1).cast("string").rlike("^[0-9]+$"),
     "CAST((a + 1) AS string) RLIKE '^[0-9]+$'", True),
]


def test_sqlalg_minimal_parens_same_tree(spark):
    """Minimal parentheses parse to the tree of the fully parenthesized
    text and evaluate like the Column build."""
    import itertools
    import re

    parser = spark._jsparkSession.sessionState().sqlParser()
    bools = [True, False, None]
    rows = [
        (p, q, r, t, a, b, c, [1, 2, 3, 4], {"x": a})
        for (p, q, r, t), (a, b, c) in zip(
            itertools.product(bools, repeat=4),
            itertools.cycle([(1, 2, 3), (3, 1, 2), (None, 5, 1), (2, 2, None)]),
        )
    ]
    df = spark.createDataFrame(
        rows,
        "p boolean, q boolean, r boolean, t boolean, a int, b int, c int, "
        "arr array<int>, st struct<x:int>",
    )
    for name, build, hand, values in _PAREN_CASES:
        text = str(build(S))
        if "{v}" in hand:  # lambda variables get generated names
            hand = hand.replace("{v}", re.search(r"V\d+", text).group())
        assert parser.parseExpression(text).equals(
            parser.parseExpression(hand)
        ), (name, text, hand)
        if values:
            got = df.select(F.expr(text).alias("v")).collect()
            want = df.select(build(F).alias("v")).collect()
            assert got == want, (name, text)

    pins = {
        "a = 1 AND b = 2": (S.col("a") == 1) & (S.col("b") == 2),
        "(p AND q) AND r": S.col("p") & S.col("q") & S.col("r"),
        "p AND (q AND r)": S.col("p") & (S.col("q") & S.col("r")),
        "p AND q OR r": S.col("p") & S.col("q") | S.col("r"),
        "NOT (p AND q)": ~(S.col("p") & S.col("q")),
        "NOT a IS NULL": ~S.col("a").isNull(),
        "a = 1 IN (true)": (S.col("a") == 1).isin(True),
        "- (a + b)": -(S.col("a") + S.col("b")),
        "a - - 1": S.col("a") - (-S.lit(1)),
        "(a + b).f": (S.col("a") + S.col("b"))["f"],
        "CASE WHEN a > 1 THEN 1 ELSE 2 END + 1":
            S.when(S.col("a") > 1, 1).otherwise(2) + 1,
    }
    for want, sa in pins.items():
        assert str(sa) == want
