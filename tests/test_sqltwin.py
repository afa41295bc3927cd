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

The rendering rules of ``sqlalg`` are pinned here too: minimal
parentheses, quoted keyword-form names and ``CASE true WHEN`` each give
the parsed tree or optimized plan of the plain spelling,
``test_twin_sll_lookahead_ratchet`` caps how far ahead the parser's
prediction reads in any production tree, and
``test_twin_trees_bind_repeats`` keeps every repeated subtree of 1 KiB
or more out of them.
"""

from __future__ import annotations

import collections
import json
import re

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


def test_parser_conf_pinned(spark):
    """The session factory pins escapedStringLiterals=false (ADVICE r6),
    the parser mode the twin-compiled literals assume."""
    assert spark.conf.get("spark.sql.parser.escapedStringLiterals") == "false"


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
     "(CASE true WHEN p THEN arr ELSE array(b) END)[0]", True),
    ("field-of-case",
     lambda M: M.when(M.col("p"), M.col("st")).otherwise(M.col("st"))["x"],
     "(CASE true WHEN p THEN st ELSE st END).x", True),
    ("nested-case",
     lambda M: M.when(M.col("p"), M.when(M.col("q"), 1).otherwise(2))
     .when(M.col("r") & M.col("t"), M.when(M.col("a") > 1, 3))
     .otherwise(M.col("a") + 4) + 1,
     "(CASE true WHEN p THEN (CASE true WHEN q THEN 1 ELSE 2 END) "
     "WHEN (r AND t) THEN (CASE true WHEN (a > 1) THEN 3 END) "
     "ELSE (a + 4) END) + 1",
     True),
    ("lambda-body",
     lambda M: M.filter(M.col("arr"), lambda x: (x > 1) & ~(x == 3)),
     "filter(arr, {v} -> (({v} > 1) AND (NOT ({v} = 3))))", True),
    ("cast-arg", lambda M: (M.col("a") + 1).cast("string").rlike("^[0-9]+$"),
     "CAST((a + 1) AS string) RLIKE '^[0-9]+$'", True),
    # keyword-form names render quoted and parse as the plain call
    ("trim-quoted", lambda M: M.trim(M.col("a").cast("string")),
     "trim(CAST(a AS string))", True),
    ("substring-quoted", lambda M: M.substring(M.col("a").cast("string"), 1, 2),
     "substring(CAST(a AS string), 1, 2)", True),
    ("substr-quoted", lambda M: M.col("a").cast("string").substr(2, 1),
     "substring(CAST(a AS string), 2, 1)", True),
    # expr() text is parenthesized only under an operator
    ("expr-operand", lambda M: M.expr("a + 1") * M.col("b"), "(a + 1) * b", True),
    ("expr-call-arg", lambda M: M.coalesce(M.expr("a + 1"), M.col("b")),
     "coalesce((a + 1), b)", True),
]


@pytest.fixture(scope="module")
def grid(spark):
    """Every combination of three-valued p, q, r, t beside small ints."""
    import itertools

    bools = [True, False, None]
    rows = [
        (p, q, r, t, a, b, c, [1, 2, 3, 4], {"x": a})
        for (p, q, r, t), (a, b, c) in zip(
            itertools.product(bools, repeat=4),
            itertools.cycle([(1, 2, 3), (3, 1, 2), (None, 5, 1), (2, 2, None)]),
        )
    ]
    return spark.createDataFrame(
        rows,
        "p boolean, q boolean, r boolean, t boolean, a int, b int, c int, "
        "arr array<int>, st struct<x:int>",
    )


def test_sqlalg_minimal_parens_same_tree(spark, grid):
    """Minimal parentheses parse to the tree of the fully parenthesized
    text and evaluate like the Column build."""
    import re

    parser = spark._jsparkSession.sessionState().sqlParser()
    df = grid
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
        "CASE true WHEN a > 1 THEN 1 ELSE 2 END + 1":
            S.when(S.col("a") > 1, 1).otherwise(2) + 1,
        "`trim`(a)": S.trim(S.col("a")),
        "`substring`(a, 1, 2)": S.col("a").substr(1, 2),
        "coalesce(a + 1, b)": S.coalesce(S.expr("a + 1"), S.col("b")),
    }
    for want, sa in pins.items():
        assert str(sa) == want


# (name, builder over a functions module). The twin renders each CASE as
# ``CASE true WHEN c``; over the nullable booleans of ``grid`` its
# optimized plan must equal the searched ``CASE WHEN c`` spelling's, and
# its values the Column build's.
_CASE_TRUE_CASES = [
    ("top-level",
     lambda M: M.when(M.col("p"), M.col("a"))
     .when(M.col("q") | M.col("r"), 2).otherwise(M.col("b"))),
    ("no-else", lambda M: M.when(M.col("p") & M.col("q"), M.col("a"))),
    ("nested",
     lambda M: M.when(M.col("p"), M.when(M.col("q"), 1).otherwise(2))
     .when(~M.col("t"), M.when(M.col("a") > 1, 3))
     .otherwise(M.col("a") + 4) + 1),
    ("lambda-body",
     lambda M: M.transform(
         M.col("arr"),
         lambda x: M.when(x > M.col("a"), x).when(M.col("p"), 0).otherwise(-x),
     )),
]


def test_sqlalg_case_true_when_same_optimized_plan(spark, grid):
    """``CASE true WHEN`` optimizes to the searched form's plan (the
    optimizer removes ``true = c``) and evaluates like ``F.when``."""
    for name, build in _CASE_TRUE_CASES:
        text = str(build(S))
        assert "CASE true WHEN" in text, (name, text)
        searched = text.replace("CASE true WHEN", "CASE WHEN")
        got, ref = (
            grid.select(F.expr(t).alias("v"))._jdf.queryExecution()
            .optimizedPlan()
            for t in (text, searched)
        )
        assert got.sameResult(ref), (name, got.toString(), ref.toString())
        want = grid.select(build(F).alias("v")).collect()
        assert grid.select(F.expr(text).alias("v")).collect() == want, name


def _production_trees(spark, monkeypatch) -> dict[str, str]:
    """name -> SQL text of every twin tree production parses: the
    ``to_solr_columns`` columns with their hidden placeholders, the
    call-number argument trees, work keys, the renormalize derivations
    (every host / linking variant) and, recorded as ``deduplicate``
    hands them to ``F.expr``, the dedup key, normalize_key payload and
    matchRecords trees."""
    import recordmanager_spark.operators.dedup as D

    tw = TW.marc_twin()
    m, tm = S.col("marc"), S.col("__marc")
    memo = {"__src": "marc", "__hide__": True}
    trees = {
        f"solr.{n}": str(b())
        for n, b in tw._solr_col_builders(m, None, memo).items()
    }
    trees.update(
        (f"hidden.{h}", t) for h, t in memo.get("__hidden__", {}).items()
    )
    trees.update(
        (f"callnumber.{k}", str(v))
        for k, v in tw._callnumber_pure_exprs(m).items()
    )
    trees["work_keys"] = str(tw._work_keys(m))
    renorm = {
        "title": tw.marc_title(tm),
        "title_filing": tw.marc_title(tm, for_filing=True),
        "author": tw.marc_main_author(tm),
        "format_977": tw.first_subfield(tm, "977", "a"),
        "isbns": tw.marc_isbns(tm),
        "unique_ids": S.transform(
            tw.marc_unique_ids(tm), lambda k: S.substring(k, 1, 200)
        ),
    }
    for p3 in (False, True):
        renorm[f"hosts_p3={p3}"] = tw.marc_host_record_ids(tm, prepend_003=p3)
        for i9 in (False, True):
            renorm[f"linking_p3={p3}_i9={i9}"] = tw.linking_ids(
                tm, prepend_003=p3, id_in_999=i9
            )
    trees.update((f"renormalize.{k}", str(v)) for k, v in renorm.items())

    seen: list[str] = []
    expr = F.expr
    monkeypatch.setattr(F, "expr", lambda s: seen.append(s) or expr(s))
    empty = F.lit(None).cast("string")
    D.with_dedup_keys(
        spark.range(0).select(
            empty.alias("title"), empty.alias("author"),
            F.array(empty).alias("isbn"),
        )
    )
    D._match_payload()
    D.match_columns()
    monkeypatch.undo()
    trees.update((f"dedup.{i}", t) for i, t in enumerate(seen))
    return trees


# The longest SLL lookahead any production tree may make the parser read,
# in tokens: the parenthesized authorMatch disjunction that opens
# matchRecords' ``__m_author`` part. Keyword-form calls (``trim(``,
# ``substring(``), searched ``CASE WHEN`` and ``map(`` as an argument each
# read to the end of their call, which took ``format`` to 10,926 tokens;
# the whole matchRecords decision in one tree read 942, and the conflict
# and similarity checks as one part read 453.
_MAX_SLL_LOOK = 300


def _sll_max_look(spark, text: str) -> tuple[int, str]:
    """Parse ``text`` as Spark's first (SLL) stage does, with ANTLR's
    profiler on; return the longest lookahead of any decision and the
    rule it belongs to."""
    from py4j.java_gateway import get_field

    jvm = spark._jvm
    P = jvm.org.apache.spark.sql.catalyst.parser
    A = jvm.org.antlr.v4.runtime

    def scala_object(name):
        return getattr(getattr(P, name + "$"), "MODULE$")

    # the lexer and parser set-up of Spark's AbstractParser.parse
    lexer = P.SqlBaseLexer(
        P.UpperCaseCharStream(A.CharStreams.fromString(text))
    )
    lexer.removeErrorListeners()
    lexer.addErrorListener(scala_object("ParseErrorListener"))
    tokens = A.CommonTokenStream(lexer)
    parser = P.SqlBaseParser(tokens)
    scala_object("AbstractParser").configureParser(
        parser, text, tokens, jvm.org.apache.spark.sql.internal.SqlApiConf.get()
    )
    parser.setErrorHandler(P.SparkParserBailErrorStrategy())
    parser.setProfile(True)
    parser.getInterpreter().setPredictionMode(A.atn.PredictionMode.SLL)
    parser.singleExpression()
    assert parser.getNumberOfSyntaxErrors() == 0
    look, decision = max(
        (get_field(d, "SLL_MaxLook"), get_field(d, "decision"))
        for d in parser.getParseInfo().getDecisionInfo()
    )
    state = parser.getATN().getDecisionState(decision)
    return look, P.SqlBaseParser.ruleNames[get_field(state, "ruleIndex")]


def test_twin_sll_lookahead_ratchet(spark, monkeypatch):
    """Every production twin tree parses in SLL mode without error, and
    no decision reads more than ``_MAX_SLL_LOOK`` tokens ahead: ANTLR
    keeps the DFA it builds for a long lookahead for the life of the
    JVM, so lookahead costs parse time and retained heap."""
    over = {}
    for name, text in _production_trees(spark, monkeypatch).items():
        look, rule = _sll_max_look(spark, text)
        if look > _MAX_SLL_LOOK:
            over[name] = (look, rule)
    assert not over, over


# Text of a string literal, a quoted name, or a lambda variable name.
_SQL_TOKEN = re.compile(r"'(?:\\.|[^'\\])*'|`[^`]*`|\bV\d+\b")


def _repeated_subtrees(text: str, min_len: int = 1024) -> dict[str, int]:
    """Parenthesized spans of ``text`` at least ``min_len`` characters
    long that occur more than once, with lambda variables renamed in
    order of first appearance (the twin names each lambda afresh, so two
    copies of one subtree differ only in those names) -> count."""
    spans, stack, i = [], [], 0
    while i < len(text):
        ch = text[i]
        if ch == "'":
            i += 1
            while text[i] != "'":
                i += 2 if text[i] == "\\" else 1
        elif ch == "`":
            i = text.index("`", i + 1)
        elif ch == "(":
            stack.append(i)
        elif ch == ")":
            start = stack.pop()
            if i + 1 - start >= min_len:
                spans.append(text[start:i + 1])
        i += 1

    counts = collections.Counter(_canonical(sp) for sp in spans)
    return {k: n for k, n in counts.items() if n > 1}


def _canonical(text: str) -> str:
    """``text`` with its lambda variables renamed V0, V1, ... in order of
    first appearance: the twin numbers them from a process-wide counter,
    so the raw text of a tree grows with every lambda built before it."""
    names: dict[str, str] = {}
    return _SQL_TOKEN.sub(
        lambda m: m.group() if m.group()[0] in "'`"
        else names.setdefault(m.group(), f"V{len(names)}"),
        text,
    )


# Total SQL text of the production trees, in KiB: 295.6 over 81 trees
# when repeated values were written out at every reference; 168.4 over
# 86 once they were bound, lambda variables numbered per tree.
_MAX_TREES_KIB = 169


def test_twin_trees_bind_repeats(spark, monkeypatch):
    """No production tree writes the same subtree of 1 KiB or more twice:
    a value read more than once is bound once (``keys.let1``), because
    every copy is parsed, analysed, optimized and evaluated again. The
    trees together, lambda variables numbered per tree, stay under
    ``_MAX_TREES_KIB``."""
    trees = _production_trees(spark, monkeypatch)
    repeated = {}
    for name, text in trees.items():
        rep = _repeated_subtrees(text)
        if rep:
            top = max(rep, key=len)
            repeated[name] = (len(top), rep[top], top[:120])
    assert not repeated, repeated
    total = sum(len(_canonical(t)) for t in trees.values()) / 1024
    assert total <= _MAX_TREES_KIB, total


def test_repeated_subtrees_finds_renamed_copies():
    """The repeat census sees through lambda-variable names and string
    literals: two renders of one spec repeat, two different ones do
    not, and a parenthesis inside a literal is not a span."""
    big = "x" * 1100

    def tree():
        return S.transform(S.col("arr"), lambda v: S.concat(v, S.lit(big)))

    rep = _repeated_subtrees(str(S.array(tree(), tree())))
    assert rep and set(rep.values()) == {2}
    other = S.transform(S.col("arr"), lambda v: S.concat(v, S.lit(big + "y")))
    assert _repeated_subtrees(str(S.array(tree(), other))) == {}
    assert _repeated_subtrees(str(S.array(S.lit("(" + big), S.lit("(" + big)))) == {}
