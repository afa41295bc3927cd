"""ER-dedup tests: every matchRecords accept/reject rule, connected
components transitivity, and the one-record-per-source invariant
(DedupHandler semantics, SURVEY §2.10)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from recordmanager_spark.operators import dedup as DD

ARR = T.ArrayType(T.StringType())
SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("access_restrictions", T.StringType()),
        T.StructField("isbn", ARR),
        T.StructField("unique_ids", ARR),
        T.StructField("issn", ARR),
        T.StructField("publish_year", T.StringType()),
        T.StructField("page_count", T.IntegerType()),
        T.StructField("series_issn", T.StringType()),
        T.StructField("series_numbering", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("author", T.StringType()),
        T.StructField("_id", T.StringType()),
        T.StructField("source_id", T.StringType()),
    ]
)

BASE = dict(
    format="marc",
    access_restrictions=None,
    isbn=[],
    unique_ids=[],
    issn=[],
    publish_year="2000",
    page_count=100,
    series_issn=None,
    series_numbering=None,
    title="a common long book title",
    author="smith john",
)


def rec(_id, source_id, **over):
    d = dict(BASE, _id=_id, source_id=source_id)
    d.update(over)
    # dict rows map to the schema by field name, not position
    return d


def run_dedup(spark, rows, **kw):
    df = spark.createDataFrame(rows, SCHEMA)
    df = DD.with_dedup_keys(df, "title", "author", isbn_col=None)
    df = df.withColumn("isbn_keys", F.col("isbn"))
    out = DD.deduplicate(df, key_cols=["title_keys", "isbn_keys"], **kw)
    return {r["id"]: r["dedup_id"] for r in out.collect()}


def test_basic_match_and_group(spark):
    got = run_dedup(spark, [rec("a.1", "a"), rec("b.1", "b")])
    assert got == {"a.1": "a.1", "b.1": "a.1"}


def test_match_condition_twin_parity(spark):
    """The SQL-text-compiled matchRecords (with_match, the only verify
    path) must decide every pair exactly like the Column build of
    _match_parts normalizing per pair — adversarial cross
    product: nulls, array overlaps, year/page/issn conflicts, prefix
    authors, levenshtein band edges, unicode, empty strings."""
    import itertools

    from recordmanager_spark.functions.keys import normalize_key

    recs = [
        dict(BASE),
        dict(BASE, isbn=["9780306406157"], title="The quick brown fox"),
        dict(BASE, unique_ids=["u1"], issn=["1111-111x"], page_count=105,
             title="The quick brown fix", author="smith j"),
        dict(BASE, format="book", access_restrictions="x",
             issn=["2222-222x"], publish_year="2001", page_count=200,
             series_issn="s1", series_numbering="2",
             title="Völuspá éditions", author="Jónsdóttir Á"),
        dict(BASE, publish_year=None, page_count=None, series_issn="s1",
             series_numbering="3", title="", author=""),
        dict(BASE, isbn=["9780306406157"], unique_ids=["u1"],
             publish_year="1999", page_count=130,
             title="totally different title here", author="other author"),
        dict(BASE, format=None, page_count=None,
             title="the quick brown foxes run", author="smith john a"),
    ]
    fields = DD._VERIFY_FIELDS
    rows = [
        {**{f"a_{k}": ra[k] for k in fields}, **{f"b_{k}": rb[k] for k in fields}}
        for ra, rb in itertools.product(recs, recs)
    ]
    a_schema = T.StructType(
        [T.StructField(f"a_{f.name}", f.dataType) for f in SCHEMA.fields
         if f.name in fields]
        + [T.StructField(f"b_{f.name}", f.dataType) for f in SCHEMA.fields
           if f.name in fields]
    )
    df = spark.createDataFrame(rows, a_schema)
    pair = df.select(
        F.struct(*[F.col(f"a_{f}").alias(f) for f in fields]).alias("a"),
        F.struct(*[F.col(f"b_{f}").alias(f) for f in fields]).alias("b"),
    )
    # the reference normalizes per pair from the raw title/author; the
    # production tree reads the per-record keys the payload carries
    def per_pair(side):
        def field(n):
            if n.startswith("__nk_"):  # __nk_title -> normalize_key(title)
                return normalize_key(F.col(f"{side}.{n[len('__nk_'):]}"))
            return F.col(f"{side}.{n}")

        return field

    col_parts = DD._match_parts(per_pair("a"), per_pair("b"))
    keyed = pair.select(
        *[
            F.struct(
                F.col(f"{s}.*"),
                normalize_key(F.col(f"{s}.title")).alias("__nk_title"),
                normalize_key(F.col(f"{s}.author")).alias("__nk_author"),
            ).alias(s)
            for s in ("a", "b")
        ]
    )
    out = DD.with_match(keyed).select(
        DD._match_of(col_parts.get).alias("c"), F.col("__match").alias("t")
    ).collect()
    assert [r["c"] for r in out] == [r["t"] for r in out]


def test_match_condition_sql_is_small():
    """matchRecords reads the per-record __nk_ keys, so its SQL carries
    no normalize_key tree: normalizing per pair inlined normalize_key
    and its kana map four times (~97 KiB of SQL to parse per plan)."""
    from recordmanager_spark import sqlalg as SA
    from recordmanager_spark import sqltwin

    parts = sqltwin.dedup_twin()._match_parts(
        lambda n: SA.col(f"a.{n}"), lambda n: SA.col(f"b.{n}")
    )
    size = sum(len(str(v)) for v in parts.values())
    assert size <= 4 * 1024, size


def test_same_source_never_pairs(spark):
    got = run_dedup(spark, [rec("a.1", "a"), rec("a.2", "a")])
    assert got == {}


@pytest.mark.parametrize(
    "perturb,matches",
    [
        (dict(publish_year="2001"), False),  # year mismatch rejects
        (dict(page_count=150), False),  # pages diff > 10 rejects
        (dict(page_count=105), True),  # pages diff <= 10 ok
        (dict(issn=["2222-2222"]), True),  # only one side has ISSN -> ok
        (dict(format="dc"), False),  # format mismatch
        (dict(access_restrictions="restricted"), False),
        (dict(series_numbering="v.2"), True),  # other side null -> ok
        # Both of these share the blocking key "acommonlongbooktitle"
        # (createTitleKey stops after the 4th long word), so they reach
        # pairwise verification; an edit INSIDE the key prefix (e.g.
        # "titles") would change the key and never block-match — true of
        # the reference too (DedupHandler probes title_keys by equality).
        (dict(title="a common long book title vol 2"), False),  # >=10% lev
        (dict(title="a common long book title x"), True),  # <10% lev ok
        (dict(author="jones john"), False),  # author mismatch
    ],
)
def test_match_rules(spark, perturb, matches):
    rows = [rec("a.1", "a"), rec("b.1", "b", **perturb)]
    got = run_dedup(spark, rows)
    assert (got == {"a.1": "a.1", "b.1": "a.1"}) == matches


def test_isbn_intersect_overrides_year_reject(spark):
    # reference accepts on ISBN intersection before the year check
    rows = [
        rec("a.1", "a", isbn=["9780306406157"]),
        rec("b.1", "b", isbn=["9780306406157"], publish_year="1999"),
    ]
    got = run_dedup(spark, rows)
    assert got == {"a.1": "a.1", "b.1": "a.1"}


def test_issn_disjoint_rejects(spark):
    rows = [
        rec("a.1", "a", issn=["1111-1111"]),
        rec("b.1", "b", issn=["2222-2222"]),
    ]
    assert run_dedup(spark, rows) == {}


def test_transitive_components(spark):
    # a-b match and b-c match (c in third source) -> one group of 3
    rows = [
        rec("a.1", "a"),
        rec("b.1", "b"),
        rec("c.1", "c"),
    ]
    got = run_dedup(spark, rows)
    assert got == {"a.1": "a.1", "b.1": "a.1", "c.1": "a.1"}


def test_one_per_source_invariant(spark):
    # two same-source records both matching a record from another source:
    # only one per source stays in the group
    rows = [
        rec("a.1", "a"),
        rec("a.2", "a"),
        rec("b.1", "b"),
    ]
    got = run_dedup(spark, rows)
    grouped = {k: v for k, v in got.items() if v is not None}
    members = [k for k in grouped if grouped[k] is not None]
    sources = [m.split(".")[0] for m in members]
    assert len(sources) == len(set(sources)), f"one-per-source violated: {got}"
    assert "b.1" in grouped


def test_blocking_candidate_cap(spark):
    # a poison key shared by many records is truncated, not exploded
    rows = [rec(f"a.{i}", "a") for i in range(5)] + [rec(f"b.{i}", "b") for i in range(5)]
    df = spark.createDataFrame(rows, SCHEMA)
    df = DD.with_dedup_keys(df, "title", "author", isbn_col=None)
    pairs = DD.blocking_pairs(df, ["title_keys"], candidates_per_key=4)
    # only 4 records survive per key -> at most C(4,2) cross-source pairs
    assert pairs.count() <= 6


def test_verify_frame_marc_and_dc_shapes(spark):
    """verify_frame lands any extractor's wide frame on the one field
    battery: exactly (_id, source_id, *_VERIFY_FIELDS), array fields as
    string arrays, the rest as trimmed strings."""
    marc = spark.createDataFrame(
        [("m1", "a", ["Book", "eBook"], None, ["9780306406157"],
          ["(OCoLC)1"], [], [" 1999 "], "120", " ", ["3"], " A title ",
          [], "dropped")],
        "_id string, source_id string, format array<string>, "
        "access_restrictions string, isbn array<string>, "
        "unique_ids array<string>, issn array<string>, "
        "publish_year array<string>, page_count string, series_issn string, "
        "series_numbering array<string>, title string, "
        "author array<string>, extra string",
    )
    # DC: scalars only, publishDate for the year, no page_count/series_*
    dc = spark.createDataFrame(
        [("d1", "b", "Text", "123", "2001", "T", "Jones"),
         ("d2", "b", " ", None, None, None, None)],
        "_id string, source_id string, format string, isbn string, "
        "publishDate string, title string, author string",
    )
    arrays = {"isbn", "unique_ids", "issn"}
    want_types = [("_id", "string"), ("source_id", "string")] + [
        (f, "array<string>" if f in arrays else "string")
        for f in DD._VERIFY_FIELDS
    ]
    none = dict.fromkeys(
        ["access_restrictions", "publish_year", "page_count",
         "series_issn", "series_numbering"]
    )
    empty = {"isbn": [], "unique_ids": [], "issn": []}
    want = {
        "m1": dict(none, _id="m1", source_id="a", format="Book",
                   isbn=["9780306406157"], unique_ids=["(OCoLC)1"], issn=[],
                   publish_year="1999", page_count="120",
                   series_numbering="3", title="A title", author=""),
        "d1": dict(none, **empty, _id="d1", source_id="b", format="Text",
                   publish_year="2001", title="T", author="Jones"),
        "d2": dict(none, **empty, _id="d2", source_id="b", format="",
                   title="", author=""),
    }
    for wide in (marc, dc):
        out = DD.verify_frame(wide)
        assert out.columns == ["_id", "source_id", *DD._VERIFY_FIELDS]
        assert out.dtypes == want_types
        for r in out.collect():
            assert r.asDict() == want[r["_id"]]


def _marc_json(rec_id, title, author, isbn):
    import json

    def df(tag, subs):
        return {tag: {"ind1": " ", "ind2": " ",
                      "subfields": [{k: v} for k, v in subs]}}

    return json.dumps({
        "leader": "00000cam a22000004i 4500",
        "fields": [
            {"001": rec_id},
            {"008": "970101s1999    xxua               eng d"},
            df("020", [("a", isbn)]),
            df("100", [("a", author)]),
            df("245", [("a", title)]),
        ],
    })


def test_blocking_payload_computed_once(spark, tmp_path):
    """The edge pass materialises the per-record payload once: its
    executed plan reads the checkpoint, never the store again, and never
    re-runs the MARC parse UDF (the size census, the join-back and both
    capped branches would each re-extract otherwise)."""
    from recordmanager_spark import cli

    rows = [
        ("a1", "a", _marc_json("a1", "Shared chronicle", "Writer, W.",
                               "0-306-40615-2")),
        ("a2", "a", _marc_json("a2", "Only in a", "Other, O.", "")),
        ("b1", "b", _marc_json("b1", "Shared chronicle", "Writer, W.",
                               "9780306406157")),
        ("b2", "b", _marc_json("b2", "Only in b", "Third, T.", "")),
    ]
    path = str(tmp_path / "records")
    spark.createDataFrame(
        rows, "_id string, source_id string, original_data string"
    ).write.parquet(path)
    keyed = DD.with_dedup_keys(
        DD.verify_frame(cli.extract_wide(spark.read.parquet(path), "marc")),
        title_col="title", author_col="author", isbn_col="isbn",
    )
    edges = DD.blocking_verified_edges(
        keyed, ["isbn_keys", "title_keys"], distinct=False
    )
    assert {(r["id_a"], r["id_b"]) for r in edges.collect()} == {("a1", "b1")}
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "FileScan" not in plan
