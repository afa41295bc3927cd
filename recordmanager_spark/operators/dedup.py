"""Entity-resolution deduplication: blocking join + pairwise verification +
connected components + one-per-source invariant.

Reference: Deduplication/DedupHandler.php — the crown operator.
- Key generation :313-370 (title_keys / isbn_keys / id_keys, 200-char cap)
- Blocking search :413-545 (key ∈ candidates from *other* sources, caps
  101 fetch / 1000 verify to bound hot keys)
- Pairwise verification matchRecords :742-985
- Group maintenance :1089-1242 (≤1 record per source per group)

Spark-first re-expression: the reference probes a DB index per record
(sequential, the one phase it can't parallelize). Here the whole phase is
ONE exploded-key self-join + an iterative small-diameter connected
components, which is the standard distributed-ER shape and parallelizes
to any cluster size:

  records --explode keys--> (key, id, source)   [scan stage]
       self-join on key, source_a != source_b, id_a < id_b   [1 shuffle]
       per-key candidate cap via row_number (hot-key bound = skew bound)
       pairwise verify as a Column expression (levenshtein is built-in)
       connected components over surviving edges  [O(log n) small joins]
       one-per-source enforcement (keep earliest per source per component)

Divergence note (SURVEY §7.4): the reference assigns groups greedily in
arrival order; batch CC yields the transitive closure, compared as a set
partition in tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from recordmanager_spark.sparkcompat import try_element_at

from .. import sqlalg as SA
from .. import sqltwin
from ..functions.keys import author_match_expr

# ---------------------------------------------------------------------------
# Key generation (DedupHandler.php:313-370)
# ---------------------------------------------------------------------------


def _local_string_df(spark, rows, cols: list[str]) -> DataFrame:
    """Driver rows -> DataFrame via Arrow (one bulk conversion).

    ``createDataFrame(list_of_tuples)`` parallelizes the rows and re-runs
    the Python-side row conversion in workers on EVERY downstream job
    (~4s per action for a 28k-row assignment); the pandas/Arrow path
    converts once and lands a JVM-side relation, so later counts/joins
    never touch Python again.
    """
    import pandas as pd

    schema = ", ".join(f"{c} string" for c in cols)
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=cols), schema=schema
    )


def with_dedup_keys(
    df: DataFrame,
    title_col: str = "title",
    author_col: str = "author",
    isbn_col: str | None = "isbn",
    ignore_keys: list[str] | None = None,
) -> DataFrame:
    """Add title_keys / isbn_keys columns. title key = createTitleKey(title)
    + normalizeKey(author), capped at 200 chars; poison keys from the
    configurable ignore list are dropped (DedupHandler.php:1036-1079).

    The key expressions compile through the SQL-text twin (one
    ``F.expr`` parse instead of hundreds of py4j Column-constructor
    round trips — see PERFORMANCE.md construction census).
    """
    ktw = sqltwin.keys_twin()
    # createTitleKey's prefix and the author, normalized by ONE
    # transform: normalize_key is a multi-KB tree
    prefix = SA.substring(ktw.title_key_prefix(SA.col(title_col)), 1, 200)
    tk = F.expr(
        str(
            ktw.let1(
                SA.transform(
                    SA.array(prefix, SA.col(author_col)), ktw.normalize_key
                ),
                lambda k: SA.substring(
                    SA.concat(SA.try_element_at(k, 1), SA.try_element_at(k, 2)),
                    1,
                    200,
                ),
            )
        )
    )
    isbn_keys = (
        F.expr(
            str(
                SA.array_distinct(
                    SA.filter(
                        SA.transform(SA.col(isbn_col), ktw.normalize_isbn),
                        lambda x: x != "",
                    )
                )
            )
        )
        if isbn_col is not None
        else None
    )
    out = df.withColumn("title_keys", F.array(tk))
    if isbn_keys is not None:
        out = out.withColumn("isbn_keys", isbn_keys)
    if ignore_keys:
        bad = F.array(*[F.lit(k) for k in ignore_keys])
        for c in ("title_keys", "isbn_keys"):
            if c in out.columns:
                out = out.withColumn(
                    c, F.filter(F.col(c), lambda x: ~F.array_contains(bad, x))
                )
    return out


# ---------------------------------------------------------------------------
# Blocking join
# ---------------------------------------------------------------------------


def _capped_key_groups(
    keys: DataFrame, member: Column, member_id: str, cap: int
) -> DataFrame:
    """(key, __c) with __c = the key's sorted candidate array, truncated
    to ``cap`` members with BOUNDED aggregation state.

    Keys within the cap collect exactly; over-cap keys contribute the
    min member per md5 salt slot of the member id — <= cap
    representatives picked with O(1) state per (key, slot) group, so no
    final-aggregation buffer ever holds a poison key's full membership
    (collect_list partials CONCATENATE — the r6 ADVICE buffer hazard —
    so slice-after-collect is not a bound).

    Census join-back route (the operators/bucket_pairs.py shape, folded
    here in r9 — the r7 anti/semi prefilter pair re-scanned the corpus
    and re-ran the key-generation expressions once per branch): the
    size census is a map-side-combinable count on its own pruned
    exchange; it joins back CO-PARTITIONED on the key (shuffle_hash —
    never broadcast: one census row per key is corpus-sized at 100 TB),
    the small/big branches are plain ``__n`` filters on the joined
    rows, and both branch aggregations inherit the key partitioning
    exchange-free. The member payload (two normalize_key trees per
    record) is computed and shuffled exactly once. The small-branch
    collect_list buffer stays <= cap because over-cap rows are routed
    away BEFORE the aggregation, not sliced after it.

    struct comparison orders by field position — callers put the id
    first so array_sort / min keep the reference's smallest-id
    determinism."""
    from .bucket_pairs import salt_slot

    m = keys.select("key", member.alias("m"))
    sizes = m.groupBy("key").agg(F.count(F.lit(1)).alias("__n"))
    routed = m.join(sizes.hint("shuffle_hash"), "key")
    small_g = (
        routed.where(F.col("__n") <= cap)
        .groupBy("key")
        .agg(F.array_sort(F.collect_list("m")).alias("__c"))
    )
    # min_by on the member id equals the old min-over-struct pick (ids
    # are unique and lead the struct) but plans as a HashAggregate
    # instead of Sort + SortAggregate.
    reps = (
        routed.where(F.col("__n") > cap)
        .groupBy("key", salt_slot(f"m.{member_id}", cap).alias("__slot"))
        .agg(F.min_by("m", F.col(f"m.{member_id}")).alias("m"))
    )
    big_g = reps.groupBy("key").agg(
        F.array_sort(F.collect_list("m")).alias("__c")
    )
    return small_g.unionByName(big_g)


def blocking_pairs(
    df: DataFrame,
    key_cols: list[str],
    id_col: str = "_id",
    source_col: str = "source_id",
    candidates_per_key: int = 101,
) -> DataFrame:
    """Candidate pairs: records from different sources sharing any blocking
    key. Returns (id_a, id_b) with id_a < id_b, deduped across keys.

    Skew control: keys shared by more than ``candidates_per_key`` records
    are truncated per the reference's fetch cap (DedupHandler.php:466-467) —
    the row_number bound keeps a poison key ("annual report") from turning
    into an O(n²) partition on one executor.
    """
    allkeys = F.concat(
        *[
            F.coalesce(F.col(k), F.array().cast("array<string>"))
            for k in key_cols
            if k in df.columns
        ]
    )
    keys = df.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        F.explode(allkeys).alias("key"),
    ).where(F.col("key") != "")
    # Group each key's (sorted, capped) candidate list and generate the
    # cross pairs in-partition with array expressions; the former shape
    # (window row_number + self-join on key) shuffled the exploded keys
    # three times. The cap itself is BOUNDED-STATE (r7): collect_list's
    # partial aggregates concatenate, so slicing AFTER a collect still
    # ships a poison key's full membership into one final-agg buffer —
    # instead over-cap keys are prefiltered (tiny big-key census) and
    # their ~cap candidates picked as the min member per md5 salt slot
    # (O(1) agg state). Candidate SEMANTICS stay the reference's
    # truncation (DedupHandler.php:466-467 bounds work on poison keys —
    # these are weak keys, so completeness has no recall value, unlike
    # the LSH buckets in operators/bucket_pairs.py): <= cap members
    # considered, <= cap²/2 pairs per key; only WHICH members survive an
    # over-cap key changes (salted-min instead of 101-smallest — the
    # reference's own pick is DB-order-dependent).
    grouped = _capped_key_groups(
        keys, F.struct("id", "source"), "id", candidates_per_key
    )
    # sorted list + (i, j>i) generation keeps id_a < id_b without a filter
    pair_arrays = F.filter(
        F.flatten(
            F.transform(
                F.col("__c"),
                lambda x, i: F.transform(
                    F.slice(F.col("__c"), i + 2, candidates_per_key),
                    lambda y: F.when(
                        x["source"] != y["source"],
                        F.struct(x["id"].alias("id_a"), y["id"].alias("id_b")),
                    ),
                ),
            )
        ),
        lambda p: p.isNotNull(),
    )
    return (
        grouped.select(F.explode(pair_arrays).alias("__p"))
        .select(F.col("__p.id_a"), F.col("__p.id_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Pairwise verification (matchRecords, DedupHandler.php:742-985)
# ---------------------------------------------------------------------------


def _match_parts(ca, cb) -> dict:
    """matchRecords as five boolean Columns, generic over field access:
    ``__m_hard`` (the hard filters), ``__m_fast`` (a shared ISBN or
    unique id), ``__m_ok`` (no ISSN, year, page or series conflict),
    ``__m_title`` and ``__m_author`` (similar title, similar author). A
    pair matches when :func:`_match_of` holds.

    ``ca``/``cb`` map a field name to a Column for each side — either
    joined-alias access (``F.col("a.title")``) or struct-lambda access
    (``x["title"]``). The title/author comparison keys are read from
    ``__nk_title`` / ``__nk_author``, computed once per record by
    :func:`_match_payload`.
    """
    # hard filters (:752-808)
    fmt_ok = ca("format").eqNullSafe(cb("format"))
    access_ok = ca("access_restrictions").eqNullSafe(cb("access_restrictions"))

    inter = lambda f: F.size(F.array_intersect(ca(f), cb(f))) > 0  # noqa: E731
    isbn_accept = inter("isbn")
    id_accept = inter("unique_ids")

    both_issn = (F.size(ca("issn")) > 0) & (F.size(cb("issn")) > 0)
    issn_reject = both_issn & ~inter("issn")

    year_reject = (
        ca("publish_year").isNotNull()
        & cb("publish_year").isNotNull()
        & (ca("publish_year") != cb("publish_year"))
    )
    pages_reject = (
        ca("page_count").isNotNull()
        & cb("page_count").isNotNull()
        & (F.abs(ca("page_count") - cb("page_count")) > 10)
    )
    series_reject = (
        ca("series_issn").isNotNull()
        & cb("series_issn").isNotNull()
        & (ca("series_issn") != cb("series_issn"))
    ) | (
        ca("series_numbering").isNotNull()
        & cb("series_numbering").isNotNull()
        & (ca("series_numbering") != cb("series_numbering"))
    )

    # title similarity: normalized keys within 10% levenshtein (:902-927)
    ta, tb = ca("__nk_title"), cb("__nk_title")
    aa, ab = ca("__nk_author"), cb("__nk_author")
    # Levenshtein is the hot cost of verification (every surviving pair pays
    # it on both title and author). Two cuts, same accept set:
    # 1. length-band reject — |len(x)-len(y)| is a lower bound on edit
    #    distance, so a pair outside the budget can never match; Spark's And
    #    short-circuits, so rejected pairs never run levenshtein at all (nor
    #    do pairs with a conflict: ``_match_of`` puts ``__m_ok`` first).
    # 2. threshold (banded) levenshtein — the 3-arg form computes only a
    #    2k+1 diagonal band, O(n*k) instead of O(n^2), returning -1 past the
    #    budget. The budget is per-row (10%/20% of the shorter key), which
    #    the SQL function accepts even though the Python wrapper does not.
    tlen = F.least(F.length(ta), F.length(tb))
    tbudget = tlen * 0.1
    lev_t = F.call_function(
        "levenshtein", ta, tb, F.ceil(tbudget).cast("int")
    )
    title_ok = (
        (F.length(ta) > 0)
        & (F.abs(F.length(ta) - F.length(tb)).cast("double") < tbudget)
        & (lev_t != -1)
        & (lev_t < tbudget)
    )

    # author: exact, authorMatch, or levenshtein <= 20% (:929-962)
    alen = F.least(F.length(aa), F.length(ab))
    abudget = F.floor(alen * 0.2).cast("int")
    lev_a = F.call_function("levenshtein", aa, ab, abudget)
    author_ok = author_match_expr(aa, ab) | (
        (F.length(aa) > 0)
        & (F.abs(F.length(aa) - F.length(ab)) <= abudget)
        & (lev_a != -1)
    )

    return {
        "__m_hard": fmt_ok & access_ok,
        "__m_fast": isbn_accept | id_accept,
        "__m_ok": ~issn_reject & ~year_reject & ~pages_reject
        & ~series_reject,
        "__m_title": title_ok,
        "__m_author": author_ok,
    }


def _match_of(part) -> Column:
    """The matchRecords decision from its :func:`_match_parts` (``part``
    maps a part name to its Column)."""
    return part("__m_hard") & (
        part("__m_fast")
        | (part("__m_ok") & part("__m_title") & part("__m_author"))
    )


_MATCH_SQL: dict[str, str] = {}


def match_columns() -> dict[str, Column]:
    """The :func:`_match_parts` of a joined pair of record structs
    aliased ``a`` and ``b``, each carrying the :func:`_match_payload`
    fields, by part name.

    Each part is compiled through the SQL-text twin: rendered to SQL once
    in pure Python and parsed with one ``F.expr`` call instead of ~1.2k
    py4j round trips of Column construction per dedup build (parity
    pinned by tests/test_dedup.py)."""
    if not _MATCH_SQL:
        parts = sqltwin.dedup_twin()._match_parts(
            lambda n: SA.col(f"a.{n}"), lambda n: SA.col(f"b.{n}")
        )
        _MATCH_SQL.update((k, str(v)) for k, v in parts.items())
    return {k: F.expr(v) for k, v in _MATCH_SQL.items()}


def with_match(pairs: DataFrame) -> DataFrame:
    """``pairs`` (record structs ``a`` and ``b``) plus the boolean
    matchRecords decision ``__match``.

    The parts are selected as columns before they are combined, so no
    parenthesis in the parsed SQL encloses a long subtree: the parser's
    SLL prediction reads from a ``(`` to its ``)`` to tell a
    parenthesized expression from a row or a lambda parameter list. The
    optimizer collapses the two projections into one expression."""
    parts = match_columns()
    return (
        pairs.withColumns(parts)
        .withColumn("__match", _match_of(F.col))
        .drop(*parts)
    )


# The matchRecords field battery, the one definition of the verify
# fields: name -> (shape, fallback source column). "array" fields are
# string arrays (empty when absent); "scalar" fields are trimmed strings,
# null when absent or blank; "text" fields are scalars that default to "".
_VERIFY_FIELDS: dict[str, tuple[str, str | None]] = {
    "format": ("text", None),
    "access_restrictions": ("scalar", None),
    "isbn": ("array", None),
    "unique_ids": ("array", None),
    "issn": ("array", None),
    "publish_year": ("scalar", "publishDate"),
    "page_count": ("scalar", None),
    "series_issn": ("scalar", None),
    "series_numbering": ("scalar", None),
    "title": ("text", None),
    "author": ("text", None),
}


def verify_frame(wide: DataFrame) -> DataFrame:
    """(_id, source_id, *_VERIFY_FIELDS) from an extractor's wide frame,
    shaped per :data:`_VERIFY_FIELDS` whatever the format produced: the
    first element of an array column stands in for a scalar, a scalar
    column missing from ``wide`` falls back to its fallback column, and
    array fields that are absent or not arrays become empty arrays."""
    types = dict(wide.dtypes)

    def scalar(*names):
        for n in names:
            if n in types:
                c = F.col(n)
                if types[n].startswith("array"):
                    c = F.element_at(c, 1)
                return F.nullif(F.trim(c.cast("string")), F.lit(""))
        return F.lit(None).cast("string")

    cols = []
    for name, (shape, fallback) in _VERIFY_FIELDS.items():
        if shape == "array":
            c = (
                F.col(name)
                if types.get(name, "").startswith("array")
                else F.array().cast("array<string>")
            )
        else:
            c = scalar(name, fallback)
            if shape == "text":
                c = F.coalesce(c, F.lit(""))
        cols.append(c.alias(name))
    return wide.select("_id", "source_id", *cols)


def _match_payload() -> list[Column]:
    """The per-record inputs of :func:`match_condition`: the
    :data:`_VERIFY_FIELDS` battery with ``title`` and ``author`` replaced
    by their normalize_key forms ``__nk_title`` and ``__nk_author``.

    Select these before any join or pair generation, so each record's
    keys are computed once rather than once per pair. normalize_key
    compiles through the SQL-text twin (one parse each)."""
    ktw = sqltwin.keys_twin()
    return [
        *[F.col(f) for f in _VERIFY_FIELDS if f not in ("title", "author")],
        *[
            F.expr(str(ktw.normalize_key(SA.col(f)))).alias(f"__nk_{f}")
            for f in ("title", "author")
        ],
    ]


def blocking_verified_edges(
    records: DataFrame,
    key_cols: list[str],
    id_col: str = "_id",
    source_col: str = "source_id",
    candidates_per_key: int = 101,
    distinct: bool = True,
) -> DataFrame:
    """Blocking + pairwise verification fused into ONE key shuffle.

    ``distinct=False`` skips the final edge-set dedup exchange: a pair
    sharing several blocking keys is emitted once per key. The
    component pass downstream is idempotent under duplicate edges
    (union-find, min-label propagation), so :func:`deduplicate` opts
    out and saves one corpus-pair shuffle + one sequential AQE stage;
    keep the default when the edge SET itself is the product.

    The verification payload rides inside the per-key candidate structs,
    so pair generation runs in-partition on the grouped array. Compared to
    blocking_pairs -> verified_edges (pair distinct + two record joins =
    three more corpus-sized exchanges), the corpus is shuffled once, by
    key. Title/author normalization keys are computed once per record
    before the explode, not once per generated pair. That per-record
    payload is local-checkpointed at construction (one eager job), so
    the returned plan never re-reads or re-extracts ``records``.

    matchRecords itself is deliberately NOT evaluated inside the
    pair-generation lambda: higher-order-function lambdas are interpreted
    (CodegenFallback), so the levenshtein-heavy predicate would walk an
    expression tree per candidate pair. Instead the lambda only pairs up
    cross-source candidates (cheap), the pairs are exploded to rows, and
    the full predicate runs as a top-level Filter inside whole-stage
    codegen — the shape that stays fast when a hot key emits its capped
    ~5000 pairs per group at 100 TB.
    """
    member = F.struct(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        *_match_payload(),
    )
    # one corpus scan: concatenate the key arrays before the explode (a
    # union of per-column explodes re-scans the records — and re-runs the
    # key-gen expressions — once per key column). Semantics are identical:
    # the per-column branches shared one "key" namespace anyway.
    allkeys = F.concat(
        *[
            F.coalesce(F.col(k), F.array().cast("array<string>"))
            for k in key_cols
            if k in records.columns
        ]
    )
    # the member struct is computed in its OWN projection, then the keys
    # explode in a parent one: Spark's analyzer drops CreateStruct field
    # aliases when a generator and a lambda-bearing struct child share a
    # projection list (the kana fold inside normalize_key is a transform
    # lambda), which silently renames the verify payload fields.
    # The payload is materialised once: the size census, the join-back
    # and both capped-group branches all read it, and the optimizer
    # pushes an inferred size(__blk_keys) > 0 filter below this
    # projection, so an unmaterialised plan re-ran the record scan, the
    # MARC parse UDF and the whole extraction for each reader (6 parquet
    # scans and 12 parse-UDF nodes in a MARC store's executed edge
    # plan; PERFORMANCE.md). localCheckpoint blocks are
    # non-resilient (executor loss fails the job rather than
    # recomputing), which is acceptable for within-command state; re-run
    # the command on preemptible-executor loss.
    prepared = records.select(
        member.alias("m"), allkeys.alias("__blk_keys")
    ).localCheckpoint(eager=True)
    keys = prepared.select(
        F.explode("__blk_keys").alias("key"), F.col("m")
    ).where(F.col("key") != "")
    # struct comparison orders by field position: id first, so array_sort
    # keeps the reference's created-order determinism (id_a < id_b).
    # Bounded-state cap (r7): over-cap poison keys contribute salted-min
    # representatives instead of slicing an unbounded collect buffer —
    # see _capped_key_groups; work stays <= cap²/2 pairs per key (the
    # reference's truncation bound, DedupHandler.php:466-467).
    grouped = _capped_key_groups(keys, F.col("m"), "id", candidates_per_key)
    # Pair generation emits (i, j) INDEX pairs, not payload-struct pairs:
    # a capped hot key yields up to ~5050 pairs, and materializing two full
    # verify payloads (key arrays + normalized title/author strings) per
    # pair before the explode costs tens of MB of transient row memory on
    # poison keys. Index pairs are 8 bytes each; the payload structs are
    # projected from __c AFTER the explode, one row at a time.
    n = F.size(F.col("__c"))
    empty_idx = F.array().cast("array<int>")
    idx_pairs = F.filter(
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), n),
                # sequence(a, b) DESCENDS when a > b, so the inner range
                # needs an explicit empty guard for the last index
                lambda i: F.transform(
                    F.when(i < n, F.sequence(i + 1, n)).otherwise(empty_idx),
                    lambda j: F.when(
                        try_element_at(F.col("__c"), i)["source"]
                        != try_element_at(F.col("__c"), j)["source"],
                        F.struct(i.alias("i"), j.alias("j")),
                    ),
                ),
            )
        ),
        lambda p: p.isNotNull(),
    )
    pairs = grouped.select(
        F.col("__c"), F.explode(idx_pairs).alias("__p")
    ).select(
        try_element_at(F.col("__c"), F.col("__p.i")).alias("a"),
        try_element_at(F.col("__c"), F.col("__p.j")).alias("b"),
    )
    # sources ride along (functionally dependent on the ids, so the
    # distinct is unchanged) — they let ``deduplicate`` enforce the
    # one-per-source invariant driver-side without a second record pass.
    out = with_match(pairs).where(F.col("__match")).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
    )
    return out.distinct() if distinct else out


def verified_edges(
    records: DataFrame,
    pairs: DataFrame,
    id_col: str = "_id",
) -> DataFrame:
    """Join candidate pairs back to their payloads and keep matches.

    The pair table is tiny relative to the corpus — join it twice against
    the (pruned) record projection; Catalyst prunes the record scan to the
    verification columns only. The match keys are computed once per
    record the pairs touch (a semi join first), not per pair and not for
    the whole corpus.
    """
    # pairs is read twice (its ids, then the join-back): materialise it
    # once instead of re-running the blocking join (localCheckpoint:
    # non-resilient, see connected_components)
    pairs = pairs.localCheckpoint(eager=True)
    touched = pairs.select(F.explode(F.array("id_a", "id_b")).alias("__id"))
    proj = records.join(
        touched, F.col(id_col) == F.col("__id"), "left_semi"
    ).select(F.col(id_col).alias("id"), *_match_payload())
    a = proj.alias("a")
    b = proj.alias("b")
    joined = (
        pairs.join(a, pairs.id_a == F.col("a.id"))
        .join(b, pairs.id_b == F.col("b.id"))
    )
    keep = ["id_a", "id_b"] + [c for c in ("src_a", "src_b") if c in pairs.columns]
    return with_match(joined).where(F.col("__match")).select(*keep)


# ---------------------------------------------------------------------------
# Connected components (small-diameter label propagation)
# ---------------------------------------------------------------------------

# Edge sets up to this many rows resolve in one driver union-find; larger
# ones take the distributed label propagation. 2M edges = 4M Python string
# refs: at ~100 bytes per realistic record id (object header + text) the
# fetched rows plus the union-find dict peak around 1-2 GB of driver heap,
# inside the default driver memory, and the distributed path takes over
# where that stops being true.
_DRIVER_EDGE_LIMIT = 2_000_000


def _driver_edges(edges: DataFrame) -> list | None:
    """The edge rows when they fit the driver union-find, else None.

    One ``take`` both sizes the edge set and fetches it: verified match
    edges are tiny relative to the corpus (even 10^9 records rarely
    verify more than 10^7-10^8 pairs), so the common case runs ONE job
    with no checkpoint write. It is an eager action, so components
    resolve when the query is built, and past the limit the distributed
    path takes over instead of failing at materialization."""
    rows = edges.take(_DRIVER_EDGE_LIMIT + 1)
    return rows if len(rows) <= _DRIVER_EDGE_LIMIT else None


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    report: dict | None = None,
) -> DataFrame:
    """Components of the undirected edges (id_a, id_b).

    Returns (id, component) where component = min id reachable. Edge
    sets within ``_DRIVER_EDGE_LIMIT`` resolve in a driver union-find
    (:func:`_driver_edges`); larger ones by distributed min-label
    propagation (:func:`_cc_distributed`). ``report`` gets the path
    taken and the driver edge count or the propagation rounds.
    """
    edges = edges.select("id_a", "id_b")
    rows = _driver_edges(edges)
    if rows is None:
        if report is not None:
            report.update(path="distributed")
        return _cc_distributed(edges, max_iterations, report=report)
    if report is not None:
        report.update(path="driver", edges=len(rows))
    return _local_string_df(
        edges.sparkSession, list(_union_find(rows).items()), ["id", "component"]
    )


def _union_find(pairs) -> dict:
    """id -> component over (id_a, id_b) pairs, for every id in a pair.
    The min id becomes each root, so the component label = smallest
    member id (the reference's group id pick, DedupHandler.php:559-627
    smallest-id tie-break, made deterministic)."""
    parent: dict = {}
    for id_a, id_b in pairs:
        parent.setdefault(id_a, id_a)
        parent.setdefault(id_b, id_b)
        ra, rb = _uf_find(parent, id_a), _uf_find(parent, id_b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {m: _uf_find(parent, m) for m in list(parent)}


def _uf_find(parent: dict, x):
    root = x
    while parent.get(root, root) != root:
        root = parent[root]
    while parent.get(x, x) != x:
        parent[x], x = root, parent[x]
    return root


def _assignment_core(quads) -> list[tuple[str, str | None]]:
    """Components + one-per-source + min-group-size-2 over an iterable of
    (id_a, id_b, src_a, src_b) tuples.

    Within a component, the smallest id per source is kept (the batch form
    of the reference's greedy one-per-source insert, addToDedupRecord
    :1221-1242, ordered by id); extras get a null component, and groups
    left with < 2 members dissolve (removeFromDedupRecord :672-741)."""
    srcs: dict = {}

    def pairs():
        for id_a, id_b, src_a, src_b in quads:
            srcs[id_a] = src_a
            srcs[id_b] = src_b
            yield id_a, id_b

    groups: dict = {}
    for m, root in _union_find(pairs()).items():
        groups.setdefault(root, []).append(m)
    out: list[tuple[str, str | None]] = []
    for root, members in groups.items():
        best: dict = {}
        for m in members:
            s = srcs[m]
            if s not in best or m < best[s]:
                best[s] = m
        kept = set(best.values())
        comp = root if len(kept) >= 2 else None
        for m in members:
            out.append((m, comp if m in kept else None))
    return out


def _assign_components(
    edges: DataFrame,
    records: DataFrame,
    id_col: str = "_id",
    source_col: str = "source_id",
    strategy: str = "adaptive",
) -> DataFrame:
    """(id_a, id_b, src_a, src_b) edges -> (id, component) with the group
    invariants enforced.

    The same one component pass as :func:`connected_components`: edge
    sets within ``_DRIVER_EDGE_LIMIT`` resolve driver-side through
    :func:`_assignment_core`; larger ones take the distributed label
    propagation followed by the windowed :func:`enforce_one_per_source`
    over ``records``. ``"adaptive"`` is the only ``strategy``.
    """
    if strategy != "adaptive":
        raise ValueError(f"strategy must be 'adaptive': {strategy!r}")
    edges = edges.select("id_a", "id_b", "src_a", "src_b")
    rows = _driver_edges(edges)
    if rows is None:
        comps = _cc_distributed(edges)
        return enforce_one_per_source(comps, records, id_col, source_col)
    return _local_string_df(
        edges.sparkSession, _assignment_core(rows), ["id", "component"]
    )


def _cc_distributed(
    edges: DataFrame, max_iterations: int = 20, report: dict | None = None
) -> DataFrame:
    """Distributed min-label propagation with pointer jumping.

    Each iteration does (a) one-hop propagation — every node offers its
    label to its neighbors — and (b) a shortcut step mapping each node's
    label through that label's OWN label (labels are node ids of the
    same component, so the composition is sound and monotone
    decreasing). The shortcut gives O(log diameter) convergence — a
    chain of length L resolves in ~log2(L) rounds, not L — so
    ``max_iterations=20`` covers diameters past 10^6. Converged = a
    fixpoint round with no label change; running out of iterations
    raises (better a loud error than silently-split dedup groups).

    The edge set is materialized once first: the propagation reads it
    every round and must not re-run verification. localCheckpoint
    blocks are non-resilient (executor loss fails the job rather than
    recomputing), which is acceptable for within-job iteration state;
    re-run the job on preemptible-executor loss.
    """
    edges = edges.select("id_a", "id_b").localCheckpoint(eager=True)
    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    # initial label = min neighbor (including self)
    labels = (
        sym.groupBy("src")
        .agg(F.least(F.min("dst"), F.min("src")).alias("component"))
        .withColumnRenamed("src", "id")
        .localCheckpoint(eager=True)
    )
    for it in range(max_iterations):
        # neighbor labels: for each edge, candidate label of dst =
        # label(src); folded in via LEFT JOIN + least, NOT a union with
        # labels — a Union whose child mixes join-derived constraints
        # with the labels relation trips Spark's constraint rewrite
        # (UnionBase.rewriteConstraints "key not found" on non-nullable
        # inputs, e.g. edges built from range()); the join formulation
        # is semantically identical (least() skips the null for nodes
        # with no incoming offer) and constraint-safe.
        neigh_min = (
            sym.join(labels, sym.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("__n_comp"))
        )
        hop = labels.join(neigh_min, "id", "left").select(
            "id",
            F.least(F.col("component"), F.col("__n_comp")).alias(
                "component"
            ),
        )
        # pointer jumping: component(id) -> min(component(id),
        # component(component(id))) — least() skips the (impossible)
        # null from the left join, every label is itself a labeled node
        new_labels = (
            hop.alias("l1")
            .join(
                hop.alias("l2"),
                F.col("l1.component") == F.col("l2.id"),
                "left",
            )
            .select(
                F.col("l1.id").alias("id"),
                F.least(
                    F.col("l1.component"), F.col("l2.component")
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            if report is not None:
                # iterations = propagation rounds RUN (the fixpoint
                # round that detected convergence included)
                report["iterations"] = it + 1
            return labels
    raise RuntimeError(
        f"connected components did not converge in {max_iterations} "
        "label-propagation iterations — raise max_iterations (diameter "
        "past ~2^max_iterations) or inspect the edge set"
    )


def enforce_one_per_source(
    components: DataFrame,
    records: DataFrame,
    id_col: str = "_id",
    source_col: str = "source_id",
) -> DataFrame:
    """≤1 record per source per group (DedupHandler.php:1221-1242).

    Batch variant of the reference's greedy insert: within a component,
    keep the first record per source by id; extras
    leave the group (component -> null). Groups shrinking below 2 members
    dissolve (reference removeFromDedupRecord :672-741)."""
    j = components.join(
        records.select(F.col(id_col).alias("id"), F.col(source_col).alias("source")),
        "id",
    )
    w = Window.partitionBy("component", "source").orderBy(
        F.col("id").asc()
    )
    kept = j.withColumn("__rn", F.row_number().over(w))
    kept = kept.withColumn(
        "component", F.when(F.col("__rn") == 1, F.col("component"))
    ).drop("__rn", "source")
    sizes = (
        kept.where(F.col("component").isNotNull())
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    out = kept.join(F.broadcast(sizes), "component", "left").withColumn(
        "component",
        F.when(F.col("__n") >= 2, F.col("component")),
    ).drop("__n")
    return out.select("id", "component")


def deduplicate(
    records: DataFrame,
    id_col: str = "_id",
    source_col: str = "source_id",
    key_cols: list[str] | None = None,
    candidates_per_key: int = 101,
) -> DataFrame:
    """End-to-end dedup: records (with key columns) -> (id, dedup_id).

    dedup_id is the smallest member id of the group; null for singletons.

    One corpus pass: the fused blocking+verify shuffle emits
    (id_a, id_b, src_a, src_b) edges, then one component pass
    (:func:`_assign_components`) resolves groups and their invariants.
    One ``take`` both sizes the edge set and fetches it when it fits
    ``_DRIVER_EDGE_LIMIT`` (driver union-find); past it, distributed
    label propagation and windowed one-per-source enforcement take over,
    so the command never fails at materialization whatever the edge
    count turns out to be. The sizing ``take`` is an eager action at
    construction.

    The records are read once: :func:`blocking_verified_edges`
    materialises its per-record payload (verify fields plus blocking
    keys) with a local checkpoint at construction, and every later
    branch reads that. Only the distributed component path past
    ``_DRIVER_EDGE_LIMIT`` goes back to ``records`` for the sources.
    """
    key_cols = key_cols or ["isbn_keys", "id_keys", "title_keys"]
    proj_cols = {id_col, source_col, *key_cols, *_VERIFY_FIELDS}
    records = records.select(*[c for c in records.columns if c in proj_cols])
    edges = blocking_verified_edges(
        records,
        key_cols,
        id_col,
        source_col,
        candidates_per_key,
        # the component pass is idempotent under duplicate edges —
        # skipping the edge-set distinct saves one shuffle + one
        # sequential AQE stage; the driver edge limit then counts raw
        # pair emissions (strictly conservative: it can only switch to
        # the distributed path EARLIER)
        distinct=False,
    )
    comps = _assign_components(edges, records, id_col, source_col)
    return comps.withColumnRenamed("component", "dedup_id")


# ---------------------------------------------------------------------------
# Component-part dedup (DedupHandler.php:1255-1372)
# ---------------------------------------------------------------------------


def component_part_edges(
    hosts: DataFrame,
    components: DataFrame,
    host_id_col: str = "_id",
    comp_id_col: str = "_id",
    comp_host_col: str = "host_id",
    source_col: str = "source_id",
    dedup_col: str = "dedup_id",
) -> DataFrame:
    """Match edges between component parts of duplicate hosts.

    Reference semantics: for two hosts in the same dedup group (different
    sources), sort each host's components by id sort key; if the lists have
    equal length AND every aligned pair passes matchRecords, each aligned
    pair becomes a duplicate pair. Batch shape: position-align components
    with a window, join on (host pair, position), verify pairwise, then
    keep only host pairs where matched == len1 == len2.
    """
    from ..functions.keys import create_id_sort_key

    h = hosts.where(F.col(dedup_col).isNotNull()).select(
        F.col(host_id_col).alias("hid"),
        F.col(source_col).alias("hsrc"),
        F.col(dedup_col).alias("hdedup"),
    )
    host_pairs = (
        h.alias("h1")
        .join(
            h.alias("h2"),
            (F.col("h1.hdedup") == F.col("h2.hdedup"))
            & (F.col("h1.hsrc") != F.col("h2.hsrc"))
            & (F.col("h1.hid") < F.col("h2.hid")),
        )
        .select(F.col("h1.hid").alias("host_a"), F.col("h2.hid").alias("host_b"))
    )

    w = Window.partitionBy(comp_host_col).orderBy(
        create_id_sort_key(F.col(comp_id_col)), F.col(comp_id_col)
    )
    comp = components.withColumn("__pos", F.row_number().over(w))
    counts = comp.groupBy(F.col(comp_host_col).alias("__h")).agg(
        F.count(F.lit(1)).alias("__n")
    )

    # match keys only for the components of hosts in a dedup group
    proj = comp.join(h, F.col(comp_host_col) == F.col("hid"), "left_semi").select(
        F.col(comp_id_col).alias("id"),
        F.col(comp_host_col).alias("host"),
        F.col(source_col).alias("src"),
        F.col("__pos"),
        *_match_payload(),
    )
    a, b = proj.alias("a"), proj.alias("b")
    aligned = (
        host_pairs.join(a, F.col("a.host") == F.col("host_a"))
        .join(
            b,
            (F.col("b.host") == F.col("host_b"))
            & (F.col("a.__pos") == F.col("b.__pos")),
        )
    )
    verified = with_match(aligned).withColumnRenamed("__match", "__ok")
    per_pair = (
        verified.groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("__aligned"), F.sum(F.col("__ok").cast("int")).alias("__okn"))
        .join(counts.withColumnRenamed("__h", "host_a").withColumnRenamed("__n", "__na"), "host_a")
        .join(counts.withColumnRenamed("__h", "host_b").withColumnRenamed("__n", "__nb"), "host_b")
        .where(
            (F.col("__na") == F.col("__nb"))
            & (F.col("__okn") == F.col("__na"))
            & (F.col("__aligned") == F.col("__na"))
        )
        .select("host_a", "host_b")
    )
    return (
        verified.join(per_pair, ["host_a", "host_b"])
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.src").alias("src_a"),
            F.col("b.src").alias("src_b"),
        )
    )


def dedup_component_parts(
    hosts: DataFrame,
    components: DataFrame,
    **kwargs,
) -> DataFrame:
    """Component-part dedup: returns (id, dedup_id) for component records.

    dedup_id = smallest member id (consistent with ``deduplicate``);
    components whose host pairs don't fully match stay ungrouped (the
    reference's zero-marked cleanup path)."""
    edges = component_part_edges(hosts, components, **kwargs)
    src_col = kwargs.get("source_col", "source_id")
    id_col = kwargs.get("comp_id_col", "_id")
    comps = _assign_components(edges, components, id_col, src_col)
    return comps.withColumnRenamed("component", "dedup_id")


# ---------------------------------------------------------------------------
# Incremental dedup (Command/Records/Deduplicate.php:216-317 semantics)
# ---------------------------------------------------------------------------


def deduplicate_incremental(
    records: DataFrame,
    existing: DataFrame,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Re-dedup only dirty rows against the full key index.

    ``existing`` is the prior (id, dedup_id) assignment. Semantics match
    the reference's per-record re-evaluation: a dirty record's old links
    are discarded and re-derived from scratch; clean records keep their
    mutual grouping (expressed as star edges to the smallest CLEAN member
    of each prior group, so a dirty ex-member can't transitively hold a
    group together).

    Scale shape: blocking explodes only the dirty rows' keys and probes the
    full key index with a broadcast-able dirty side — the 100 TB corpus is
    scanned once for the index, not self-joined.
    """
    dirty_col = "update_needed"
    id_col = "_id"
    source_col = "source_id"
    candidates_per_key = 101
    key_cols = key_cols or ["isbn_keys", "id_keys", "title_keys"]
    ids = records.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        F.col(dirty_col).alias("dirty"),
        *[k for k in key_cols if k in records.columns],
    )
    allkeys = F.concat(
        *[
            F.coalesce(F.col(k), F.array().cast("array<string>"))
            for k in key_cols
            if k in ids.columns
        ]
    )
    keys = ids.select(
        "id", "source", "dirty", F.explode(allkeys).alias("key")
    ).where(F.col("key") != "")
    w = Window.partitionBy("key").orderBy(F.col("id"))
    keys = (
        keys.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= candidates_per_key)
        .drop("__rn")
    )
    dirty_keys = keys.where(F.col("dirty"))
    pairs = (
        dirty_keys.alias("d")
        .join(
            keys.alias("k"),
            (F.col("d.key") == F.col("k.key"))
            & (F.col("d.source") != F.col("k.source"))
            & (F.col("d.id") != F.col("k.id")),
        )
        .select(
            F.least(F.col("d.id"), F.col("k.id")).alias("id_a"),
            F.greatest(F.col("d.id"), F.col("k.id")).alias("id_b"),
            F.when(F.col("d.id") < F.col("k.id"), F.col("d.source"))
            .otherwise(F.col("k.source"))
            .alias("src_a"),
            F.when(F.col("d.id") < F.col("k.id"), F.col("k.source"))
            .otherwise(F.col("d.source"))
            .alias("src_b"),
        )
        .distinct()
    )
    new_edges = verified_edges(records, pairs, id_col)

    # prior groups among CLEAN members only, as star edges to the group's
    # smallest clean member
    clean = ids.where(~F.col("dirty")).select("id", "source")
    prior = (
        existing.withColumnRenamed(id_col, "id")
        if id_col in existing.columns
        else existing
    )
    prior_clean = prior.where(F.col("dedup_id").isNotNull()).join(clean, "id")
    rep = prior_clean.groupBy("dedup_id").agg(
        F.min("id").alias("__rep"), F.min_by("source", "id").alias("__rep_src")
    )
    prior_edges = (
        prior_clean.join(rep, "dedup_id")
        .where(F.col("id") != F.col("__rep"))
        .select(
            F.col("__rep").alias("id_a"),
            F.col("id").alias("id_b"),
            F.col("__rep_src").alias("src_a"),
            F.col("source").alias("src_b"),
        )
    )

    comps = _assign_components(
        new_edges.unionByName(prior_edges), records, id_col, source_col
    )
    return comps.withColumnRenamed("component", "dedup_id")


# ---------------------------------------------------------------------------
# Consistency checking (DedupHandler.php:176-303, Command/Records/CheckDedup)
# ---------------------------------------------------------------------------


def check_dedup_consistency(
    assignment: DataFrame,
    records: DataFrame,
) -> DataFrame:
    """Validate a (id, dedup_id) assignment against the invariants.

    Returns (id, dedup_id, issue) rows for every violation:
    - ``singleton_group``: the group has < 2 members (reference deletes
      such groups, removeFromDedupRecord :672-741)
    - ``same_source_collision``: two members share a source (the ≤1 per
      source invariant, addToDedupRecord :1221-1242); every member of the
      colliding source except the smallest id is flagged
    - ``dangling_record``: the assignment references an id that no longer
      exists in the record store (checkRecordLinks repair path)
    Empty result = consistent. The repair is ``enforce_one_per_source`` /
    re-running ``deduplicate`` on the affected groups.
    """
    id_col = "_id"
    source_col = "source_id"
    a = assignment.select(
        F.col(id_col).alias("id") if id_col in assignment.columns else F.col("id"),
        "dedup_id",
    ).where(F.col("dedup_id").isNotNull())
    recs = records.select(
        F.col(id_col).alias("id"), F.col(source_col).alias("__src")
    )
    j = a.join(recs, "id", "left")

    dangling = j.where(F.col("__src").isNull()).select(
        "id", "dedup_id", F.lit("dangling_record").alias("issue")
    )

    sizes = j.where(F.col("__src").isNotNull()).groupBy("dedup_id").agg(
        F.count(F.lit(1)).alias("__n")
    )
    singleton = (
        j.where(F.col("__src").isNotNull())  # dangling rows are not members
        .join(sizes, "dedup_id")
        .where(F.col("__n") < 2)
        .select("id", "dedup_id", F.lit("singleton_group").alias("issue"))
    )

    w = Window.partitionBy("dedup_id", "__src").orderBy("id")
    collisions = (
        j.where(F.col("__src").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select("id", "dedup_id", F.lit("same_source_collision").alias("issue"))
    )

    return dangling.unionByName(singleton).unionByName(collisions)
