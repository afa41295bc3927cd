"""Bounded-state candidate-pair generation within (possibly degenerate)
LSH buckets — shared by the minhash band join, the simhash/Hamming
pigeonhole engine, and the embedding hyperplane-bucket join.

The problem (ADVICE r6): the previous shape collected each bucket's ids
with ``F.slice(F.array_sort(F.collect_list(id)), 1, cap)``. That bounds
the pair OUTPUT, but not the aggregation STATE: partial aggregates of
``collect_list`` concatenate rather than shrink, so a mega-bucket (every
row of a 100 TB crawl carrying the same boilerplate fingerprint) still
ships all n ids into a single final-aggregation buffer before the slice
runs — the exact hot-key skew the cap was meant to prevent. Worse, rows
beyond the cap were silently dropped from pair generation entirely: in a
degenerate bucket (identical items share the same bucket in EVERY band)
the truncation dropped the same rows everywhere, so beyond-cap members
were never reported at all.

The fix splits each bucket on its row count, and no aggregation buffer
ever holds more than ``bucket_cap`` elements:

- The bucket size census is one map-side-combinable ``groupBy(bucket)
  .count()`` — O(1) state per bucket — and since r8 it ROUTES the rows:
  the census joins back to the banded rows with a co-partitioned
  shuffle-hash join on the bucket key (never a broadcast — the census
  has one row per bucket, corpus-sized at 100 TB), and the small/big
  branches are plain ``__n`` filters on the joined rows. The r7 shape
  spent two extra prefilter joins (anti + semi against the over-cap
  key set) and re-shuffled each branch for its own aggregation; now
  every downstream aggregation (the small-bucket pair collect, the rep
  min per salt slot) and the hub join inherit the bucket-key
  partitioning from the join output and run exchange-free.
- Small buckets (``n <= bucket_cap``, the overwhelmingly common case):
  exact all-pairs, identical to uncapped behavior. The collect_list
  buffer is genuinely bounded by the cap here because over-cap buckets
  were already filtered OUT — the slice-after-collect never happens.
- Big buckets: hub pairs — every member pairs with the bucket's
  <= ``hub_cap`` REPRESENTATIVES, the min id per md5-derived salt
  slot (``hex15(md5(id)) % hub_cap``). ``min`` is map-side combinable
  with O(1) state per (bucket, slot) group. Every beyond-cap member
  reports against the hub set, so a degenerate bucket of n identical
  items yields edges connecting ALL n members through the reps — the
  property downstream connected components (near_dup_prune) actually
  needs. Pair volume is <= n*hub_cap per mega-bucket (linear in n).

The salt slot is deterministic and engine-replicable: the DuckDB
oracles reproduce it with the same hex15-of-md5 device the minhash
oracle uses for signature hashes, so the capped semantics stay
hash-checkable at every scale factor.

Plan shape (verified in the executed mini-plan and by plan_audit's
unique-canonical-exchange counter): the banded FULL rows shuffle on
the bucket key exactly once — every full-row consumer (the join-back
stream side, the ``small_path="join"`` self-join sides, the hub join)
reads that one exchange via ReuseExchange / the AQE stage cache. The
census side deliberately does NOT reuse it: column pruning gives it
its own exchange carrying only map-combined ``(bucket, partial
count)`` rows — a second, far smaller shuffle in exchange for
recomputing the pruned bucket-key projection map-side. Everything
downstream (branch filters, pair collects, rep aggregation, hub join)
runs exchange-free on the inherited bucket partitioning, up to the
final pair ``distinct``.

Bucket keys must be NON-NULL (every caller derives them from md5/hash
expressions, which never produce null): the join-back routing drops
null-bucket rows like any equi-join would.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_slot(id_col: str, cap: int) -> Column:
    """Deterministic slot in [0, cap) from the id's md5 — the rep-picking
    salt. hex15 (60 bits) keeps the conv() result inside a long."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
        ).cast("long"),
        F.lit(cap),
    )


def _array_pairs(
    small: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    pay: list[str],
) -> DataFrame:
    """All-pairs per small bucket via ONE groupBy + in-array expansion —
    no join; the collect buffer is <= cap by the caller's prefilter."""
    member = (
        F.struct(F.col(id_col).alias("id"), *[F.col(p) for p in pay])
        if pay
        else F.col(id_col)
    )
    grouped = small.groupBy(*bucket_cols).agg(
        F.array_sort(F.collect_list(member)).alias("__m")
    )
    if pay:
        mk = lambda x, y: F.struct(  # noqa: E731
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            *[x[p].alias(f"{p}_a") for p in pay],
            *[y[p].alias(f"{p}_b") for p in pay],
        )
    else:
        mk = lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b"))  # noqa: E731
    pair_arrays = F.flatten(
        F.transform(
            F.col("__m"),
            lambda x, i: F.transform(
                F.slice(F.col("__m"), i + 2, F.size("__m")),
                lambda y: mk(x, y),
            ),
        )
    )
    return grouped.select(F.explode(pair_arrays).alias("__p")).select("__p.*")


def _join_pairs(
    small: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    pay: list[str],
    join_hint: str | None,
) -> DataFrame:
    """All-pairs per small bucket via a codegen self-equi-join — faster
    per pair than interpreted array lambdas when the cap is large."""
    a = small.alias("a")
    b = small.alias("b")
    if join_hint:
        b = b.hint(join_hint)
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in bucket_cols:
        cond = (F.col(f"a.{c}") == F.col(f"b.{c}")) & cond
    return a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"a.{p}").alias(f"{p}_a") for p in pay],
        *[F.col(f"b.{p}").alias(f"{p}_b") for p in pay],
    )


def capped_bucket_pairs(
    banded: DataFrame,
    bucket_cols: list[str],
    id_col: str = "id",
    bucket_cap: int = 200,
    payload_cols: tuple[str, ...] = (),
    small_path: str = "array",
    join_hint: str | None = "shuffle_hash",
    assume_under_cap: bool = False,
) -> DataFrame:
    """DISTINCT candidate pairs per bucket with bounded aggregation state.

    ``banded``: one row per (item, bucket) — columns ``bucket_cols`` +
    ``id_col`` + ``payload_cols``. Returns ``(id_a, id_b)`` with
    ``id_a < id_b`` plus ``{p}_a``/``{p}_b`` for each payload column
    (payloads must be functionally dependent on the id — they ride along
    for post-filters like Hamming distance).

    ``small_path``: ``"array"`` (one groupBy, pair expansion in-array —
    the cheap shape for caps in the hundreds) or ``"join"`` (codegen
    self-equi-join — an order of magnitude faster per pair, the right
    shape for caps in the thousands where a single at-cap bucket means
    millions of pairs). ``join_hint`` applies to the join forms
    (self-join build side and the hub join) — the bucket-key space is
    large and per-key rows are cap-bounded, so skipping sort-merge's
    sorts is usually right.

    ``hub_cap = min(bucket_cap, 64)`` sizes the over-cap
    REP set separately from the small-bucket work bound: hub pair
    volume is n*hub_cap PER BAND, and a fully degenerate item (every
    band a mega-bucket) multiplies that by the band count — at
    bucket_cap=2000 the round-7 soak's 300k identical fingerprints
    produced 1.8 BILLION pre-distinct hub rows. Connectivity and
    member coverage only need a hub SET, not bucket_cap reps: every
    beyond-cap member still pairs with all ~hub_cap representatives.

    ``assume_under_cap=True`` is the CALLER-CONTRACT fast path: skip
    the census + routing join entirely and run the small-bucket pair
    generation over every bucket. Semantically identical whenever no
    bucket exceeds ``bucket_cap`` — but nothing verifies that (a
    verification IS the census), so an over-cap bucket silently
    regains unbounded aggregation state and O(n²) pair volume. Opt in
    only where the bound is structural (unit fixtures, pre-deduped id
    joins, interactive audits over bounded slices). Why it exists: the
    census machinery is ~5 extra scheduler stages, a fixed ~0.5 s
    floor that dominates toy-scale runs (sf0.1 Hamming: 0.91 s ->
    0.34 s median, identical pairs); an AUTOMATIC gate was probed and
    rejected — deciding needs the bucket sizes, i.e. either the census
    itself or an eager count (an extra corpus scan at construction,
    the r5/r6 anti-pattern). The default stays census-routed: at
    100 TB the floor amortizes to nothing and the bound is what makes
    degenerate buckets survivable.
    """
    hub_cap = min(bucket_cap, 64)
    pay = list(payload_cols)
    # Normalize the null-filters across every branch: join-key,
    # ``__rid != id``, and caller post-filter predicates (e.g. the
    # Hamming ``bit_count(__h_a ^ __h_b) <= k`` pushed into the small
    # self-join) make Catalyst infer isnotnull() and push it into
    # individual branches' scans, which breaks canonical equality
    # between the otherwise-identical banded subtrees — the exchange
    # (and any expensive signature computation below it) would
    # materialize twice instead of being stage-reused. Ids, bucket
    # keys, AND payloads are non-null by contract (all derived hash
    # values), so filtering up front is a no-op semantically and
    # restores one-materialization reuse (measured: the minhash
    # signature pipeline ran 2x without the id/key filters; the r9
    # executed-plan probe showed the hamming banded exchange STILL
    # materializing twice because only the small branch inferred
    # isnotnull on the payload hash).
    nn = F.col(id_col).isNotNull()
    for c in [*bucket_cols, *payload_cols]:
        nn = nn & F.col(c).isNotNull()
    banded = banded.where(nn)
    if assume_under_cap:
        if small_path == "array":
            return _array_pairs(banded, bucket_cols, id_col, pay).distinct()
        if small_path == "join":
            return _join_pairs(
                banded, bucket_cols, id_col, pay, join_hint
            ).distinct()
        raise ValueError(f"unknown small_path {small_path!r}")
    sizes = banded.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("__n"))
    # Join the census back on the bucket key. The shuffle_hash hint (the
    # default merge hint works too, paying two sorts) pins a
    # CO-PARTITIONED join: the stream side's exchange is canonically the
    # census aggregate's own child exchange, so the banded subtree
    # shuffles once, and the join output keeps the bucket partitioning —
    # every aggregation below runs exchange-free. NEVER broadcast here:
    # the census has one row per bucket, which is corpus-sized at 100 TB.
    # (An explicit repartition shared by census + stream was probed in
    # r9 and REJECTED: Catalyst pushes the census's column prune below
    # the repartition, which splits it into a second corpus-sized band
    # exchange — strictly worse than the tiny map-combined count
    # partials this shape shuffles.)
    routed = banded.join(
        sizes.hint(join_hint or "shuffle_hash"), bucket_cols
    )
    # NOTE: __n deliberately rides along un-dropped — every consumer
    # below projects explicit columns, and each extra Dataset op on
    # these wide trees costs a full JVM analysis pass (measured in the
    # round-8 construction profile).
    small = routed.where(F.col("__n") <= bucket_cap)
    if small_path == "array":
        small_pairs = _array_pairs(small, bucket_cols, id_col, pay)
    elif small_path == "join":
        small_pairs = _join_pairs(small, bucket_cols, id_col, pay, join_hint)
    else:  # pragma: no cover - guarded API
        raise ValueError(f"unknown small_path {small_path!r}")

    big = routed.where(F.col("__n") > bucket_cap)
    # min_by on the id picks the smallest-id member (ids are unique, so
    # this equals the old min-over-struct ordering) — and unlike
    # min(struct), min_by is hash-aggregable, so the reps aggregation
    # plans as a HashAggregate instead of Sort + SortAggregate: one
    # scalar of state per (bucket, slot), no sort of the big rows.
    rep_struct = F.min_by(
        F.struct(F.col(id_col).alias("id"), *[F.col(p) for p in pay]),
        F.col(id_col),
    )
    reps = (
        big.groupBy(*bucket_cols, salt_slot(id_col, hub_cap).alias("__slot"))
        .agg(rep_struct.alias("__r"))
        .select(
            *bucket_cols,
            F.col("__r.id").alias("__rid"),
            *[F.col(f"__r.{p}").alias(f"__r_{p}") for p in pay],
        )
    )
    if join_hint:
        reps = reps.hint(join_hint)
    hub = big.join(reps, bucket_cols).where(F.col("__rid") != F.col(id_col))
    swap = F.col(id_col) < F.col("__rid")
    big_pairs = hub.select(
        F.when(swap, F.col(id_col)).otherwise(F.col("__rid")).alias("id_a"),
        F.when(swap, F.col("__rid")).otherwise(F.col(id_col)).alias("id_b"),
        *[
            F.when(swap, F.col(p)).otherwise(F.col(f"__r_{p}")).alias(f"{p}_a")
            for p in pay
        ],
        *[
            F.when(swap, F.col(f"__r_{p}")).otherwise(F.col(p)).alias(f"{p}_b")
            for p in pay
        ],
    )
    return small_pairs.unionByName(big_pairs).distinct()
