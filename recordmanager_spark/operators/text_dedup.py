"""Document-level deduplication for training-data pipelines.

Four families, each designed for 100 TB scale:

- exact: md5 fingerprint of normalized text, one groupBy. Map-side
  partial agg collapses duplicates before the shuffle.
- MinHash + LSH: shingle -> K permutation-hashes -> band -> bucket join.
  The O(n²) similarity join becomes an equi-join on band signatures; the
  per-bucket cap bounds hot buckets exactly like the reference caps hot
  blocking keys (DedupHandler.php:466-520 — same skew problem, same fix).
- n-gram Jaccard verification on candidate pairs (exact similarity on the
  small candidate set, never the full cross product).
- SimHash: 60-bit signed-projection fingerprint; near-dups = small
  Hamming distance, found by banding the fingerprint bits.

Hash choice: md5 (+ hex->int via conv) rather than xxhash64 so results are
reproducible across engines — the hash IS the semantics for minhash, and
md5 exists everywhere (oracle-checkable in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from recordmanager_spark.sparkcompat import try_element_at

from .bucket_pairs import capped_bucket_pairs

from ..functions.text import (
    fingerprint,
    ngrams_from_tokens,
    normalize_for_fingerprint,
    token_ngrams,
    tokenize,
)


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, s) exploded distinct shingles. Tokens are materialized as a
    column first so gram construction reads a per-row array reference."""
    toks = df.select(
        F.col(id_col).alias("id"),
        tokenize(normalize_for_fingerprint(text_col)).alias("toks"),
    )
    return toks.select("id", F.explode(ngrams_from_tokens(F.col("toks"), n)).alias("s"))


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, sh array<string>) distinct shingle set per doc."""
    toks = df.select(
        F.col(id_col).alias("id"),
        tokenize(normalize_for_fingerprint(text_col)).alias("toks"),
    )
    return toks.select("id", ngrams_from_tokens(F.col("toks"), n).alias("sh"))


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fp, canonical_id) — canonical = min id among identical
    normalized texts. Rows with canonical_id != id are duplicates.

    Hot-key shape: a 100 TB crawl has pathological fingerprints (empty
    docs, boilerplate pages duplicated hundreds of millions of times), so
    a ``min() OVER (PARTITION BY fp)`` window — which ships every row of a
    hot fingerprint to ONE reducer and never map-side-combines — is the
    wrong plan. Instead: ``groupBy(fp).agg(min(id))`` (partial aggregation
    collapses each hot key to one row per map task BEFORE the shuffle)
    joined back on fp. The join-back is AQE-skew-eligible: a skewed probe
    partition splits across tasks with the matching 1-row build side
    replicated, which a window aggregation can never do.
    """
    with_fp = df.select(F.col(id_col).alias("id"), fingerprint(text_col).alias("fp"))
    canon = with_fp.groupBy("fp").agg(F.min("id").alias("canonical_id"))
    return with_fp.join(canon, "fp").select("id", "fp", "canonical_id")


def distinct_by_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row (min id) per distinct normalized text.

    Same hot-key design as :func:`exact_duplicates`: a map-side-combinable
    ``groupBy(fp).agg(min(id))`` picks the keeper ids, then a LEFT SEMI
    join on the UNIQUE id column (skew-free by construction — one row per
    keeper) restores the full rows. The previous ``row_number() OVER
    (PARTITION BY fp)`` serialized every copy of a hot boilerplate text
    through one task.
    """
    keep = (
        df.select(F.col(id_col).alias("__kid"), fingerprint(text_col).alias("__fp"))
        .groupBy("__fp")
        .agg(F.min("__kid").alias("__kid"))
        .select("__kid")
    )
    return df.join(keep, df[id_col] == keep["__kid"], "left_semi")


def exact_dup_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup of a new batch against a persisted
    fingerprint index: returns ``(annotated, new_index_rows)``.

    ``annotated`` = (id, fp, canonical_id): the smallest id among ALL
    copies ever seen — an index hit resolves to the index's canonical;
    within-batch first occurrences resolve among themselves (min batch
    id), exactly :func:`exact_duplicates` semantics extended across
    ingests. ``new_index_rows`` = (fp, canonical_id) for fingerprints
    the index has not seen — append them to the bucketed index table
    with ``sources.bucketed.write_bucketed(..., "fp", n, mode="append")``
    (``cli.cmd_curate`` does this for a corpus with ``dedup_index``).

    Scale shape: fingerprints are a scan-stage projection; the probe is
    an equi-join on ``fp`` where a BUCKETED index side reads already
    partitioned (zero index exchange — only the batch's narrow (id, fp)
    rows shuffle to the bucket layout); the within-batch canonical is
    the map-side-combinable ``groupBy(fp).min(id)`` + join-back of
    :func:`exact_duplicates` — never a window over the hot boilerplate
    fingerprint."""
    fps = new_docs.select(
        F.col(id_col).alias("id"), fingerprint(text_col).alias("fp")
    )
    hit = fps.join(
        index.select(
            "fp", F.col("canonical_id").alias("__idx_canon")
        ),
        "fp",
        "left",
    )
    miss_canon = (
        hit.where(F.col("__idx_canon").isNull())
        .groupBy("fp")
        .agg(F.min("id").alias("__batch_canon"))
    )
    annotated = (
        hit.join(miss_canon, "fp", "left")
        .select(
            "id",
            "fp",
            F.coalesce("__idx_canon", "__batch_canon").alias("canonical_id"),
        )
    )
    new_rows = miss_canon.select(
        "fp", F.col("__batch_canon").alias("canonical_id")
    )
    return annotated, new_rows


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Fixed 60-bit XOR constants, one per permutation. h -> h XOR c_k is a
# bijection of the 60-bit hash space, so min over it is a valid minhash
# family — and it costs one long XOR instead of one md5 per permutation.
# Derived deterministically so the family is stable across runs/engines.
import hashlib as _hashlib

_PERM_XOR = [
    int(_hashlib.md5(f"rmspark-minhash-perm-{k}".encode()).hexdigest()[:15], 16)
    for k in range(64)
]


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig array<long>[num_perm]) minhash signature over distinct
    token n-gram shingles.

    Shape: explode shingles -> ONE md5 -> 60-bit long -> num_perm XOR
    bijections -> groupBy(id) with num_perm min() aggregates. The mins
    combine map-side, so the shuffle carries one num_perm-wide row per doc
    — at 100 TB the exchange is proportional to doc count, not shingle
    count. One hash per shingle plus long XOR/min keeps the hot loop in
    cheap integer ops (16 salted md5s per shingle was ~5x slower; nested
    array_min(transform(...)) per row blows up codegen and ran ~50x
    slower). md5 (not xxhash64) remains the base hash so the family is
    engine-reproducible (DuckDB has md5 + bit ops)."""
    sh = _shingle_rows(df, id_col, text_col, shingle_n)
    h = F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long")
    hashed = sh.select("id", h.alias("h"))
    agg = hashed.groupBy("id").agg(
        *[
            F.min(F.col("h").bitwiseXOR(F.lit(_PERM_XOR[p]))).alias(f"h{p}")
            for p in range(num_perm)
        ]
    )
    return agg.select(
        "id", F.array(*[F.col(f"h{p}") for p in range(num_perm)]).alias("sig")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id_a, id_b) candidates sharing at least one LSH band.

    One explode + bounded-state bucket pairing
    (:func:`~recordmanager_spark.operators.bucket_pairs.
    capped_bucket_pairs`): buckets within ``bucket_cap`` get exact
    all-pairs via a codegen self-equi-join; degenerate buckets
    (all-identical boilerplate docs) switch to hub pairs against <= cap
    salted-min representatives, so no aggregation buffer and no pair
    expansion is ever O(bucket²) — and beyond-cap members still report
    (previously they were silently truncated out of every band).
    """
    bucket_cap = 200
    banded = signatures.select(
        "id",
        F.posexplode(_band_key_array(bands, rows_per_band)).alias(
            "band", "band_key"
        ),
    )
    return capped_bucket_pairs(banded, ["band", "band_key"], "id", bucket_cap)


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact token-n-gram Jaccard on candidate pairs; keeps pairs with
    similarity >= threshold. Returns (id_a, id_b, jaccard)."""
    sh = _shingle_sets(df, id_col, text_col, shingle_n)
    a, b = sh.alias("a"), sh.alias("b")
    # No planted broadcast hint (r7): the former F.broadcast(pairs) —
    # and worse, F.broadcast(pairs ⋈ shingle_sets) — overflowed the 8 GB
    # HashedRelation cap the moment a degenerate corpus produced a
    # linear-but-large hub-pair list (the soak7 mega-bucket: 200k docs ×
    # cap 200 = 40M candidates, exactly what a 100 TB boilerplate crawl
    # does). The joins key on the UNIQUE doc id — skew-free by
    # construction — and AQE converts them to broadcasts at runtime
    # whenever the pair list is actually small (every non-pathological
    # corpus). Never force what the runtime can size.
    joined = pairs.join(a, pairs.id_a == F.col("a.id")).join(
        b, F.col("id_b") == F.col("b.id")
    )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        joined.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Calibration report for the minhash family: per sampled pair,
    the SIGNATURE-agreement Jaccard estimate (what banding thresholds
    act on) next to the EXACT shingle Jaccard (ground truth) —
    (id_a, id_b, est_jaccard, jaccard, abs_err). Use it to pick
    num_perm / bands / threshold for a corpus before committing to a
    full dedup run: est_jaccard is Broder's unbiased estimator, so
    abs_err ~ sqrt(j(1-j)/num_perm); a systematically larger error
    means the shingle distribution violates the estimator's
    assumptions (degenerate short docs, boilerplate) and banding
    thresholds need margin.

    ``pairs``: any (id_a, id_b) sample; the default pairs each doc
    with id+1 — deterministic, linear, no window/orderBy, and spanning
    the id range (numeric-id corpora; pass explicit pairs otherwise).
    Scale: signatures/shingle sets are the operators' own
    map-side-combinable aggregations; the pair joins key on the unique
    id (skew-free, AQE-sized)."""
    num_perm = 16
    shingle_n = 3
    ids = df.select(F.col(id_col).alias("id_a"))
    if pairs is None:
        # the id+1 default needs arithmetic ids; failing HERE with the
        # fix beats the raw ANSI cast error a string-id corpus would
        # otherwise hit mid-job (r8 ADVICE)
        from pyspark.sql.types import NumericType

        if not isinstance(df.schema[id_col].dataType, NumericType):
            raise ValueError(
                f"minhash_calibration: default pair sample needs a "
                f"numeric {id_col!r} (got "
                f"{df.schema[id_col].dataType.simpleString()}); pass "
                f"an explicit (id_a, id_b) `pairs` sample"
            )
        pairs = ids.join(
            df.select(F.col(id_col).alias("id_b")),
            F.col("id_a") + 1 == F.col("id_b"),
        )
    sigs = minhash_signature(df, id_col, text_col, num_perm, shingle_n)
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("__sa"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("__sb"))
    est = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            minhash_sig_agreement(F.col("__sa"), F.col("__sb")).alias(
                "est_jaccard"
            ),
        )
    )
    exact = jaccard_verify(
        df, pairs, id_col, text_col, threshold=0.0, shingle_n=shingle_n
    )
    return (
        est.join(exact, ["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            "jaccard",
            F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6).alias(
                "abs_err"
            ),
        )
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Full pipeline: signatures -> LSH candidates -> Jaccard verify.

    Single linear lineage, no persist/checkpoint: since the band join
    became an in-partition pair generation (one groupBy, no self-join),
    every stage is consumed exactly once — signatures flow into the
    bucket groupBy, candidates into the verify join — so materializing
    intermediates would only add jobs and latency."""
    sigs = minhash_signature(df, id_col, text_col, num_perm, shingle_n)
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band)
    return jaccard_verify(df, cands, id_col, text_col, threshold, shingle_n)


def _band_key_array(bands: int, rows_per_band: int) -> Column:
    """The per-signature array of LSH band keys (shared by the batch
    and full-corpus paths)."""
    return F.array(
        *[
            F.concat_ws(
                "|",
                *[
                    try_element_at("sig", b * rows_per_band + r + 1).cast(
                        "string"
                    )
                    for r in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )


def minhash_sig_agreement(a: Column, b: Column) -> Column:
    """Fraction of equal minhash components — the standard unbiased
    estimate of Jaccard similarity from two signatures (Broder 1997).
    Rounded to 6 so external engines reproduce the value."""
    eq = F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v)
    return F.round(F.size(eq) / F.size(a), 6)


def minhash_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    *,
    max_candidates: int = 200,
    broadcast_batch: bool = True,
    within_batch: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against a persisted minhash index — the daily
    ingest path: re-running full-corpus dedup per batch is O(corpus)
    every day, this is O(batch + matches).

    ``index`` is the stored signature table ``(id string, sig
    array<long>)`` built by :func:`minhash_signature` over everything
    already accepted (persist it; append each batch's survivors).
    Similarity is ESTIMATED from signature agreement
    (:func:`minhash_sig_agreement`) so the old corpus text is never
    needed — the index alone answers.

    With ``within_batch=True`` (default) the batch is ALSO probed
    against itself: a row whose band bucket collides with a smaller-id
    batch row competes those candidates alongside the index ones, so
    two duplicates arriving in the same batch are caught (the larger id
    flags as dup of the smaller; only the smaller enters the index).
    ``matched_id`` may then name a same-batch row that is itself a dup
    of something older (a chain C→B→A) — every dup is still flagged,
    and followers can resolve chains by joining ``annotated`` to
    itself. Set ``within_batch=False`` to restore the probe-only shape
    (e.g. when the batch was already self-deduped upstream).

    Returns ``(annotated, new_index)``: ``annotated`` = the batch +
    ``is_dup`` / ``matched_id`` / ``agreement`` (best match at
    ``est_threshold``; ties break to the smallest candidate id, and
    index ids compete with batch ids in one ordered pool);
    ``new_index`` = index ∪ signatures of the batch's NON-duplicate
    rows.

    Scale shape (100 TB index, small batch): with
    ``broadcast_batch=True`` the batch's banded keys broadcast, so the
    candidate probe is a MAP-SIDE join over the index — the index never
    shuffles and is read once. Candidate rows (not index rows) flow into
    one batch-keyed groupBy capped at ``max_candidates`` per new doc
    (ordered by old id — the deterministic twin of the full path's
    bucket cap), then scoring joins ride broadcasts of batch-bounded
    tables. A degenerate boilerplate bucket therefore costs one capped
    aggregation of its match rows, never memory. Set
    ``broadcast_batch=False`` for batch sizes past broadcast limits
    (both sides then shuffle on the band key).
    """
    id_col = "doc_id"
    text_col = "text"
    num_perm = 16
    bands = 4
    rows_per_band = 4
    shingle_n = 3
    est_threshold = 0.5
    sigs_new = minhash_signature(
        new_docs, id_col, text_col, num_perm, shingle_n
    )
    # The batch is small BY CONTRACT (the broadcast-batch probe shape);
    # its signature subtree feeds the banded probe, the within-batch
    # self-join, the signature pool, the scoring broadcast, and the
    # survivor index — each an independent broadcast/union build that
    # re-ran the batch shingle + permutation chain (the captured plan
    # held ~8 copies). Materialize the batch-bounded signatures once
    # (opt r12): state is O(batch) rows of (id, 16 longs), recomputed
    # from the inputs on every invocation. localCheckpoint, NOT
    # persist(): a persist registers the fragment with CacheManager,
    # which then silently substitutes InMemoryRelation into every OTHER
    # query in the session whose plan embeds the same batch-signature
    # subtree — a cross-query plan mutation (it broke a bucketed-index
    # exchange-count pin in tests). The lazy checkpoint keeps the reuse
    # local to this lineage (the connected_components precedent).
    # Failure semantics (ADVICE r12): localCheckpoint blocks are NOT
    # resilient — losing an executor that holds them fails downstream
    # actions instead of recomputing, and the blocks linger until
    # driver GC. Acceptable for O(batch) state recomputed per
    # invocation; on preemptible executors re-run the invocation.
    sigs_new = sigs_new.localCheckpoint(eager=False)
    keys = _band_key_array(bands, rows_per_band)
    banded_new = sigs_new.select(
        F.col("id").alias("__new_id"),
        F.posexplode(keys).alias("band", "band_key"),
    )
    if broadcast_batch:
        banded_new = F.broadcast(banded_new)
    banded_idx = index.select(
        F.col("id").alias("__old_id"),
        F.posexplode(keys).alias("band", "band_key"),
    )
    cand_all = banded_idx.join(banded_new, ["band", "band_key"]).select(
        "__new_id", "__old_id"
    )
    if within_batch:
        # batch vs itself: smaller id is the candidate canonical. Both
        # sides are the (small) batch, so this self-join is
        # batch-bounded; the cap below bounds everything downstream.
        cand_batch = (
            banded_new.select(
                F.col("__new_id").alias("__old_id"), "band", "band_key"
            )
            .join(banded_new, ["band", "band_key"])
            .where(F.col("__old_id") < F.col("__new_id"))
            .select("__new_id", "__old_id")
        )
        cand_all = cand_all.unionByName(cand_batch)
    cand = (
        cand_all
        .groupBy("__new_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("__old_id")), 1, max_candidates
            ).alias("__olds")
        )
        .select("__new_id", F.explode("__olds").alias("__old_id"))
    )
    sig_pool = (
        index.unionByName(sigs_new.select("id", "sig"))
        if within_batch
        else index
    )
    old_sigs = sig_pool.join(
        F.broadcast(cand), sig_pool["id"] == F.col("__old_id")
    ).select("__new_id", "__old_id", F.col("sig").alias("__old_sig"))
    scored = old_sigs.join(
        F.broadcast(
            sigs_new.select(
                F.col("id").alias("__new_id"), F.col("sig").alias("__new_sig")
            )
        ),
        "__new_id",
    ).withColumn(
        "agreement",
        minhash_sig_agreement(F.col("__old_sig"), F.col("__new_sig")),
    )
    # best candidate per new doc: highest agreement, then smallest old id
    w = Window.partitionBy("__new_id").orderBy(
        F.col("agreement").desc(), F.col("__old_id").asc()
    )
    best = (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(
            (F.col("__rn") == 1)
            & (F.col("agreement") >= F.lit(est_threshold))
        )
        .select(
            "__new_id",
            F.col("__old_id").alias("matched_id"),
            "agreement",
        )
    )
    annotated = (
        new_docs.join(
            F.broadcast(best),
            new_docs[id_col] == F.col("__new_id"),
            "left",
        )
        .drop("__new_id")
        .withColumn("is_dup", F.col("matched_id").isNotNull())
    )
    keep_sigs = sigs_new.join(
        F.broadcast(best.select("__new_id")),
        sigs_new["id"] == F.col("__new_id"),
        "left_anti",
    )
    return annotated, index.unionByName(keep_sigs)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits a signed 64-bit long


def _token_hash60(tok: Column) -> Column:
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash long): sign of per-bit sums of ±1 over distinct token
    hashes.

    Shape: explode distinct tokens -> one groupBy(id) with 15 packed sums
    (all map-side combinable). Each sum column SWAR-packs four 16-bit
    set-bit counters (bits i, i+15, i+30, i+45) into one long, so the
    aggregate is 15 columns of `sum((h>>i & 1) | (h>>i+15 & 1)<<16 | ...)`
    instead of 60 conditional sums — 4x less generated code, which keeps
    whole-stage codegen under Janino's 64 KB method limit and cuts compile
    latency. Safe while a doc has < 65536 distinct tokens (counter width);
    ties (exactly half the tokens set the bit) produce 0, like the
    reference's sign-of-sum.

    Tokens come from the same canonical normalization as the other dedup
    fingerprints (punctuation stripped), so 'dog today!' == 'dog today'."""
    toks = F.array_distinct(
        F.split(normalize_for_fingerprint(F.col(text_col)), "\\s+")
    )
    tok_df = df.select(
        F.col(id_col).alias("id"), F.explode(toks).alias("tok")
    ).withColumn("h", _token_hash60(F.col("tok")))
    lanes = SIMHASH_BITS // 4  # 15 packed sum columns
    # The packed sums and the 60-term sign assembly are built as SQL
    # TEXT, one F.expr per aggregate — the element-wise Column form
    # cost ~700 py4j round trips and dominated warm query latency
    # (~2.2 s of driver-side build per submission at sf0.1, measured
    # round 8; the text form builds in <0.2 s). The generated
    # expressions are operator-for-operator identical, so plans,
    # oracles, and goldens are unaffected.
    packed = [
        F.expr(
            "sum("
            + "+".join(
                f"shiftleft(shiftright(h, {i + lane * lanes}) & 1, {16 * lane})"
                for lane in range(4)
            )
            + ")"
        ).alias(f"p{i}")
        for i in range(lanes)
    ]
    agg = tok_df.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *packed)
    # bit i+15*lane is set iff 2*count_ones > n_tokens (== sum(+/-1) > 0)
    sig = "+".join(
        f"(CASE WHEN (shiftright(p{i}, {16 * lane}) & 65535) * 2 > n "
        f"THEN CAST({1 << (i + lane * lanes)} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(lanes)
        for lane in range(4)
    )
    return agg.select("id", F.expr(sig).alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance <= max_hamming.

    Banding: split the fingerprint into 60/band_bits bands; by pigeonhole
    any pair within Hamming distance (bands-1) shares an identical band —
    so candidates come from an equi-join on (band, band_value), never a
    cross product. Returns (id_a, id_b, hamming)."""
    band_bits = 15
    bucket_cap = 2000
    # single consumer (the band explode) — plain lineage, no checkpoint
    sigs = simhash(df, id_col, text_col)
    return hamming_near_duplicates(
        sigs,
        hash_col="simhash",
        total_bits=SIMHASH_BITS,
        max_hamming=max_hamming,
        band_bits=band_bits,
        bucket_cap=bucket_cap,
    )


def hamming_near_duplicates(
    sigs: DataFrame,
    id_col: str = "id",
    hash_col: str = "hash",
    total_bits: int = 64,
    max_hamming: int = 3,
    band_bits: int | None = None,
    bucket_cap: int = 2000,
) -> DataFrame:
    """Near-dup pairs among 64-bit-or-less integer fingerprints by
    Hamming distance — the generic banded engine behind
    :func:`simhash_near_duplicates`, reusable for ANY per-item hash
    (image aHash from ``operators/multimodal.py``, audio fingerprints,
    externally computed simhashes).

    Pigeonhole banding: with ``n_bands = total_bits // band_bits``
    bands, any pair within Hamming distance ``n_bands - 1`` shares an
    identical band, so candidates come from an equi-join on
    (band, band_value) — never a cross product. When ``band_bits`` is
    None it is derived as ``total_bits // (max_hamming + 1)`` so the
    guarantee exactly covers ``max_hamming``. Bits are extracted with
    UNSIGNED shifts, so full-64-bit hashes whose top bit makes the
    long negative band correctly.

    Scale shape: one explode to n_bands rows per item, one bucket-cap
    groupBy (degenerate buckets bounded to ``bucket_cap`` members),
    one codegen shuffle-hash self-join per band bucket. Returns
    (id_a, id_b, hamming), distinct.
    """
    if band_bits is None:
        band_bits = max(1, total_bits // (max_hamming + 1))
    n_bands = total_bits // band_bits
    mask = (1 << band_bits) - 1
    banded = sigs.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("__h"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(hash_col, b * band_bits).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "band_val"),
    )
    # Bounded-state bucket pairing (bucket_pairs.capped_bucket_pairs):
    # within-cap buckets self-join in whole-stage codegen (an order of
    # magnitude faster per pair than interpreted array lambdas);
    # degenerate buckets switch to hub pairs against <= cap salted-min
    # representatives — no aggregation buffer ever holds a full bucket,
    # and beyond-cap members still report against the hub set. The
    # fingerprints ride along as a payload so Hamming filters the
    # candidate rows directly, with no join back to the signatures.
    pairs = capped_bucket_pairs(
        banded,
        ["band", "band_val"],
        "id",
        bucket_cap,
        payload_cols=("__h",),
        small_path="join",
        join_hint="shuffle_hash",
    )
    hamming = F.bit_count(F.col("__h_a").bitwiseXOR(F.col("__h_b")))
    return pairs.where(hamming <= max_hamming).select(
        "id_a", "id_b", hamming.alias("hamming")
    )


# ---------------------------------------------------------------------------
# Winnowing (rolling-hash) fingerprints — Schleimer/Wilkerson/Aiken,
# "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """(id, fp array<string>) winnowed fingerprint set per document.

    Hash every character k-gram of the normalized text, slide a window of
    w consecutive hashes, keep each window's minimum: any shared substring
    of length >= w+k-1 between two documents is guaranteed to share a
    selected fingerprint. md5-hex hashes (lexicographic min) keep the
    selection reproducible across engines.

    Scale shape: everything is a per-row projection — zero shuffles. The
    gram hashes materialize as a column first so the window-min transform
    reads a bound array attribute (an expression there would re-evaluate
    per element — quadratic; see ngrams_from_tokens).
    """
    norm = df.select(
        F.col(id_col).alias("id"),
        normalize_for_fingerprint(text_col).alias("__t"),
    )
    n_grams = F.greatest(F.length("__t") - (k - 1), F.lit(1))
    hashed = norm.select(
        "id",
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.md5(F.substring(F.col("__t"), i, k)),
        ).alias("__h"),
    )
    n_wins = F.size("__h") - (w - 1)
    wins = F.when(
        n_wins >= 1,
        F.transform(
            F.sequence(F.lit(1), n_wins),
            lambda j: F.array_min(F.slice(F.col("__h"), j, w)),
        ),
    ).otherwise(F.array(F.array_min(F.col("__h"))))
    return hashed.select("id", F.array_sort(F.array_distinct(wins)).alias("fp"))


def winnow_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int = 2,
    bucket_cap: int = 200,
) -> DataFrame:
    """(id_a, id_b, shared) pairs sharing >= min_shared winnowed
    fingerprints — containment/plagiarism-style near-dup detection.

    Same bucketed shape as minhash LSH: explode fingerprints, cap each
    hash's posting list at ``bucket_cap`` (boilerplate shared by
    thousands of docs would otherwise go quadratic, the same skew the
    minhash band cap bounds), then a hash equi-self-join counts shared
    fingerprints per pair. The join runs in whole-stage codegen — pair
    expansion through interpreted array lambdas measured orders of
    magnitude slower on hot hashes.

    The cap is BOUNDED-STATE (r7): postings within the cap pass through
    untouched (exact, identical to uncapped); over-cap posting lists
    keep the min id per md5 salt slot — O(1) aggregation state, never a
    corpus-scale window (the former ``row_number over (partition by
    h)`` serialized a hot fingerprint's whole posting list through one
    reducer). Work bound unchanged: <= cap members per fingerprint;
    only WHICH members survive an over-cap posting changes (salted-min
    instead of rank-by-id — a truncation either way).

    COST IS DENSITY-DRIVEN, not shape-driven (r12 soak,
    PERFORMANCE.md): winnowing emits ~2/(w+1) fingerprints per
    CHARACTER (one window-min per position, pre-dedup), so postings
    volume scales with corpus BYTES — k=5/w=4 measured 0.296
    postings/char and ~30x minhash's cost on the same corpus through
    the identical banded pair-join. For corpus-scale runs raise w (and
    k) toward the guarantee you actually need — matches of length
    >= w+k-1 are still caught: k=8/w=50 (t=57 chars) measured
    0.034 postings/char, 3.6x faster end-to-end. Small k/w is for
    short-match forensics (plagiarism), not corpus dedup.
    """
    k = 5
    w = 4
    from .bucket_pairs import salt_slot

    fp = winnow_fingerprints(df, id_col, text_col, k, w)
    # Materialization strategies MEASURED SLOWER than recompute here
    # (r12 build round + opt r12, 5-run medians at sf0.1): the posting
    # subtree feeds the census, the anti-join, the reps, and both pair
    # sides — the plan re-executes the scan + md5 chain up to 8x — yet
    # an explicit posts-side repartition benched 13.6 s vs 9.4 s warm,
    # and persist(MEMORY_AND_DISK) of the pre-explode fp arrays benched
    # 23.4 s vs 10.3 s median (back-to-back A/B): winnowed fingerprints
    # are ~10x the text bytes (one 32-char md5 hex per ~3 chars at
    # k=5/w=4), so the columnar cache build + 5x array deserialization
    # costs more than re-running the column-pruned scan + hash chain
    # per consumer. The zero-materialization shape stands.
    # explode_outer, NOT explode: a plain explode makes the optimizer
    # infer a size(fp) > 0 filter and push it below the staged
    # projections, inlining the whole winnowing expression with the
    # k-gram hash transform inside the window lambda — re-evaluated per
    # window, O(len²) md5 per row (measured: minutes vs sub-second).
    # fp is never empty (the <w fallback emits one element), so the
    # outer variant is semantically identical.
    # NOT a binary key (opt r12 negative result): unhex-ing the hex
    # digest to 16 bytes halves key width but benched 19.1 s vs 12.0 s
    # median — BinaryType equality/hashing in the agg/join paths is
    # slower than UTF8String's optimized comparators, and the pair join
    # is comparator-bound, not byte-bound, at this scale.
    # NOT a long-decoded key either (opt r13, 5th negative result,
    # probe script in git history): decoding the hex into native
    # longs — struct<h1,h2 bigint> 20.9 s, two top-level bigint columns
    # 15.8 s vs 14.0 s hex median, slower in EVERY interleaved round
    # (parity-gated: 179,843 identical pairs). The 4x conv(8-hex) +
    # shift/or decode re-runs per consumer of the posting subtree
    # (census, anti, semi, reps, both join sides) and costs more than
    # the long comparators save; with materialization also measured
    # slower (above), the hex key question is closed.
    # NOT localCheckpoint either (opt r12, 4th negative result):
    # checkpointing `capped` (chain runs once per join side) benched
    # 11.29 s vs 11.07 s, checkpointing `posts` AND `capped` 10.23 s —
    # both inside the ±1 s noise band of 5 interleaved rounds
    # (probe script in git history). The warm cost is the ~83M-row
    # semantic pair volume (sum of capped n_h² — the exact pair set the
    # oracle models), not the duplicated hash chain.
    posts = fp.select("id", F.explode_outer("fp").alias("h"))
    sizes = posts.groupBy("h").agg(F.count(F.lit(1)).alias("__n"))
    big_keys = sizes.where(F.col("__n") > bucket_cap).select("h")
    small = posts.join(big_keys, "h", "left_anti")
    reps = (
        posts.join(big_keys, "h", "left_semi")
        .groupBy("h", salt_slot("id", bucket_cap).alias("__slot"))
        .agg(F.min("id").alias("id"))
        .select("h", "id")
    )
    capped = small.unionByName(reps)
    a = capped.select(F.col("h"), F.col("id").alias("id_a"))
    b = capped.select(F.col("h"), F.col("id").alias("id_b"))
    return (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Line-level dedup — drop boilerplate lines repeated across documents
# (the CCNet / RefinedWeb preprocessing step)
# ---------------------------------------------------------------------------


def line_level_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_docs: int = 1,
) -> DataFrame:
    """(id, text) with every line that appears in more than ``max_docs``
    distinct documents removed, line order otherwise preserved.

    Scale shape: posexplode -> count per distinct line hash (map-side
    combine collapses boilerplate before the shuffle) -> sort-merge
    equi-join of the exploded corpus against the count table -> one
    groupBy(id) reassembly. Counting and joining run on ``xxhash64(line)``
    (8 bytes) rather than the raw line string, so the count shuffle and
    the join's build side never carry text; only the reassembly side does
    (it has to — the surviving lines are the output). A 64-bit collision
    merges two distinct lines' counts (~n^2/2^65: a handful of lines in
    10^10 distinct — noise for boilerplate thresholds).
    """
    sep = "\n"
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).withColumn("__lh", F.xxhash64("line"))
    counts = lines.groupBy("__lh").agg(
        F.count_distinct("id").alias("__docs")
    )
    kept = (
        lines.join(counts, "__lh")
        .where(F.col("__docs") <= max_docs)
        .groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("text")
        )
    )
    # documents whose every line was boilerplate come back empty, not absent
    return df.select(F.col(id_col).alias("id")).join(kept, "id", "left").select(
        "id", F.coalesce("text", F.lit("")).alias("text")
    )


def paragraph_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus-wide paragraph dedup (the CCNet/RefinedWeb granularity
    between exact-document and line-level): every paragraph keeps its
    GLOBAL first occurrence — ordered by (doc id, position) — and later
    copies are dropped; documents reassemble from their surviving
    paragraphs in order.

    Returns (id, text, n_paragraphs, kept_paragraphs, kept_ratio) — the
    ratio is the standard post-dedup quality signal (a page that lost
    most of its paragraphs was boilerplate).

    Scale shape: first-occurrence is a map-side-combinable
    ``groupBy(hash).agg(min(struct(id, pos)))`` joined back on the hash
    (the r6 exact-dedup pattern — NOT a window over the unbounded
    paragraph-hash key, which would serialize a boilerplate paragraph's
    hundred-million occurrences through one reducer). The count/join
    side carries md5 hashes, never paragraph text; only the reassembly
    groupBy does (it must — the surviving text is the output), and its
    buffer is bounded by a single document's size. Paragraphs whose
    normalized form is empty are structural whitespace and always kept.
    """
    sep = "\n\n"
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).withColumn("__ph", F.md5(normalize_for_fingerprint("para")))
    first = paras.where(F.col("__ph") != _EMPTY_NORM_MD5).groupBy("__ph").agg(
        F.min(F.struct("id", "pos")).alias("__first")
    )
    kept = paras.join(first, "__ph", "left").where(
        F.col("__first").isNull()
        | (
            (F.col("__first.id") == F.col("id"))
            & (F.col("__first.pos") == F.col("pos"))
        )
    )
    stats = paras.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_paragraphs")
    )
    out = (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
                sep,
            ).alias("text"),
            F.count(F.lit(1)).alias("kept_paragraphs"),
        )
    )
    return (
        stats.join(out, "id", "left")
        .select(
            "id",
            F.coalesce("text", F.lit("")).alias("text"),
            "n_paragraphs",
            F.coalesce("kept_paragraphs", F.lit(0)).alias("kept_paragraphs"),
            F.round(
                F.coalesce("kept_paragraphs", F.lit(0))
                / F.col("n_paragraphs"),
                6,
            ).alias("kept_ratio"),
        )
    )


# md5 of the empty string — the normalized form of a whitespace-only
# paragraph; kept unconditionally (structure, not content)
_EMPTY_NORM_MD5 = "d41d8cd98f00b204e9800998ecf8427e"


def near_dup_prune(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str | None = None,
) -> DataFrame:
    """Keep ONE representative per near-duplicate cluster.

    ``pairs`` are (id_a, id_b) near-dup edges from any of this module's
    detectors (minhash / simhash / winnowing) or the embedding paths;
    transitive clusters come from operators/dedup's one component pass
    (:func:`~.dedup.connected_components`: a driver union-find when the
    edges fit its edge limit, distributed min-label propagation above).
    Within a cluster the highest ``quality_col`` wins, ties break to the
    smallest id; with no quality column the smallest id wins outright
    (the common keep-first-seen policy). Documents in no pair keep
    themselves.

    Output = input + ``cluster_id`` (own id for singletons) + ``keep``.

    Scale shape: the ranking window shuffles ONLY clustered rows
    (bounded by the duplicate count, not the corpus). The keep-flag
    table is proportional to the duplicate count, so NO broadcast hint
    is planted for the final join — AQE sizes it at runtime and picks
    broadcast vs shuffle-hash itself (at a realistic LLM-corpus dup
    rate the flag table is a large fraction of the corpus and must NOT
    broadcast).
    """
    from .dedup import connected_components

    # the CC landing frame is string-typed (driver union-find path);
    # compare and emit cluster ids as strings regardless of the id type
    comps = connected_components(
        pairs.select(
            F.col(pairs.columns[0]).cast("string").alias("id_a"),
            F.col(pairs.columns[1]).cast("string").alias("id_b"),
        )
    ).withColumnsRenamed({"id": "__nd_id", "component": "__nd_comp"})
    sid = F.col(id_col).cast("string")
    clustered = df.join(comps, sid == F.col("__nd_id"), "inner")
    order = (
        [F.col(quality_col).desc(), F.col(id_col).asc()]
        if quality_col
        else [F.col(id_col).asc()]
    )
    w = Window.partitionBy("__nd_comp").orderBy(*order)
    flags = clustered.withColumn("__nd_rn", F.row_number().over(w)).select(
        F.col("__nd_id"),
        F.col("__nd_comp"),
        (F.col("__nd_rn") == 1).alias("__nd_keep"),
    )
    out = df.join(
        flags, df[id_col].cast("string") == F.col("__nd_id"), "left"
    )
    return (
        out.withColumn(
            "cluster_id",
            F.coalesce(F.col("__nd_comp"), F.col(id_col).cast("string")),
        )
        .withColumn("keep", F.coalesce(F.col("__nd_keep"), F.lit(True)))
        .drop("__nd_id", "__nd_comp", "__nd_keep")
    )


def duplication_weights(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, fp, n_copies, weight) — soft deduplication: every copy of a
    duplicated text survives but carries sampling weight 1/n_copies, so
    the CONTENT's total contribution to training matches a deduped
    corpus while the loader keeps its natural data order ("SoftDedup",
    He et al. 2024 — reweight, don't remove; the hard-removal tier is
    :func:`exact_duplicates` / :func:`distinct_by_text`).

    Same hot-key shape as exact_duplicates: the copy census is a
    map-side-combined ``groupBy(fp).count()`` joined back on fp
    (AQE-skew-eligible) — never a ``count() OVER (PARTITION BY fp)``
    window, which would ship a boilerplate fingerprint's hundred
    million rows through one reducer. Weight rounds to 6 decimals so
    external engines reproduce it.
    """
    with_fp = df.select(
        F.col(id_col).alias("id"), fingerprint(text_col).alias("fp")
    )
    census = with_fp.groupBy("fp").agg(F.count(F.lit(1)).alias("n_copies"))
    return with_fp.join(census, "fp").select(
        "id",
        "fp",
        "n_copies",
        F.round(F.lit(1.0) / F.col("n_copies"), 6).alias("weight"),
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, n_grams, n_novel, novelty) — per-document fraction of its
    distinct token ``n``-grams that appear in NO other document: the
    inverse-boilerplate signal (near-0 = assembled from corpus-common
    phrasing — templates, mirrors, spam farms; near-1 = original
    prose). The per-document complement of the corpus-level dedup
    family: dedup asks "which documents repeat?", novelty asks "how
    much of THIS document is repeated material?" — the
    quality-weighting signal RefinedWeb-class pipelines derive from
    their dedup side products.

    Shape: distinct grams explode once; the gram census is a
    map-side-combined groupBy (grams are distinct per doc, so the
    count IS document frequency) joined back on the gram key
    (AQE-skew-eligible — boilerplate grams are exactly the hot keys);
    the per-doc ratio re-aggregates on the doc id. No windows, no
    unbounded state.
    """
    from ..functions.text import token_ngrams

    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(token_ngrams(text_col, n)).alias("g"),
    )
    # Aggregate BEFORE shuffling (guide §2.3, opt r12): grams are
    # distinct per document, so a df==1 gram belongs to exactly one
    # document — carrying min(id) through the census (O(1) extra state
    # per gram) lets the novel count come from the census rows alone.
    # The former shape joined the full gram stream back to the census
    # on the gram key: one extra corpus-sized exchange of gram strings
    # plus a corpus-sized post-join re-aggregation, replaced here by
    # two per-document-sized shuffles (both map-side combined) and a
    # per-document join. Results are identical row-for-row.
    # Non-null id contract (ADVICE r12): the census-owner shape cannot
    # attribute a novel gram to a NULL document id (null keys never
    # equi-join), so a null-id document reports n_novel=0 where the old
    # join-back shape counted its grams. Document ids are non-null by
    # the corpus contract (every upstream source derives them from
    # parquet keys); assert it cheaply via the totals join below
    # staying inner on non-null ids if that contract ever loosens.
    census = grams.groupBy("g").agg(
        F.count(F.lit(1)).alias("df"), F.min("id").alias("owner")
    )
    novel = (
        census.where(F.col("df") == 1)
        .groupBy(F.col("owner").alias("id"))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    totals = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        totals.join(novel, "id", "left")
        .select(
            "id",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias(
                "n_novel"
            ),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0).cast("long"))
                / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
    )
