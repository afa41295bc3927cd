"""Distribution diagnostics: shuffle-skew reports (the heavy hitters
with their salt) and a per-group corpus datacard.

Operating a shuffle-heavy pipeline at 100 TB starts with knowing the
key distribution: every groupBy/join in this engine hashes on some key
(dedup blocking keys, canonical URLs, host ids, band buckets), and a
single heavy key turns one reducer into the job's critical path. These
operators answer the two ops questions — "which keys are hot?" and
"how should I salt?" — and produce the per-source corpus summary
("datacard") that LLM-corpus releases publish alongside the data
(composition, token budget, duplication rate, quality distribution).

Closest reference analogue: the countValues console command
(reference `src/RecordManager/Base/Command/Records/CountValues.php`,
re-expressed in operators/count_values.py) — these generalize it from
"count one field's values" to ranked-share reports and salt
recommendations. The datacard composes the same per-row statistics the
quality/text modules already expose.

Scale shape (both):

- One map-side-combinable groupBy over the key columns; every
  downstream step operates on the GROUPED table (bounded by key
  cardinality, not corpus rows).
- The corpus-total row needed for shares is a second aggregation over
  the grouped exchange — Spark's ReuseExchange rule dedupes the two
  identical shuffle subtrees, so the corpus is scanned and partially
  aggregated ONCE (asserted by the plan audit's exchange contract).
- Ranking is orderBy+limit = TakeOrderedAndProject: each partition
  keeps top_n rows, the driver merges P*top_n — never a full sort.
- The datacard's distinct-count and percentile default to the exact
  forms (hash-verifiable against external SQL engines); production
  runs on billions of rows per group should pass approach="approx"
  (approx_count_distinct + approx_percentile, bounded sketch state),
  mirroring quality_buckets' dual paths.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, quality_score, token_count


def _key_counts(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """(keys..., cnt) plus a broadcast 1-row total — grouped once."""
    g = df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = g.agg(F.sum("cnt").alias("__tot"))
    return g.crossJoin(F.broadcast(tot))


def skew_report(
    df: DataFrame,
    key_cols: Sequence[str],
    top_n: int = 20,
    partitions: int | None = None,
) -> DataFrame:
    """Top ``top_n`` key combinations by row count (ties break to the
    ascending key), with corpus share and shuffle-skew metrics.

    For a shuffle into ``partitions`` reducers (default: the session's
    ``spark.sql.shuffle.partitions``), a key with ``cnt`` rows fills
    ``skew_factor = cnt / (total / partitions)`` reducers' worth of
    data. ``suggested_salt = max(1, ceil(skew_factor))`` is the salt
    fan-out that levels that key back to one reducer's share — the
    number to feed a salted repartition (or to confirm AQE's skew-join
    split handled it, see the dedup blocking cap).

    Output: ``*key_cols, cnt, share, skew_factor, suggested_salt``.
    """
    if partitions is None:
        partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    g = _key_counts(df, key_cols)
    sf = F.col("cnt") * F.lit(partitions) / F.col("__tot")
    return (
        g.withColumn("share", F.round(F.col("cnt") / F.col("__tot"), 6))
        .withColumn("skew_factor", F.round(sf, 4))
        .withColumn(
            "suggested_salt",
            F.greatest(F.lit(1), F.ceil(sf)).cast("int"),
        )
        .drop("__tot")
        .orderBy(
            F.col("cnt").desc(), *[F.col(c).asc() for c in key_cols]
        )
        .limit(top_n)
    )


def corpus_datacard(
    df: DataFrame,
    by: Sequence[str] = ("source", "lang"),
    text_col: str = "text",
    approach: str = "exact",
) -> DataFrame:
    """Per-group corpus summary — the table a dataset release publishes:
    document/token/char budgets, exact-duplicate rate (content
    fingerprints), and the quality-score distribution.

    ``approach="exact"`` (default) uses count_distinct + exact
    percentile so external SQL engines reproduce the values
    bit-for-bit; ``approach="approx"`` swaps in approx_count_distinct
    (HLL++, relative error ``rsd``) and approx_percentile (KLL-style
    sketch, ``accuracy``) whose aggregation state is bounded regardless
    of group size — the 100 TB path, same dual-mode contract as
    quality_buckets.

    Output: ``*by, n_docs, ws_tokens, n_chars, n_unique, dup_rate,
    mean_quality, median_quality``. One projection computes the per-row
    statistics, one groupBy aggregates them; the corpus never shuffles
    (only the per-row stat rows do, map-side combined).
    """
    rsd = 0.01
    accuracy = 10_000
    q = F.round(quality_score(text_col), 2)
    per = df.select(
        *[F.col(c) for c in by],
        token_count(text_col).alias("__nt"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("__nc"),
        fingerprint(text_col).alias("__fp"),
        q.alias("__q"),
    )
    if approach == "exact":
        uniq = F.count_distinct(F.col("__fp"))
        med = F.expr("percentile(__q, 0.5)")
    elif approach == "approx":
        uniq = F.approx_count_distinct("__fp", rsd)
        med = F.expr(f"approx_percentile(__q, 0.5, {accuracy})").cast(
            "double"
        )
    else:
        raise ValueError(f"approach must be 'exact' or 'approx': {approach!r}")
    return per.groupBy(*[F.col(c) for c in by]).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("ws_tokens"),
        F.sum("__nc").alias("n_chars"),
        uniq.alias("n_unique"),
        F.round(
            F.lit(1.0) - uniq / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
        F.round(F.avg("__q"), 4).alias("mean_quality"),
        F.round(med, 4).alias("median_quality"),
    )


def ann_recall_report(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall@k of an approximate ANN result against the exact
    one: (query_id, n_exact, n_approx, n_hit, recall).

    The num_planes/n_probe pre-flight the minhash calibration report is
    for LSH band config: run both searches on a bounded query sample,
    read the recall distribution, then commit the index parameters for
    the full corpus. Inputs are top-k lists — (query_id, neighbor_id,
    ...) — so every join here carries at most k rows per query and
    co-partitions on query_id: bounded state at any query count. The
    expensive parts are the searches that PRODUCED the inputs; this
    report is free by comparison.

    Recall is |approx ∩ exact| / |exact| per query (round 6); queries
    the approximate index missed entirely still appear (n_approx = 0,
    recall = 0) via the exact-side left joins.
    """
    ex = exact.select("query_id", "neighbor_id")
    ap = approx.select("query_id", "neighbor_id")
    hit = ex.join(ap, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    exn = ex.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    apn = ap.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_approx"))
    return (
        exn.join(apn, "query_id", "left")
        .join(hit, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_approx"), F.lit(0)).alias("n_approx"),
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("recall"),
        )
    )


def source_overlap_report(
    df: DataFrame,
    group_col: str = "source",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Pairwise content overlap between corpus slices: for every pair
    of groups sharing at least one content fingerprint, (source_a,
    source_b, n_shared, n_a, n_b, jaccard) with jaccard =
    |A ∩ B| / |A ∪ B| over distinct fingerprints.

    The mixture-planning companion to corpus_datacard: two crawls with
    high overlap double-weight their shared content in a naive mixture
    (RefinedWeb/RedPajama both report this before setting weights).

    Shape: distinct (group, fp) first — per-fingerprint state is then
    bounded by the GROUP COUNT (a boilerplate fp present everywhere
    contributes at most |groups|² pair rows, never doc²); the pair
    join keys on fp (equi-join over co-partitioned distinct sets) and
    aggregates to group-pair cardinality rows. Group totals join back
    broadcast (group count is small by definition of "sources").
    Pairs with zero shared fingerprints are absent by construction.
    """
    sf = df.select(
        F.col(group_col).alias("g"), F.col(fp_col).alias("fp")
    ).distinct()
    a = sf.select(F.col("g").alias("source_a"), "fp")
    b = sf.select(F.col("g").alias("source_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    tot = sf.groupBy("g").agg(F.count(F.lit(1)).alias("nf"))
    return (
        pairs.join(
            F.broadcast(tot.select(F.col("g").alias("source_a"), F.col("nf").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(tot.select(F.col("g").alias("source_b"), F.col("nf").alias("n_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


def token_divergence_report(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """Pairwise token-distribution divergence between corpus slices:
    (source_a, source_b, js_divergence, total_variation) over hashed
    token buckets — the distribution-shift companion to
    source_overlap_report (overlap sees shared DOCUMENTS; this sees
    vocabulary drift even with zero shared documents — two crawls of
    the same sites months apart overlap little but diverge little).

    Shape: ONE corpus scan explodes tokens into ``n_buckets`` hash
    buckets (the lm_score/DSIR feature space) -> a map-side-combined
    (group, bucket) census — per-group state bounded by n_buckets
    regardless of corpus size -> bucket-keyed self-join of the tiny
    census for every group pair. Jensen-Shannon handles disjoint
    support exactly: buckets present in only one side contribute
    0.5*ln2 of that side's unmatched mass (the closed form of the
    p*ln(2p/(p+q)) terms at q=0), so no smoothing constant is needed.
    Rounded to 6; natural-log JS (max ln 2).
    """
    from ..functions.text import normalize_for_fingerprint, tokenize

    tok = df.select(
        F.col(group_col).alias("g"),
        F.explode(tokenize(normalize_for_fingerprint(text_col))).alias("t"),
    )
    bucket = (
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long")
        % n_buckets
    )
    census = tok.select("g", bucket.alias("b")).groupBy("g", "b").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = census.groupBy("g").agg(F.sum("c").alias("n"))
    probs = census.join(F.broadcast(tot), "g").select(
        "g", "b", (F.col("c") / F.col("n")).alias("p")
    )
    a = probs.select(
        F.col("g").alias("source_a"), "b", F.col("p").alias("pa")
    )
    bb = probs.select(
        F.col("g").alias("source_b"), "b", F.col("p").alias("pb")
    )
    matched = (
        a.join(bb, "b")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(
                0.5 * F.col("pa") * F.log(2.0 * F.col("pa") / (F.col("pa") + F.col("pb")))
                + 0.5 * F.col("pb") * F.log(2.0 * F.col("pb") / (F.col("pa") + F.col("pb")))
            ).alias("js_matched"),
            F.sum("pa").alias("ma"),
            F.sum("pb").alias("mb"),
            F.sum(F.abs(F.col("pa") - F.col("pb"))).alias("tv_matched"),
        )
    )
    # pairs with DISJOINT bucket support never meet the bucket equi-join
    # — build the pair universe from the (tiny) group list so they
    # still report, at the closed-form maxima (js = ln 2, tv = 1)
    groups = tot.select("g")
    pairs = (
        groups.select(F.col("g").alias("source_a"))
        .crossJoin(F.broadcast(groups.select(F.col("g").alias("source_b"))))
        .where(F.col("source_a") < F.col("source_b"))
    )
    ln2 = 0.6931471805599453
    full = pairs.join(matched, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        F.coalesce(F.col("js_matched"), F.lit(0.0)).alias("js_matched"),
        F.coalesce(F.col("ma"), F.lit(0.0)).alias("ma"),
        F.coalesce(F.col("mb"), F.lit(0.0)).alias("mb"),
        F.coalesce(F.col("tv_matched"), F.lit(0.0)).alias("tv_matched"),
    )
    return full.select(
        "source_a",
        "source_b",
        F.round(
            F.col("js_matched")
            + F.lit(0.5 * ln2) * ((1.0 - F.col("ma")) + (1.0 - F.col("mb"))),
            6,
        ).alias("js_divergence"),
        F.round(
            F.lit(0.5)
            * (F.col("tv_matched") + (1.0 - F.col("ma")) + (1.0 - F.col("mb"))),
            6,
        ).alias("total_variation"),
    )


def boilerplate_ngram_report(
    df: DataFrame,
    n: int = 3,
    min_doc_frac: float = 0.01,
    top_k: int = 100,
) -> DataFrame:
    """The corpus's most over-represented token ``n``-grams —
    (gram, n_docs, doc_frac), top ``top_k`` by document frequency.

    The corpus-level complement of :func:`ngram_novelty
    <recordmanager_spark.operators.text_dedup.ngram_novelty>`: novelty
    scores each DOCUMENT by how much repeated material it carries;
    this report names the repeated MATERIAL itself — the
    template/footer/mirror phrasing a curation pass turns into a
    removal or down-weighting list (the CCNet/RefinedWeb boilerplate
    side product), and the first thing a human reads when a source's
    novelty distribution collapses.

    Shape: distinct grams per document explode once (so the count IS
    document frequency); the census is one map-side-combinable
    groupBy; ``min_doc_frac`` (against a lazily-joined 1-row corpus
    census — nothing collects) prunes the long unique tail BEFORE the
    ranking; the final top-k is a sort-limit, which Spark executes as
    TakeOrderedAndProject — O(top_k) state per partition, never a
    window. Determinism: ties break on the gram string ascending, so
    the DuckDB oracle reproduces rows exactly.
    """
    id_col = "doc_id"
    text_col = "text"
    from ..functions.text import token_ngrams

    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(token_ngrams(text_col, n)).alias("gram"),
    )
    census = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n_docs"))
    total = df.select(F.count(F.lit(1)).alias("__total"))
    return (
        census.crossJoin(F.broadcast(total))
        .where(F.col("n_docs") >= F.col("__total") * F.lit(min_doc_frac))
        .select(
            "gram",
            "n_docs",
            F.round(F.col("n_docs") / F.col("__total"), 6).alias("doc_frac"),
        )
        .orderBy(F.col("n_docs").desc(), F.col("gram").asc())
        .limit(top_k)
    )
