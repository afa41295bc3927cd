"""Training-batch assembly: sequence packing, source mixing, stratified
sampling.

These are the operators a pre-training data pipeline runs AFTER
filtering/dedup: pack documents into fixed-token-budget sequences
(GPT-style concat-and-chunk), repeat sources by epoch weights (data
mixing a la The Pile / LLaMA recipes), and downsample strata at
per-stratum rates — all deterministic, so runs are reproducible and
resumable.

No counterpart in the reference (it stops at the Solr sink); this module
extends the engine toward LLM-corpus preparation the same way
text_dedup/similarity do.

Scale notes
-----------
- ``pack_sequences`` orders documents within a SHARD, not globally: a
  global pack is a single-partition window sort (driver-killing at
  100 TB). Sharding first means each shard packs independently — the
  shuffle is a hash partition by shard plus an in-partition sort, and
  shards are independent training streams, which is what loaders consume
  anyway. Bin ids are (shard, bin) pairs so they never collide.
- ``mix_sources`` emits repeats via ``explode(sequence(...))`` — a
  map-side row multiplication, no shuffle, no driver involvement.
- ``stratified_sample`` is a pure scan-stage filter on a deterministic
  md5-derived unit hash: no shuffle, restartable, and the same rows
  survive on every engine/run (unlike ``rand()``-based sampling).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def unit_hash(col: Column | str, salt: str = "") -> Column:
    """Deterministic hash of a column into [0, 1).

    First 8 hex chars of md5 → 32-bit int → /2^32. Engine-portable (the
    DuckDB oracle replicates it digit-by-digit) and salted so independent
    decisions (sampling vs mixing) do not correlate.
    """
    c = F.col(col) if isinstance(col, str) else col
    h = F.md5(F.concat(F.lit(salt), c.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(
        float(2**32)
    )


def cap_per_group(
    df: DataFrame,
    group_cols: list[str],
    cap: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Thin each group to ~``cap`` rows, deterministically and with
    bounded state — the RefinedWeb/C4-style per-domain (or per-source)
    frequency cap that stops one mega-site from dominating a crawl mix.

    Groups at or under the cap keep EVERY row exactly. Over-cap groups
    keep each row independently with probability ``cap / n`` keyed on
    ``unit_hash(id)`` — expected ``cap`` survivors, deterministic
    across reruns and engines (the DuckDB oracle replicates the md5
    device digit-for-digit), and rerun-stable under corpus growth in
    the same way the train/val/test splitter is. Every over-cap group
    additionally keeps AT LEAST its min-``unit_hash`` row: a pure
    Bernoulli thinning drops an entire group with probability
    ~``e^-cap`` (37% at cap=1 — a capped domain silently vanishing
    from the mix), so the census aggregates an O(1)-state ``min_by``
    representative alongside the count (hypothesis-pinned in
    tests/test_properties.py).

    Scale shape (the census join-back pattern from
    ``operators/bucket_pairs.py``): one map-side-combinable
    ``groupBy(group).count()`` census, equi-joined back CO-PARTITIONED
    (shuffle_hash — never broadcast, the census is one row per group
    and domains number in the hundreds of millions at crawl scale),
    then a pure scan-stage keep filter. No windows — a hot domain
    never concentrates rows in one task's sort buffer — and no
    aggregation state beyond the census counters.

    An exact top-k-by-quality variant is deliberately NOT offered: an
    exact per-group rank is a window over an unbounded hot key (the r6
    ADVICE class). Rank on quality instead by pre-filtering with
    ``quality_buckets`` / ``nb_quality`` scores, then capping."""
    salt = "cap"
    sizes = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__gn"),
        F.min_by(F.col(id_col), unit_hash(F.col(id_col), salt)).alias(
            "__keep1"
        ),
    )
    joined = df.join(sizes.hint("shuffle_hash"), list(group_cols))
    keep = (
        (F.col("__gn") <= cap)
        | (unit_hash(F.col(id_col), salt) * F.col("__gn") < F.lit(float(cap)))
        | (F.col(id_col) == F.col("__keep1"))
    )
    return joined.where(keep).drop("__gn", "__keep1")


def pack_sequences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = 2048,
    shard_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-2/3 appendix-style).

    Documents are laid end-to-end in deterministic ``id`` order within a
    shard and the stream is cut every ``budget`` tokens. Each document
    row gains:

    - ``shard``       — pack shard id
    - ``pack_offset`` — token offset of the document within the stream
    - ``bin_start``   — id of the bin where the document begins
    - ``bin_end``     — id of the bin where it ends
    - ``n_bins``      — how many bins it spans (crosses a cut when > 1)

    Exact-first-fit packing needs a sequential scan; concat-and-chunk is
    what large pipelines actually use because it is a pure prefix sum —
    one window aggregation, fully parallel across shards.

    Pass ``shard_col`` to use an existing shard assignment; without it,
    everything packs in one shard (fine for tests; a global
    single-partition sort at scale — don't).
    """
    if shard_col is None:
        df = df.withColumn("shard", F.lit(0))
        shard_col = "shard"
    elif shard_col != "shard":
        df = df.withColumn("shard", F.col(shard_col))

    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = F.col(tokens_col).cast("long")
    cum_before = F.coalesce(F.sum(toks).over(w), F.lit(0).cast("long"))
    bin_start = F.floor(cum_before / budget)
    # a 0-token document occupies no bin span; clamp its end to its start
    bin_end = F.floor((cum_before + F.greatest(toks, F.lit(1)) - 1) / budget)
    return df.select(
        "*",
        cum_before.alias("pack_offset"),
        bin_start.alias("bin_start"),
        bin_end.alias("bin_end"),
        (bin_end - bin_start + 1).alias("n_bins"),
    )


def mix_sources(
    df: DataFrame,
    weights: dict[str, float],
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Epoch-weighted source mixing with deterministic fractional repeats.

    A weight of 2.4 means every document of that source appears twice and
    a deterministic 40% of them (by unit hash of the id) a third time —
    the standard "epochs per source" recipe. Output rows carry ``rep``
    (0-based repeat ordinal) so downstream shuffling can interleave.

    Plan shape: the weight table is a literal CASE (a handful of
    sources), the repeat expansion is ``explode(sequence())`` — map-side
    only, rows never shuffle.
    """
    default_weight = 1.0
    w_expr: Column = F.lit(float(default_weight))
    for src, w in weights.items():
        w_expr = (
            F.when(F.col(source_col) == src, F.lit(float(w))).otherwise(w_expr)
        )
    whole = F.floor(w_expr).cast("int")
    frac = w_expr - F.floor(w_expr)
    extra = (unit_hash(F.col(id_col), salt) < frac).cast("int")
    n_rep = whole + extra
    out = df.withColumn("__n_rep", n_rep).where(F.col("__n_rep") > 0)
    return (
        out.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.col("__n_rep") - 1))
        )
        .drop("__n_rep")
    )


def chunk_documents(
    df: DataFrame,
    chunk_chars: int = 2048,
    overlap: int = 256,
) -> DataFrame:
    """Fixed-size overlapping character windows — the standard
    context-window chunking step of RAG/pretraining preparation.

    Stride = ``chunk_chars - overlap``; the last chunk may be shorter.
    Every document yields at least one chunk (empty docs produce one
    empty chunk, so no row silently disappears). Output = the input row
    exploded with ``chunk_idx`` (0-based), ``chunk_start`` (1-based char
    offset) and ``chunk_text``.

    Scale shape: pure map-side ``explode(sequence(...))`` + substring —
    zero shuffles, no driver involvement; the chunk count per row is
    derived from ``length(text)`` so the plan is one expression
    regardless of document size. Character-based on purpose: token-exact
    chunking needs the tokenizer and belongs in the loader;
    ``pack_sequences`` handles the token-budget assembly stage.
    """
    text_col = "text"
    if overlap >= chunk_chars:
        raise ValueError(
            f"overlap ({overlap}) must be smaller than chunk_chars "
            f"({chunk_chars})"
        )
    stride = chunk_chars - overlap
    text = F.col(text_col)
    n = F.length(F.coalesce(text, F.lit("")))
    n_chunks = (
        F.when(n <= chunk_chars, F.lit(1))
        .otherwise(
            F.ceil((n - F.lit(chunk_chars)) / F.lit(float(stride))).cast(
                "int"
            )
            + 1
        )
    )
    out = df.withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1))
    )
    start = out["chunk_idx"] * stride + 1
    return out.withColumn("chunk_start", start.cast("long")).withColumn(
        "chunk_text",
        F.coalesce(text, F.lit("")).substr(start, F.lit(chunk_chars)),
    )


def perplexity_score_stub(col: Column | str, salt: str = "ppl") -> Column:
    """DETERMINISTIC STAND-IN for an LM perplexity scorer (no language
    model ships in this runtime — the honest-stub pattern of
    operators/multimodal.py). Scores are a salted md5 unit hash of the
    content, uniform on [0, 1); a real deployment swaps in a
    ``mapInPandas`` batch scorer with the same (text) -> double shape
    and everything downstream (per-language thresholds, bucketing) is
    unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    return unit_hash(c, salt)


def quality_buckets(
    df: DataFrame,
    score_col: str,
    by: str = "lang",
    approach: str = "approx",
) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020 §4.3): within
    each ``by`` group (language), score percentiles at ``cuts`` split
    documents into head / middle / tail — lower score = better = head,
    like perplexity.

    ``approach`` picks the threshold estimator:

    - ``"approx"`` (default, the 100 TB production path):
      ``approx_percentile`` with ``accuracy`` — a bounded-memory
      KLL-style sketch whose per-group aggregation state is O(accuracy)
      REGARDLESS of group row count. This is the only safe default for
      an LLM corpus where the dominant language holds billions of
      near-unique double scores.
    - ``"exact"`` (oracle/testing mode): Spark's exact ``percentile``,
      whose interpolation matches DuckDB's quantile_cont bit-for-bit so
      the correctness oracle reproduces the hash. Its aggregation
      buffer holds every distinct score per group — fine at test scale,
      an executor-OOM hazard on a 100 TB corpus. Bucket assignments of
      the two paths agree except for documents whose score falls inside
      the sketch's rank-error band around a cut (≤ ~1/accuracy of each
      group).

    Plan shape (both paths): one groupBy computes the per-group
    thresholds; the few-row threshold table broadcasts back
    (null-safe, so NULL-group documents bucket against their own
    group's percentiles); assignment is a scan-stage comparison. The
    corpus never shuffles.
    """
    cuts = (1.0 / 3.0, 2.0 / 3.0)
    accuracy = 10_000
    if approach == "exact":
        q1 = F.expr(f"percentile({score_col}, {cuts[0]!r})")
        q2 = F.expr(f"percentile({score_col}, {cuts[1]!r})")
    elif approach == "approx":
        q1 = F.expr(
            f"approx_percentile({score_col}, {cuts[0]!r}, {accuracy})"
        ).cast("double")
        q2 = F.expr(
            f"approx_percentile({score_col}, {cuts[1]!r}, {accuracy})"
        ).cast("double")
    else:
        raise ValueError(f"approach must be 'approx' or 'exact': {approach!r}")
    th = (
        df.groupBy(by)
        .agg(q1.alias("__q1"), q2.alias("__q2"))
        .withColumnRenamed(by, "__qb_grp")
    )
    th = F.broadcast(th)
    out = df.join(th, df[by].eqNullSafe(th["__qb_grp"]), "left").drop("__qb_grp")
    s = F.col(score_col)
    return out.withColumn(
        "bucket",
        F.when(s <= F.col("__q1"), F.lit("head"))
        .when(s <= F.col("__q2"), F.lit("middle"))
        .otherwise(F.lit("tail")),
    ).drop("__q1", "__q2")


def temperature_mix(
    df: DataFrame,
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    temperature: float = 2.0,
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-flattened source mixing: p_s ∝ f_s^(1/τ).

    The standard multilingual/multi-source sampling rule (e.g. mBERT /
    XLM-R exponent-smoothed sampling): raw source frequencies are raised
    to 1/temperature and renormalized, so τ>1 upsamples small sources
    and downsamples dominant ones; τ=1 is proportional passthrough.
    Per-source epoch weights are derived so expected output rows ≈
    the corpus size under the flattened
    distribution, then applied with mix_sources' deterministic
    fractional-epoch expansion (``rep`` ordinal column).

    Plan shape: ONE count groupBy collects a few-row per-source table to
    the driver for the weight arithmetic; the expansion itself is
    map-side only — rows never shuffle.
    """
    counts = {
        r[0]: r[1] for r in df.groupBy(source_col).count().collect()
    }
    total = sum(counts.values())
    if not total:
        return df.withColumn("rep", F.lit(0)).where(F.lit(False))
    powered = {
        s: (n / total) ** (1.0 / temperature) for s, n in counts.items()
    }
    z = sum(powered.values())
    weights = {s: (powered[s] / z) * total / counts[s] for s in counts}
    return mix_sources(
        df, weights, source_col=source_col, id_col=id_col, salt=salt
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    *,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling.

    Keeps a row iff ``unit_hash(id) < rate(stratum)``. Unlike
    ``DataFrame.sample`` this is reproducible across runs, engines, and
    repartitioning — a requirement for auditable corpus construction —
    and it composes with incremental reruns (the same document always
    gets the same verdict).
    """
    r_expr: Column = F.lit(float(default_rate))
    for stratum, r in rates.items():
        r_expr = (
            F.when(F.col(stratum_col) == stratum, F.lit(float(r))).otherwise(
                r_expr
            )
        )
    return df.where(unit_hash(F.col(id_col), salt) < r_expr)


def train_val_test_split(
    df: DataFrame,
    fractions: tuple[float, ...] = (0.98, 0.01, 0.01),
    labels: tuple[str, ...] = ("train", "val", "test"),
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic corpus split by cumulative hash intervals.

    A document lands in split i iff ``unit_hash(id)`` falls in
    ``[cum_{i-1}, cum_i)`` — reproducible across runs, engines, cluster
    sizes, and INCREMENTAL RERUNS (a new batch never reassigns old
    documents, the property ``randomSplit`` lacks). The hash is salted
    so the split is independent of sampling/mixing decisions made with
    the same ids. Fractions must sum to 1 (±1e-9).

    Scale: one scan-stage comparison chain, zero shuffles.
    """
    salt = "split"
    split_col = "split"
    if len(fractions) != len(labels):
        raise ValueError(
            f"{len(fractions)} fractions vs {len(labels)} labels"
        )
    if abs(sum(fractions) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1: {fractions}")
    u = unit_hash(F.col(id_col), salt)
    cum = 0.0
    expr: Column | None = None
    for frac, label in zip(fractions[:-1], labels[:-1]):
        cum += frac
        branch = F.when(u < F.lit(cum), F.lit(label))
        expr = branch if expr is None else expr.when(
            u < F.lit(cum), F.lit(label)
        )
    expr = (
        expr.otherwise(F.lit(labels[-1]))
        if expr is not None
        else F.lit(labels[-1])
    )
    return df.withColumn(split_col, expr)


def corpus_token_stats(
    df: DataFrame,
    by: tuple[str, ...] = ("source", "lang"),
) -> DataFrame:
    """Per-group token-budget report for mixture planning: documents,
    whitespace tokens, BPE-ish subword tokens, characters, mean doc
    length, and each group's share of the corpus token budget — the
    table a mixture designer feeds into ``temperature_mix`` /
    ``mix_sources`` weights.

    Scale: the corpus is scanned and tokenized ONCE (one map-side-
    combined groupBy, output bounded by group cardinality); the global
    total for the share column comes from an unpartitioned window over
    those few grouped rows — NOT a second aggregation branch, which
    would re-scan the corpus.
    """
    text_col = "text"
    from pyspark.sql import Window

    from ..functions.text import bpe_ish_token_count, token_count

    g = df.groupBy(*[F.col(c) for c in by]).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(text_col)).alias("ws_tokens"),
        F.sum(bpe_ish_token_count(text_col)).alias("bpe_ish_tokens"),
        F.sum(F.length(F.coalesce(F.col(text_col), F.lit("")))).alias(
            "n_chars"
        ),
    )
    tot = F.sum("ws_tokens").over(Window.partitionBy())
    return g.withColumn(
        "mean_doc_tokens",
        F.round(F.col("ws_tokens") / F.col("n_docs"), 2),
    ).withColumn("token_share", F.round(F.col("ws_tokens") / tot, 6))


def shuffle_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    seed: str = "0",
) -> DataFrame:
    """Deterministic global training shuffle: assign every example a
    shard and a within-shard sort key from md5(seed:id).

    The training-data requirement this serves: epoch data order must be
    (a) uniformly shuffled, (b) reproducible from a seed, and (c)
    computable WITHOUT a global sort — at 100 TB a true orderBy is a
    full-corpus range shuffle, while hash sharding is a pure scan-stage
    projection here (ZERO shuffles). Changing ``seed`` reshuffles
    everything; re-running with the same seed is byte-stable, so shard
    manifests can be diffed across pipeline re-runs.

    Returns the input plus (shard int, sort_key string) — order within
    a shard = sort_key order; hex15-of-md5 keeps the shard modulus
    inside a long, the same engine-replicable device the dedup salts
    use.
    """
    h = F.md5(
        F.concat(F.lit(str(seed)), F.lit(":"), F.col(id_col).cast("string"))
    )
    shard = F.pmod(
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long"), F.lit(n_shards)
    ).cast("int")
    return df.withColumn("shard", shard).withColumn("sort_key", h)


def shard_manifest(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    seed: str = "0",
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-shard manifest of the deterministic shuffle — the artifact a
    training loader validates before an epoch and operators diff across
    pipeline re-runs (the contract :func:`shuffle_shards` promises):
    (shard, n_docs[, n_tokens], content_hash).

    ``content_hash`` is the bit-XOR of each member's 60-bit shuffle
    hash: ORDER-INSENSITIVE (no within-shard sort needed to verify a
    shard's membership), O(1) aggregation state, overflow-free, and
    engine-replicable (DuckDB's bit_xor over the same md5 device) — so
    two runs disagree on a manifest row iff a shard's membership
    actually changed. ``tokens_col`` adds the per-shard token budget a
    loader uses for scheduling. One map-side-combinable groupBy; the
    corpus never shuffles beyond the count partials.
    """
    sharded = shuffle_shards(df, id_col, n_shards, seed)
    member_hash = F.conv(F.substring("sort_key", 1, 15), 16, 10).cast(
        "long"
    )
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("bit_xor(__mh)").alias("content_hash"),
    ]
    if tokens_col is not None:
        aggs.insert(1, F.sum(tokens_col).cast("long").alias("n_tokens"))
    return (
        sharded.withColumn("__mh", member_hash)
        .groupBy("shard")
        .agg(*aggs)
    )


def pack_bins_ffd(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = 2048,
    num_shards: int = 64,
) -> DataFrame:
    """Whole-document bin packing, first-fit-decreasing per shard.

    pack_sequences cuts the concatenated stream every ``budget`` tokens
    (pretraining-style — documents may split across bins); THIS variant
    never splits a document: SFT/instruction corpora and long-context
    eval sets need each document intact in one sequence, and FFD is the
    classic 11/9·OPT+6/9 guarantee (Johnson 1973) for minimizing the
    bins that costs.

    FFD is inherently sequential, so it runs PER SHARD: documents hash
    into ``num_shards`` independent packing problems (deterministic
    md5 shard — the pack_sequences/shuffle_shards key), each shard
    packs in one ``applyInPandas`` group sorted by (tokens desc, id).
    Sharding costs at most the few partially-filled last bins per shard
    in efficiency; at 100 TB shard count scales with the cluster while
    each group's state is the shard's bin fill table (bounded by
    shard_tokens/budget). Documents longer than ``budget`` get a bin
    alone and flag ``oversize`` (callers chunk or drop them — this
    operator never truncates).

    Output: (id, n_tokens, shard, bin_id, bin_fill, oversize) where
    bin_id is globally unique (``shard * 2**40 + local_bin`` — the
    2**40 stride cannot be exceeded: a shard would need >1.1e12 bins,
    i.e. >2.2e15 tokens at any budget >= 2048, and ``pack`` asserts the
    invariant) and bin_fill is the bin's total AFTER packing — the
    packing-efficiency report is ``1 - avg(slack)/budget`` over
    distinct bins. ``id`` keeps the input column's type (string ids
    pass through unchanged).
    """
    import pandas as pd

    _BIN_STRIDE = 1 << 40

    shard = F.pmod(
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long"),
        F.lit(num_shards),
    )
    src = df.select(
        F.col(id_col).alias("id"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        shard.alias("shard"),
    )
    id_type = src.schema["id"].dataType.simpleString()
    out_schema = (
        f"id {id_type}, n_tokens long, shard long, bin_id long, "
        "bin_fill long, oversize boolean"
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        sh = int(pdf["shard"].iloc[0])
        # (tokens desc, id asc) — ids compare in their native type, so
        # string and numeric id columns both pack deterministically
        rows = sorted(
            zip(pdf["id"], pdf["n_tokens"]),
            key=lambda r: (-int(r[1]), r[0]),
        )
        fills: list[int] = []  # fill per local bin
        assign: list[tuple] = []
        for doc, nt in rows:
            nt = int(nt)
            if nt >= budget:
                fills.append(nt)
                assign.append((doc, nt, len(fills) - 1, nt > budget))
                continue
            # first fit over open bins (linear scan; bins per shard is
            # bounded by shard_tokens/budget)
            for b, fill in enumerate(fills):
                if fill + nt <= budget:
                    fills[b] = fill + nt
                    assign.append((doc, nt, b, False))
                    break
            else:
                fills.append(nt)
                assign.append((doc, nt, len(fills) - 1, False))
        assert len(fills) < _BIN_STRIDE, (
            f"shard {sh} packed {len(fills)} bins >= 2**40; "
            "bin_id would collide across shards"
        )
        return pd.DataFrame(
            [
                (
                    doc,
                    nt,
                    sh,
                    sh * _BIN_STRIDE + b,
                    fills[b],
                    oversize,
                )
                for doc, nt, b, oversize in assign
            ],
            columns=[
                "id", "n_tokens", "shard", "bin_id", "bin_fill", "oversize",
            ],
        )

    return src.groupBy("shard").applyInPandas(pack, out_schema)
