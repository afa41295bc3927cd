"""DSIR — data selection via importance resampling (Xie et al. 2023,
arXiv:2302.03169).

Select raw-corpus documents that look like a small TARGET corpus
(Wikipedia/books in the paper): estimate hashed n-gram bucket
distributions p (target) and q (raw), weight every raw document by its
log importance ratio  sum_g log(p[h(g)] / q[h(g)])  over the document's
unigrams+bigrams, and resample with Gumbel top-k (equivalent to
sampling without replacement proportionally to the importance weights —
the paper's §2.3 trick, made deterministic here with a salted-hash
uniform).

Scale shape (100 TB): the two distribution passes are map-side-combined
aggregations whose output is bounded by ``n_buckets`` (thousands), each
collected once to the driver; scoring is a PURE SCAN-STAGE projection —
the per-bucket log-ratio table rides into the plan as ONE parsed SQL
literal array (never a join, never a shuffle; see PERFORMANCE.md on
literal-expression construction), so the corpus is read exactly once
per pass and never shuffles. Selection is a global top-k
(TakeOrderedAndProject: per-partition top-k, then a k-row merge).

Determinism note: every log term and the Gumbel noise are fixed-point
MICRO units (round(x*1e6) as BIGINT) so per-document sums are INTEGER
arithmetic — associative, engine-independent, reproducible bit-for-bit
in external SQL engines regardless of aggregation order. Floats appear
only in the final /1e6 display division.

No counterpart in the reference (it stops at the Solr sink); this
extends the engine toward LLM-corpus preparation like text_dedup /
packing do.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import let, tokenize

MICRO = 1_000_000


def hashed_ngram_buckets(
    text_col: Column | str, n_buckets: int = 1024, salt: str = "dsir"
) -> Column:
    """Lowercased unigram+bigram features hashed into ``n_buckets``
    (the paper's hashed n-gram feature map, §2.2): array<int> with one
    entry per gram, duplicates preserved (counts matter).

    The token array is let-bound so the bigram builder references it as
    a lambda variable — without the binding every ``element_at(toks, i)``
    re-embeds (and re-evaluates) the full tokenize subtree, turning the
    bigram pass O(tokens²) per document."""

    def _grams(toks: Column) -> Column:
        bis = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat(
                    F.element_at(toks, i),
                    F.lit(" "),
                    F.element_at(toks, i + 1),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(toks, bis)

    grams = let(
        F.transform(tokenize(text_col), lambda t: F.lower(t)), _grams
    )
    return F.transform(
        grams,
        lambda g: F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(salt), g)), 1, 8), 16, 10
            ).cast("long"),
            F.lit(n_buckets),
        ).cast("int"),
    )


def tagged_bucket_counts(
    frames: list,
    text_col: str = "text",
    n_buckets: int = 1024,
    salt: str = "dsir",
    doc_marker: bool = False,
) -> dict:
    """Bucket counts for SEVERAL corpora in ONE job: each (kind, df)
    pair unions in with a tag column, a single map-side-combinable
    ``groupBy(kind, bucket)`` counts everything, and one collect
    returns ``{kind: {bucket: cnt}}``. The un-fused form ran one
    count job (plus one collect) PER corpus — at 100 TB that is a
    redundant full scan per distribution, and at toy scale a
    redundant Spark job submission per distribution (the LM trainer's
    one-pass lesson, applied to the DSIR/NB stat passes).

    ``doc_marker=True`` appends a sentinel bucket ``-1`` per DOCUMENT,
    so per-corpus document counts ride in the same aggregation
    (``out[kind][-1]``) instead of separate ``df.count()`` jobs; null
    or empty texts still count one marker each."""
    tagged = None
    for kind, df in frames:
        part = df.select(
            F.lit(int(kind)).alias("__k"), F.col(text_col).alias("__t")
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    buckets = F.coalesce(
        hashed_ngram_buckets("__t", n_buckets, salt),
        F.array().cast("array<int>"),
    )
    if doc_marker:
        buckets = F.concat(buckets, F.array(F.lit(-1).cast("int")))
    rows = (
        tagged.select("__k", F.explode(buckets).alias("bucket"))
        .groupBy("__k", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    out: dict = {int(k): {} for k, _ in frames}
    for r in rows:
        out.setdefault(r["__k"], {})[r["bucket"]] = r["cnt"]
    return out


def _log_ratio_micros_from(
    t: dict, r: dict, n_buckets: int, alpha: float
) -> list[int]:
    t_tot = sum(c for b, c in t.items() if b >= 0) + alpha * n_buckets
    r_tot = sum(c for b, c in r.items() if b >= 0) + alpha * n_buckets
    out = []
    for b in range(n_buckets):
        p = (t.get(b, 0) + alpha) / t_tot
        q = (r.get(b, 0) + alpha) / r_tot
        out.append(round(math.log(p / q) * MICRO))
    return out


def _long_array_lit(values: list[int]) -> Column:
    # one parsed SQL literal, not len(values) F.lit py4j round trips
    return F.expr(
        "array(" + ",".join(f"{v}L" for v in values) + ")"
    )


def dsir_score(
    df: DataFrame,
    log_ratio_micros: list[int],
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "dsir",
    gumbel_salt: str = "dsir-g",
    n_buckets: int | None = None,
) -> DataFrame:
    """Adds ``log_weight`` (importance log-ratio, micro-rounded) and
    ``score`` (log_weight + deterministic Gumbel noise) — the Gumbel
    top-k of ``score`` IS importance resampling without replacement.

    Scan-stage only: the ratio table is a plan literal, the noise a
    salted md5 of the id. Exposed micros stay integers until the final
    /1e6 so external SQL engines reproduce the values exactly.
    """
    B = n_buckets if n_buckets is not None else len(log_ratio_micros)
    if B != len(log_ratio_micros):
        raise ValueError(
            f"n_buckets {B} != len(log_ratio_micros) {len(log_ratio_micros)}"
        )
    arr = _long_array_lit(log_ratio_micros)
    buckets = hashed_ngram_buckets(text_col, B, salt)
    w_micro = F.aggregate(
        F.transform(buckets, lambda b: F.element_at(arr, b + 1)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # u in (0,1): (hex8 + 0.5) / 2^32 never hits the log singularities
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(gumbel_salt), F.col(id_col).cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    g_micro = F.round(-F.log(-F.log(u)) * MICRO).cast("long")
    out = df.withColumn("__w_micro", w_micro).withColumn(
        "__s_micro", F.col("__w_micro") + g_micro
    )
    return out.withColumn(
        "log_weight", F.col("__w_micro") / F.lit(float(MICRO))
    ).withColumn("score", F.col("__s_micro") / F.lit(float(MICRO)))


def dsir_select(
    df: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    alpha: float = 0.5,
) -> DataFrame:
    """End-to-end DSIR: estimate p (``target``) and q (``df``), score,
    and keep the Gumbel top-``k`` (ties on the micro score break to the
    smaller id). Two bounded stat passes + one scan-stage scoring pass +
    a top-k merge; the corpus never shuffles."""
    salt = "dsir"
    gumbel_salt = "dsir-g"
    counts = tagged_bucket_counts(
        [(0, target), (1, df)], text_col, n_buckets, salt
    )
    ratios = _log_ratio_micros_from(
        counts.get(0, {}), counts.get(1, {}), n_buckets, alpha
    )
    scored = dsir_score(
        df, ratios, text_col, id_col, salt, gumbel_salt, n_buckets
    )
    return (
        scored.orderBy(
            F.col("__s_micro").desc(), F.col(id_col).asc()
        )
        .limit(k)
        .drop("__w_micro", "__s_micro")
    )
