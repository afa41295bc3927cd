"""Hashed n-gram language-model scoring — the CCNet/KenLM quality gate.

CCNet (Wenzek et al. 2020) and most LLM data pipelines gate crawl text
on the perplexity of a reference-corpus language model: text that a
Wikipedia-trained LM finds unsurprising is kept, gibberish/boilerplate
scores poorly. A full KenLM is an external binary; this operator is
the Spark-native proxy: a Katz-style BACKOFF bigram LM over HASHED
n-gram buckets (feature hashing bounds the table like the NB quality
classifier's 256-bucket device, `operators/quality_classifier.py`),
trained on a reference slice and scored corpus-wide.

Model:  p(w | v) = (c2[h2(v w)] + 0.5) / (c1[h1(v)] + 0.5 * B1)
                                     when the bigram bucket is non-empty,
        p(w | v) = 0.4 * (c1[h1(w)] + 0.5) / (N + 0.5 * B1)   otherwise
        (0.4 = the stupid-backoff discount, Brants et al. 2007).

Scale shapes:
- TRAINING (:func:`train_hash_lm`) is construction-time: two map-side-
  combinable hash-bucket ``groupBy().count()`` passes with aggregation
  state bounded by B1/B2 (never vocabulary-sized), collected once; all
  logarithms are taken DRIVER-SIDE in Python and fixed to integer
  micros — the DSIR/NB determinism device, so both engines do only
  integer lookups and sums.
- SCORING (:func:`lm_logprob`) is a PURE SCAN: the micro tables ride
  into the plan as array literals (B1=4k + B2=16k longs ~ 160 KB of
  plan text, within the bloom-filter precedent), and the per-document
  sum folds over the token array with higher-order functions — no
  explode, no shuffle, zero exchanges at any corpus size.

Output stays in LOG space (``avg_logprob`` = mean per-token natural
log-probability, micro-rounded): exp() is the one function whose
cross-engine bit behavior we do not pin; perplexity = exp(-avg) when a
reader wants it.

Reference baseline (behavioral spec, not code): CCNet's
`perplexity bucketing <https://github.com/facebookresearch/cc_net>`_;
the reference repo itself has no LM gate — this is part of the
§2.16 training-data extension surface.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LM_SALT1 = "lm1"
LM_SALT2 = "lm2"
MICRO = 1_000_000


def _tokens(text_col: Column) -> Column:
    """Lowercased whitespace tokens (the NB classifier's tokenization:
    trim -> split -> drop empties -> lower) — keep the two gates on one
    token definition so their scores compose."""
    return F.transform(
        F.filter(
            F.split(F.trim(text_col), r"\s+"), lambda x: x != F.lit("")
        ),
        F.lower,
    )


def train_hash_lm(
    reference: DataFrame,
    text_col: str = "text",
    b1: int = 4096,
    b2: int = 16384,
) -> dict:
    """Train the hashed backoff bigram LM on a reference corpus.

    Two bounded aggregations (unigram buckets, bigram buckets — state
    <= b1/b2 counters regardless of corpus size), two bounded collects,
    and driver-side ``math.log`` fixed to integer micros. Returns the
    model dict :func:`lm_logprob` consumes:
    ``{"b1", "b2", "lnc2_micros", "lnc1den_micros", "lnuni_micros",
    "c2_nonzero"}``.
    """
    toks = _tokens(F.col(text_col))
    base = reference.select(toks.alias("__ws"))
    # ONE corpus pass for both tables: unigram and bigram buckets emit
    # as (kind, bucket) rows from the same tokenization, then a single
    # map-side-combinable groupBy (state <= b1 + b2 counters). The
    # two-pass form tokenized the reference twice — at 100 TB that is
    # a whole redundant corpus scan.
    h1 = (
        f"CAST(CAST(conv(substring(md5(concat('{LM_SALT1}', t)), 1, 8),"
        f" 16, 10) AS BIGINT) % {b1} AS INT)"
    )
    h2 = (
        f"CAST(CAST(conv(substring(md5(concat('{LM_SALT2}', g)), 1, 8),"
        f" 16, 10) AS BIGINT) % {b2} AS INT)"
    )
    # ws is let-bound through a one-element transform so the explode's
    # inferred size()>0 filter can never inline the tokenization into
    # the per-gram lambda (the O(len^2) substitution hazard — see
    # lm_logprob and the winnowing explode_outer note in text_dedup.py)
    both = (
        f"try_element_at(transform(array(__ws), ws -> concat("
        f"transform(ws, t -> struct(0 AS kind, {h1} AS b)), "
        f"transform(slice(ws, 1, greatest(size(ws) - 1, 0)),"
        f" (v, i) -> struct(1 AS kind, "
        + h2.replace(
            "concat('" + LM_SALT2 + "', g)",
            "concat('" + LM_SALT2 + "', v, ' ', element_at(ws, i + 2))",
        )
        + " AS b)))), 1)"
    )
    counts = (
        base.select(F.explode(F.expr(both)).alias("kb"))
        .groupBy("kb.kind", "kb.b")
        .count()
        .collect()
    )
    c1 = [0] * b1
    c2 = [0] * b2
    for r in counts:
        if r.kind == 0:
            c1[r.b] = r["count"]
        else:
            c2[r.b] = r["count"]
    n_tokens = sum(c1)
    # driver-side logs -> integer micros (the DSIR/NB device): engines
    # only ever add and compare integers, so scores hash identically
    lnc2 = [round(math.log(c + 0.5) * MICRO) for c in c2]
    lnc1den = [round(math.log(c + 0.5 * b1) * MICRO) for c in c1]
    lnuni = [
        round(
            (math.log(0.4) + math.log(c + 0.5) - math.log(n_tokens + 0.5 * b1))
            * MICRO
        )
        for c in c1
    ]
    return {
        "b1": b1,
        "b2": b2,
        "lnc2_micros": lnc2,
        "lnc1den_micros": lnc1den,
        "lnuni_micros": lnuni,
        "c2_nonzero": [1 if c > 0 else 0 for c in c2],
    }


def _long_array_lit(vals) -> str:
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def lm_logprob(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_scored, avg_logprob): mean per-token backoff-bigram natural
    log-probability (micro-precision), scored over transitions (token 2
    onward — the first token has no left context). Documents under two
    tokens score NULL. Pure scan stage: zero exchanges at any scale."""
    b1, b2 = model["b1"], model["b2"]
    lnc2 = _long_array_lit(model["lnc2_micros"])
    lnc1den = _long_array_lit(model["lnc1den_micros"])
    lnuni = _long_array_lit(model["lnuni_micros"])
    nz = _long_array_lit(model["c2_nonzero"])
    h1 = (
        f"CAST(conv(substring(md5(concat('{LM_SALT1}', {{t}})), 1, 8),"
        f" 16, 10) AS BIGINT) % {b1}"
    )
    h2 = (
        f"CAST(conv(substring(md5(concat('{LM_SALT2}', {{g}})), 1, 8),"
        f" 16, 10) AS BIGINT) % {b2}"
    )
    # per-transition term over (v = ws[i], w = ws[i+1]); all integer
    # lookups — let-bound through the single transform variable
    v_expr = "substring_index(g, ' ', 1)"
    w_expr = "substring_index(g, ' ', -1)"
    term = (
        f"CASE WHEN element_at({nz}, CAST({h2.format(g='g')} AS INT) + 1)"
        f" > 0 THEN"
        f" element_at({lnc2}, CAST({h2.format(g='g')} AS INT) + 1)"
        f" - element_at({lnc1den},"
        f" CAST({h1.format(t=v_expr)} AS INT) + 1)"
        f" ELSE element_at({lnuni},"
        f" CAST({h1.format(t=w_expr)} AS INT) + 1)"
        f" END"
    )
    grams = (
        "transform(slice(ws, 1, greatest(size(ws) - 1, 0)),"
        " (v, i) -> concat(v, ' ', element_at(ws, i + 2)))"
    )
    toks_sql = (
        f"transform(filter(split(trim({text_col}), '\\\\s+'),"
        f" x -> x != ''), x -> lower(x))"
    )
    # the token array is LET-BOUND as the lambda variable ``ws`` of a
    # one-element transform (the normalize_key idiom): a filter pushed
    # below this projection (e.g. ``WHERE avg_logprob IS NOT NULL``
    # under a count) cannot inline the split expression into the
    # per-gram lambda — without the binding, CollapseProject +
    # pushdown substituted the tokenization into ``element_at(__ws,
    # i + 2)`` and re-split the document PER TRANSITION, O(len^2)
    # (measured: 33 s vs 2.4 s on the 10x soak corpus)
    packed = (
        f"try_element_at(transform(array({toks_sql}), ws -> struct("
        f"aggregate({grams}, 0L, (acc, g) -> acc + ({term})) AS s, "
        f"size(ws) - 1 AS n)), 1)"
    )
    out = df.select(
        F.col(id_col), F.expr(packed).alias("__p")
    ).select(
        id_col,
        F.col("__p.s").alias("__s"),
        F.col("__p.n").alias("n_scored"),
    )
    # the mean quantizes through floor() in integer-micro space, NOT
    # round(x, 6): a sum landing exactly on a half-micro boundary (it
    # happens — 4 docs at sf0.1) rounds differently across engines'
    # round() implementations, while floor is directional and the
    # double division s/n is exact enough (|s| < 2^53) to floor
    # identically everywhere
    avg = (
        F.floor(F.col("__s").cast("double") / F.col("n_scored")).cast("long")
        / F.lit(float(MICRO))
    )
    return out.select(
        id_col,
        F.when(F.col("n_scored") >= 1, F.col("n_scored")).alias("n_scored"),
        F.when(F.col("n_scored") >= 1, avg).alias("avg_logprob"),
    )
