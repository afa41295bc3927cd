"""Hashed-feature linear quality classifier (fastText-style).

The production quality filters of the big LLM corpora (GPT-3's
WebText-vs-CommonCrawl classifier, LLaMA's Wikipedia-reference
classifier, CCNet's fastText langid+quality stages) are linear models
over hashed n-gram features. This module trains the closed-form member
of that family — multinomial Naive Bayes log-odds with Laplace
smoothing, the classic strong-baseline text classifier (Wang & Manning
2012's NB baseline; fastText itself is the trained-softmax upgrade of
the same bag-of-hashed-ngrams architecture) — and scores with the
standard fastText shape: length-normalized feature sum + prior through
a sigmoid.

Training is closed-form from two bounded aggregations (no gradient
loop): per-bucket weight = log P(b|pos)/P(b|neg), prior = log
n_pos/n_neg — which is exactly the DSIR log-ratio machinery
(operators/dsir.py), reused here. Swapping in externally-trained
weights (a real fastText model's hashed-bigram table) is passing a
different ``weights_micro`` list — the scoring seam is identical.

Scale shape: training = two corpus scans with n_buckets-bounded
output; scoring = PURE SCAN-STAGE (weights ride as one parsed literal
array; no join, no shuffle, no Python). Integer-micro arithmetic keeps
per-doc sums associative and engine-exact; floats appear only in the
final sigmoid, rounded to 6 decimals.

No counterpart in the reference; extends the engine toward LLM-corpus
preparation like text_dedup / dsir / packing do.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import Column

from ..functions.text import let
from .dsir import (
    MICRO,
    _long_array_lit,
    hashed_ngram_buckets,
)


def train_nb_quality(
    positive: DataFrame,
    negative: DataFrame,
    n_buckets: int = 1024,
) -> dict:
    """Closed-form NB training: returns ``{"weights_micro": [int]*B,
    "prior_micro": int, "n_buckets": B, "salt": salt}``.

    ONE fused job (r8): both classes' bucket counts AND both document
    counts ride a single tagged groupBy (aggregation state bounded by
    2 * (n_buckets + 1) counters) — the un-fused form ran four jobs,
    i.e. four corpus scans at 100 TB. The driver holds B ints, never
    documents."""
    text_col = "text"
    alpha = 0.5
    salt = "nbq"
    from .dsir import _log_ratio_micros_from, tagged_bucket_counts

    counts = tagged_bucket_counts(
        [(0, positive), (1, negative)],
        text_col,
        n_buckets,
        salt,
        doc_marker=True,
    )
    pc, nc = counts.get(0, {}), counts.get(1, {})
    weights = _log_ratio_micros_from(pc, nc, n_buckets, alpha)
    n_pos = pc.get(-1, 0)
    n_neg = nc.get(-1, 0)
    prior = round(math.log((n_pos + 1) / (n_neg + 1)) * MICRO)
    return {
        "weights_micro": weights,
        "prior_micro": prior,
        "n_buckets": n_buckets,
        "salt": salt,
    }


def nb_quality_score(
    df: DataFrame,
    model: dict,
    threshold: float = 0.5,
) -> DataFrame:
    """Score: ``logit = prior + (Σ weights[h(g)]) / max(n_grams, 1)``
    (fastText's mean-of-feature-vectors length normalization),
    ``prob = sigmoid(logit)`` rounded to 6, ``label = prob >= threshold``.

    Adds ``{prefix}logit``, ``{prefix}prob``, ``{prefix}label``.
    Scan-stage only — see module docstring."""
    text_col = "text"
    out_prefix = "nb_"
    arr = _long_array_lit(model["weights_micro"])
    buckets = hashed_ngram_buckets(
        text_col, model["n_buckets"], model["salt"]
    )

    def _logit(b: Column) -> Column:
        sum_micro = F.aggregate(
            F.transform(b, lambda x: F.element_at(arr, x + 1)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        n_grams = F.greatest(F.size(b), F.lit(1))
        return (
            F.lit(model["prior_micro"] / float(MICRO))
            + (sum_micro / F.lit(float(MICRO))) / n_grams
        )

    # Bind the bucket array once (hashing every gram is the dominant
    # per-row cost); downstream columns chain off materialized columns
    # so the pipeline runs once per row, not once per output column.
    logit = let(buckets, _logit)
    prob = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__nb_logit"))), 6
    )
    return (
        df.withColumn("__nb_logit", logit)
        .withColumn(out_prefix + "logit", F.round(F.col("__nb_logit"), 6))
        .withColumn(out_prefix + "prob", prob)
        .withColumn(
            out_prefix + "label",
            F.col(out_prefix + "prob") >= F.lit(threshold),
        )
        .drop("__nb_logit")
    )
