"""Benchmark-contamination detection for training corpora.

Flags documents whose word n-grams overlap a benchmark/eval set — the
standard n-gram decontamination step (GPT-3 appendix C / PaLM-style
13-gram overlap), a training-data-pipeline extension beyond the
reference's surface.

Scale shape (100 TB corpus, small benchmark):

- The benchmark side (exam questions, eval prompts — MBs, not TBs) is
  reduced to its DISTINCT gram set and **broadcast**; the corpus is never
  shuffled for the probe: each scan task checks its documents' grams
  against the broadcast hash set.
- Only (doc_id, hit) rows for documents that actually overlap flow into
  the groupBy — contaminated documents are a tiny minority by
  construction, so the aggregate and the flag join-back are on a
  near-empty relation, which is itself broadcast back onto the corpus
  (zero full-corpus shuffles end to end).
- Gram text is canonicalized through the same
  ``normalize_for_fingerprint`` used by the dedup family, so
  punctuation/case differences cannot hide overlap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import ngrams_from_tokens, normalize_for_fingerprint, tokenize


def ngram_set(col: Column | str, n: int) -> Column:
    """Distinct normalized word n-grams of a text column (documents shorter
    than n tokens contribute their whole text as one gram)."""
    c = F.col(col) if isinstance(col, str) else col
    return ngrams_from_tokens(tokenize(normalize_for_fingerprint(c)), n)


def flag_contaminated(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_text_col: str,
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Annotate ``docs`` with (n_hits, contaminated).

    ``n_hits`` counts the document's DISTINCT grams that appear anywhere
    in the benchmark; ``contaminated`` is ``n_hits >= min_hits``.

    The hits side is broadcast: the contaminated subset is small.
    """
    bench_grams = (
        benchmark.select(F.explode(ngram_set(bench_text_col, n)).alias("g"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col), F.explode(ngram_set(text_col, n)).alias("g")
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    out = docs.join(F.broadcast(hits), id_col, "left")
    return out.withColumn(
        "n_hits", F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
    ).withColumn("contaminated", F.col("n_hits") >= min_hits)


# ---------------------------------------------------------------------------
# Bloom-filter variant: when the benchmark gram SET itself is too big to
# broadcast (a full eval-suite union easily reaches GBs of distinct
# grams), a fixed-size bit array answers the same membership question in
# MBs, at a tunable false-positive rate (classic Bloom 1970 bound:
# fp ≈ (1 - e^(-k·n/m))^k). False positives only ever OVER-flag — safe
# for decontamination, where dropping a clean document costs little and
# missing a contaminated one costs eval integrity.
# ---------------------------------------------------------------------------


def _bloom_position(g: Column, i: int, m_bits: int) -> Column:
    """Position of hash i for gram g: md5-derived so external engines
    reproduce the filter bit-for-bit."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"bloom{i}:"), g)), 1, 8),
            16, 10,
        ).cast("long"),
        F.lit(m_bits),
    )


def bloom_filter_words(
    benchmark: DataFrame,
    bench_text_col: str,
    n: int = 8,
    m_bits: int = 1 << 20,
    k: int = 3,
) -> list[int]:
    """Build the filter: k md5-derived positions per distinct benchmark
    gram, OR-ed into ``m_bits/64`` little-endian 64-bit words.

    One distributed pass (explode grams -> explode k positions ->
    distinct, output bounded by m_bits); the driver holds m_bits/8
    bytes — 128 KiB at 2^20 — regardless of benchmark size. That is the
    point: the gram set scales with the eval suite, the filter doesn't.
    """
    grams = benchmark.select(
        F.explode(ngram_set(bench_text_col, n)).alias("g")
    ).distinct()
    positions = (
        grams.select(
            F.explode(
                F.array(*[_bloom_position(F.col("g"), i, m_bits) for i in range(k)])
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    words = [0] * ((m_bits + 63) // 64)
    for r in positions:
        p = int(r["p"])
        words[p >> 6] |= 1 << (p & 63)
    # to signed 64-bit so the values round-trip through a LONG array
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


_BIT_MASKS_SQL = "array(" + ",".join(
    str(b - (1 << 64) if b >= (1 << 63) else b) + "L"
    for b in (1 << j for j in range(64))
) + ")"


def bloom_contaminated(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    words: list[int],
    *,
    m_bits: int,
    k: int = 3,
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Annotate ``docs`` with (n_hits, contaminated) against a Bloom
    filter built by :func:`bloom_filter_words`.

    A gram "hits" iff ALL ``k`` of its bits are set; ``n_hits`` counts
    the document's distinct hitting grams. False positives inflate
    ``n_hits`` at the filter's fp rate — over-flagging only (see the
    section comment above).

    Scale shape: PURE SCAN-STAGE — the word table rides into the plan
    as parsed literal arrays (no join, no shuffle; the corpus never
    sees the benchmark), and the bit test is element_at + bitwiseAND in
    codegen. PySpark's shift builtins take only literal shift amounts,
    so the variable ``p % 64`` shift is an indexed lookup into a 64-
    entry mask literal instead. Each of the ``k`` hash conditions
    references the word-array literal once, so the plan carries
    ``k × m_bits/64`` literal longs — at the 2^20-bit default that is
    ~48k constants, well under the plan-size ratchets; size ``m_bits``
    with that multiplier in mind.
    """
    if len(words) != (m_bits + 63) // 64:
        raise ValueError(
            f"words has {len(words)} entries, expected {(m_bits + 63) // 64}"
        )
    words_arr = F.expr("array(" + ",".join(f"{w}L" for w in words) + ")")
    masks_arr = F.expr(_BIT_MASKS_SQL)

    def gram_hit(gg: Column) -> Column:
        cond = None
        for i in range(k):
            p = _bloom_position(gg, i, m_bits)
            word = F.element_at(
                words_arr, F.shiftright(p, 6).cast("int") + 1
            )
            mask = F.element_at(
                masks_arr, F.pmod(p, F.lit(64)).cast("int") + 1
            )
            c = word.bitwiseAND(mask) != 0
            cond = c if cond is None else cond & c
        return cond

    n_hits = F.size(F.filter(ngram_set(text_col, n), gram_hit)).cast("long")
    return docs.withColumn("n_hits", n_hits).withColumn(
        "contaminated", F.col("n_hits") >= min_hits
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    est_threshold: float = 0.5,
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: flag corpus documents
    whose minhash signature agrees with any benchmark document at
    >= ``est_threshold`` estimated Jaccard.

    The exact n-gram path (:func:`flag_contaminated` / Bloom variant)
    misses light paraphrases — reworded eval questions, whitespace
    variants, truncated copies — which the near-dup literature treats
    with the same minhash machinery as dedup (GPT-3 appendix C /
    Gopher fuzzy decontamination). Signatures are the deterministic
    md5-derived family of ``text_dedup.minhash_signature``, so the
    DuckDB oracle replicates the whole pipeline.

    Returns the corpus plus ``is_contaminated`` / ``matched_bench_id``
    / ``agreement`` (best match: highest agreement, then smallest
    benchmark id).

    Scale shape (100 TB corpus, kilodoc benchmark suite): the ONLY
    corpus-side shuffles are its signature groupBy and the final
    best-match aggregation on corpus doc id (both map-side-combinable
    and corpus-key-partitioned); everything benchmark-sided — banded
    keys AND signatures — travels as broadcasts, so the candidate
    probe and the scoring are map-side joins and the benchmark never
    shuffles anything corpus-sized.
    """
    num_perm = 16
    bands = 4
    rows_per_band = 4
    shingle_n = 3
    from .text_dedup import (
        _band_key_array,
        minhash_sig_agreement,
        minhash_signature,
    )

    bid = bench_id_col or id_col
    btxt = bench_text_col or text_col
    keys = _band_key_array(bands, rows_per_band)
    sigs_c = minhash_signature(corpus, id_col, text_col, num_perm, shingle_n)
    sigs_b = minhash_signature(benchmark, bid, btxt, num_perm, shingle_n)
    banded_c = sigs_c.select("id", "sig", F.explode(keys).alias("band_key"))
    banded_b = (
        sigs_b.select(
            F.col("id").alias("__bid"),
            F.col("sig").alias("__bsig"),
            F.explode(keys).alias("band_key"),
        )
        # benchmark suites are thousands of rows — the broadcast IS the
        # design contract here, not a size guess (unlike jaccard_verify's
        # removed hint, whose pair side genuinely scales with the corpus)
        .transform(F.broadcast)
    )
    cand = banded_c.join(banded_b, "band_key").select(
        "id",
        minhash_sig_agreement(F.col("sig"), F.col("__bsig")).alias("agreement"),
        F.col("__bid"),
    )
    # best match per corpus doc: ONE map-side-combinable min of an
    # ordering struct (desc agreement via negation, then bench id) —
    # never a window over the corpus
    best = (
        cand.where(F.col("agreement") >= est_threshold)
        .groupBy("id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("agreement")).alias("na"),
                    F.col("__bid"),
                    F.col("agreement"),
                )
            ).alias("__b")
        )
        .select(
            F.col("id").alias("__fd_id"),
            F.col("__b.__bid").alias("matched_bench_id"),
            F.col("__b.agreement").alias("agreement"),
        )
    )
    return (
        corpus.join(best, corpus[id_col] == best["__fd_id"], "left")
        .drop("__fd_id")
        .withColumn("is_contaminated", F.col("matched_bench_id").isNotNull())
    )
