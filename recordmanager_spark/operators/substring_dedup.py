"""Exact-substring deduplication (Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better", §3.1 ExactSubstr).

Any token span of ``window`` or more tokens that occurs more than once
across the corpus is removed from every document containing it. The
reference algorithm builds a suffix array; the Spark-native shape uses
the standard rolling-gram reduction: a span of >= W duplicated tokens is
exactly a maximal run of duplicated W-token grams, so

1. per document, hash every W-token window (md5 over the space-joined
   tokens — md5 so the DuckDB oracle reproduces it bit-for-bit);
2. count gram occurrences corpus-wide (groupBy(hash) — map-side
   combinable, the only full shuffle, carrying (hash, doc, pos) rows);
3. grams with count >= 2 flow back per document as sorted positions;
4. per document, merge overlapping [pos, pos+W) intervals with one
   fold and drop the covered tokens.

Scale notes (100 TB): the gram explode is the same volume class as the
minhash shingle stage and never carries document text — only (hash64,
doc_id, pos). The duplicated-position lists per document are bounded by
document length; the final join ships those small lists back to the
records. By default NO broadcast hint is planted — AQE sizes the
docs-with-dups side at runtime and picks broadcast vs shuffle-hash
itself, which is the only safe default at LLM-corpus dup rates where
that side can be a large fraction of the corpus
(``broadcast_positions=True``/``False`` pin the strategy when the
caller knows better). No stage holds more than one document's tokens
in one lambda.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import let


def _gram_hashes(toks: Column, window: int) -> Column:
    """Array of struct(pos, h): md5 of each W-token window, 1-based."""
    n = F.size(toks)
    return F.when(
        n >= window,
        F.transform(
            F.sequence(F.lit(1), n - window + 1),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(F.array_join(F.slice(toks, i, window), " ")).alias("h"),
            ),
        ),
    ).otherwise(F.expr("cast(array() as array<struct<pos:int,h:string>>)"))


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
    min_count: int = 2,
    broadcast_positions: bool | None = None,
) -> DataFrame:
    """Returns the input plus dedup columns:

    - ``n_tokens``: whitespace token count;
    - ``n_dup_grams``: this document's W-gram windows whose hash occurs
      >= ``min_count`` times corpus-wide;
    - ``removed_tokens``: tokens covered by the merged duplicate spans;
    - ``kept_tokens``: ``n_tokens - removed_tokens``;
    - ``cleaned_text``: the document with duplicate spans removed.

    ``broadcast_positions``: ``None`` (default) plants no join hint —
    AQE decides broadcast vs shuffle-hash from the runtime size of the
    docs-with-dups side (the scale-safe default; see module docstring).
    ``True`` forces a broadcast hint (small known dup sets), ``False``
    forces the shuffle path (output is identical either way).
    """
    toks_col = "__es_toks"
    d = df.withColumn(
        toks_col, F.filter(F.split(F.trim(F.col(text_col)), "\\s+"), lambda t: t != "")
    )
    grams = d.select(
        F.col(id_col).alias("__es_id"),
        F.explode(_gram_hashes(F.col(toks_col), window)).alias("g"),
    ).select("__es_id", F.col("g.pos").alias("__es_pos"), F.col("g.h").alias("__es_h"))
    # corpus-wide gram occurrence counts; partial aggregation combines
    # map-side so the shuffle carries one row per distinct hash per task
    dup_hashes = (
        grams.groupBy("__es_h")
        .agg(F.count(F.lit(1)).alias("__es_cnt"))
        .where(F.col("__es_cnt") >= min_count)
        .select("__es_h")
    )
    dup_pos = (
        grams.join(dup_hashes, "__es_h")
        .groupBy("__es_id")
        .agg(F.sort_array(F.collect_list("__es_pos")).alias("__es_dups"))
    )
    if broadcast_positions is True:
        dup_pos = F.broadcast(dup_pos)
    elif broadcast_positions is False:
        dup_pos = dup_pos.hint("shuffle_hash")
    out = d.join(dup_pos, d[id_col] == dup_pos["__es_id"], "left").drop("__es_id")

    dups = F.coalesce(
        F.col("__es_dups"), F.expr("cast(array() as array<int>)")
    )
    # one fold merges the sorted, fixed-width intervals: a new island
    # starts when pos - prev_pos >= window (ends grow monotonically with
    # pos, so the running interval is [island_start, prev_pos + window))
    acc0 = F.struct(
        F.lit(-1).alias("prev"),
        F.lit(0).alias("removed"),
        F.expr("cast(array() as array<struct<s:int,e:int>>)").alias("spans"),
        F.lit(0).alias("cur_s"),
    )

    def step(acc: Column, p: Column) -> Column:
        new_island = (acc["prev"] < 0) | (p - acc["prev"] >= window)
        return F.struct(
            p.alias("prev"),
            F.when(
                new_island, acc["removed"] + F.lit(window)
            ).otherwise(acc["removed"] + (p - acc["prev"])).alias("removed"),
            F.when(
                new_island & (acc["prev"] >= 0),
                F.concat(
                    acc["spans"],
                    F.array(
                        F.struct(
                            acc["cur_s"].alias("s"),
                            (acc["prev"] + window).alias("e"),
                        )
                    ),
                ),
            ).otherwise(acc["spans"]).alias("spans"),
            F.when(new_island, p).otherwise(acc["cur_s"]).alias("cur_s"),
        )

    def finish(acc: Column) -> Column:
        return F.struct(
            acc["removed"].alias("removed"),
            F.when(
                acc["prev"] >= 0,
                F.concat(
                    acc["spans"],
                    F.array(
                        F.struct(
                            acc["cur_s"].alias("s"),
                            (acc["prev"] + window).alias("e"),
                        )
                    ),
                ),
            ).otherwise(acc["spans"]).alias("spans"),
        )

    merged = F.aggregate(dups, acc0, step, finish)

    def cols_of(m: Column) -> Column:
        toks = F.col(toks_col)
        kept = F.filter(
            F.transform(toks, lambda t, i: F.struct((i + 1).alias("i"), t.alias("t"))),
            lambda s: ~F.exists(
                m["spans"], lambda sp: (s["i"] >= sp["s"]) & (s["i"] < sp["e"])
            ),
        )
        return F.struct(
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(dups).cast("long").alias("n_dup_grams"),
            m["removed"].cast("long").alias("removed_tokens"),
            (F.size(toks) - m["removed"]).cast("long").alias("kept_tokens"),
            F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias(
                "cleaned_text"
            ),
        )

    stats = out.withColumn("__es_stats", let(merged, cols_of))
    s = F.col("__es_stats")
    return (
        stats.withColumns(
            {
                "n_tokens": s["n_tokens"],
                "n_dup_grams": s["n_dup_grams"],
                "removed_tokens": s["removed_tokens"],
                "kept_tokens": s["kept_tokens"],
                "cleaned_text": s["cleaned_text"],
            }
        )
        .drop(toks_col, "__es_dups", "__es_stats")
    )
