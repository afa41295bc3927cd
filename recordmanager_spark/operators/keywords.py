"""Corpus keyword extraction: per-document top-k terms by tf-idf.

The training-data use: cheap topic/keyword tagging over a crawl for
mixture planning, domain clustering seeds, and datacard summaries —
the standard retrieval weighting (Sparck Jones 1972; the ln(N/df)
variant) over the same normalized token stream the dedup family uses.

Scale shape (everything narrow after the scan):
- one corpus scan explodes normalized tokens; term frequencies are a
  map-side-combinable groupBy on (doc, term);
- document frequencies aggregate the tf rows again on term — the tf
  table IS the distinct (doc, term) set, so no separate distinct pass;
- the corpus document count joins back as a 1-row broadcast nested
  loop (the skew_report/diagnostics pattern) — no collect, the plan
  stays lazy;
- per-document top-k is a bounded sorted-array slice (the buffer is
  the document's own distinct-term count, naturally bounded by
  document length — never a corpus-scale window).

Determinism: score = round(tf * ln(N/df), 6); ranking orders by
(score desc, term asc) via a struct sort, so the DuckDB oracle
reproduces rows exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_for_fingerprint, tokenize


def tfidf_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 5,
    min_df: int = 1,
) -> DataFrame:
    """(id, term, tf, df, score, rank) — each document's ``top_k`` terms
    by tf-idf, rank 1 = highest score, ties broken by term.

    ``min_df`` drops hapax-ish terms from consideration (a df-1 term is
    usually a typo or an identifier; raising this also shrinks the df
    join's term table).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokenize(normalize_for_fingerprint(text_col))).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        dfreq = dfreq.where(F.col("df") >= min_df)
    ndocs = df.select(
        F.count_distinct(F.col(id_col)).alias("__N")
    )  # 1 row -> broadcast nested loop, keeps the plan lazy
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log(F.col("__N").cast("double") / F.col("df")),
                6,
            ).alias("score"),
        )
    )
    ranked = F.slice(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("score")).alias("neg"),
                    F.col("term"),
                    F.col("tf"),
                    F.col("df"),
                    F.col("score"),
                )
            )
        ),
        1,
        top_k,
    )
    grouped = scored.groupBy("id").agg(ranked.alias("__top"))
    return grouped.select(
        "id", F.posexplode("__top").alias("__pos", "__t")
    ).select(
        "id",
        F.col("__t.term").alias("term"),
        F.col("__t.tf").alias("tf"),
        F.col("__t.df").alias("df"),
        F.col("__t.score").alias("score"),
        (F.col("__pos") + 1).cast("int").alias("rank"),
    )
