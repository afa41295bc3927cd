"""Byte-pair-encoding subword tokenization for corpus statistics.

The standard LLM-tokenizer shape (Sennrich et al. 2016), factored the
way a 100 TB corpus actually trains one:

1. ``word_frequencies`` — the ONLY corpus-scale stage: one distributed
   tokenize-explode-count. Its output is the distinct-word frequency
   table, bounded by vocabulary (millions of rows), not corpus size.
2. Training — the merge loop runs DRIVER-SIDE over that collected
   table (exactly how reference tokenizer trainers work: the corpus
   pass produces word counts, training is local); ties on pair count
   break lexicographically, so a corpus always yields the same merges.
3. ``bpe_encode`` — applying the learned merges to text, JVM-side: a
   word becomes its space-separated symbols and each merge is one
   boundary-anchored ``regexp_replace`` of ``"a b" -> "ab"`` (the
   anchors are non-consuming lookarounds on the space delimiters, so a
   pattern can never match ACROSS a symbol boundary — e.g. merges
   ``[(t,h),(h,e)]`` must encode "the" as ``[th, e, ▁]``, never "the";
   a naive un-anchored replace would match the "h e" inside "th e").
   This makes the inline chain byte-identical to a greedy scan of the
   symbol list. The expression chain grows one node per merge, so it
   is capped at ``max_inline_merges`` (32k merges as plan literals
   would be a plan-size bomb, see PERFORMANCE.md).

No counterpart in the reference (it stops at the Solr sink); this
extends the engine toward LLM-corpus preparation like text_dedup /
packing do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokenize

# End-of-word sentinel appended to each word before merging (Sennrich's
# </w>): lets the model distinguish "est" inside a word from "est</w>"
# at its end. Kept to one unusual char so the inline replace chain stays
# cheap.
END_OF_WORD = "▁"  # ▁ (the sentencepiece-style block)

MAX_INLINE_MERGES = 256


def word_frequencies(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """(word, count) over the corpus — the one distributed BPE stage.

    Whitespace pre-tokenization (the same ``tokenize`` the text-stats
    functions use), one explode + one map-side-combinable groupBy;
    output is bounded by distinct vocabulary. ``min_count`` prunes the
    long hapax tail before the driver collects the table for training.
    """
    words = df.select(F.explode(tokenize(text_col)).alias("word")).where(
        F.col("word") != ""
    )
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("count"))
    if min_count > 1:
        counts = counts.where(F.col("count") >= min_count)
    return counts


def _rx_quote(sym: str) -> str:
    """Quote a literal symbol for a Java regex (\\Q...\\E, \\E-safe)."""
    return "\\Q" + sym.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _repl_quote(s: str) -> str:
    """Quote a Java regex replacement string (backslash and $)."""
    return s.replace("\\", "\\\\").replace("$", "\\$")


def bpe_encode(
    col: Column | str,
    merges: list[tuple[str, str]],
    max_inline_merges: int = MAX_INLINE_MERGES,
) -> Column:
    """Array of BPE tokens for each whitespace word of ``col``, JVM-side.

    Per word: append the end-of-word sentinel, intersperse single spaces
    between symbols (plus one pad space at each end), then apply each
    merge in training order as a boundary-anchored
    ``regexp_replace("(?<= )a b(?= )", "ab")``. The lookarounds are
    non-consuming, so (a) a pattern never matches across a symbol
    boundary — the left half must BE a whole symbol, not a suffix of
    one — and (b) adjacent occurrences ("a b a b") both merge in one
    pass, exactly the greedy left-to-right non-overlapping scan of the
    symbol list. One expression node per merge — refuse past
    ``max_inline_merges`` (a 32k-merge chain is a plan-size bomb).
    """
    if len(merges) > max_inline_merges:
        raise ValueError(
            f"{len(merges)} merges exceed max_inline_merges="
            f"{max_inline_merges}; the inline chain would bloat the plan"
        )

    def encode_word(w: Column) -> Column:
        # "abc" -> " a b c ▁ " (pad spaces = uniform match boundaries)
        s = F.concat(
            F.lit(" "),
            F.array_join(
                F.transform(F.split(w, ""), lambda ch: ch), " "
            ),
            F.lit(" " + END_OF_WORD + " "),
        )
        for a, b in merges:
            pat = f"(?<= ){_rx_quote(a)} {_rx_quote(b)}(?= )"
            s = F.regexp_replace(s, pat, _repl_quote(a + b))
        return F.split(F.trim(s), " ")

    return F.flatten(F.transform(tokenize(col), encode_word))
