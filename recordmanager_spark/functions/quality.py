"""Gopher/C4-style document quality + repetition filters and PII scrubbing.

Training-data-pipeline extensions (beyond the reference's metadata
surface): the rule filters from Gopher (Rae et al. 2021, "Scaling
Language Models: ... Gopher", §A.1.1) and C4 (Raffel et al. 2020), plus
regex PII redaction. Everything here is a pure Column expression —
at 100 TB these run in the parquet scan stage with zero shuffles and no
Python workers.

Design notes for scale:

- Repetition statistics (duplicate-line fraction, top/duplicated n-gram
  character fractions) are computed per row with a SINGLE linear pass
  over the sorted line/gram array (``F.aggregate`` run-length scan).
  The alternative — explode grams, groupBy (doc, gram) — shuffles the
  full gram stream (~10× corpus size); this form shuffles nothing.
- Ties for the "most frequent n-gram" break by (count, gram length,
  gram) descending, a total order both Spark and an external SQL oracle
  can reproduce exactly.
- Character fractions follow Gopher's definitions: the fraction of all
  characters in the document covered by the duplicated (or top) grams;
  overlapping coverage is approximated by count·len(gram) (documented
  deviation — exact overlap resolution needs positional scans that buy
  nothing at filter granularity).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import let, tokenize

# The 8-word "required stop words" battery from Gopher §A.1.1: a document
# must contain at least 2 of these to pass the quality rules.
REQUIRED_STOP_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


_let = let  # shared binder (see text.let)


def lines_of(col: Column | str) -> Column:
    """Non-empty lines of the document (split on newline)."""
    return F.filter(F.split(_c(col), "\n"), lambda l: l != "")


def all_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams WITH duplicates (frequency carrier), joined by one
    space. Linear zip-with-shifted-self construction (see
    ``text.ngrams_from_tokens`` for why indexing lambdas are quadratic);
    shorter-than-n documents yield the whole document as one gram."""
    acc = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    grams = F.filter(acc, lambda x: x.isNotNull())
    return F.when(F.size(toks) - (n - 1) >= 1, grams).otherwise(
        F.array(F.array_join(toks, " "))
    )


def _dup_scan(arr: Column) -> Column:
    """One pass over the sorted array: struct(n, n_dup, chars, dup_chars).

    ``n_dup``/``dup_chars`` count elements (and their characters) whose
    value occurs more than once — the run-length scan charges 2 when a
    run reaches length 2 and 1 per further repeat, which totals exactly
    count·len per duplicated value."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("n_dup"),
        F.lit(0).cast("long").alias("dup_chars"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = (
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1))
            .cast("long")
        )
        add_n = (
            F.when(run == 2, F.lit(2))
            .when(run > 2, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            (acc["n_dup"] + add_n).alias("n_dup"),
            (acc["dup_chars"] + add_n * F.length(x)).alias("dup_chars"),
        )

    def of(a: Column) -> Column:
        st = F.aggregate(F.array_sort(a), init, step)
        chars = F.aggregate(
            a, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        )
        return F.struct(
            F.size(a).cast("long").alias("n"),
            st["n_dup"].alias("n_dup"),
            chars.alias("chars"),
            st["dup_chars"].alias("dup_chars"),
        )

    # the input array is often an n-gram construction chain — bind it so
    # the sort/scan and the char total read the SAME evaluated array
    return _let(arr, of)


def _top_scan(arr: Column) -> Column:
    """Most frequent element of the array: struct(cnt, g), ties broken by
    (count, length, lexicographic) descending. Same single sorted pass;
    intermediate run prefixes are dominated by their own final tuple, so
    eager tuple-max over the scan equals max over final counts."""
    s = F.array_sort(arr)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("cnt"),
        F.lit("").alias("g"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = (
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1))
            .cast("long")
        )
        better = (run > acc["cnt"]) | (
            (run == acc["cnt"])
            & (
                (F.length(x) > F.length(acc["g"]))
                | ((F.length(x) == F.length(acc["g"])) & (x > acc["g"]))
            )
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["cnt"]).alias("cnt"),
            F.when(better, x).otherwise(acc["g"]).alias("g"),
        )

    st = F.aggregate(s, init, step)
    return F.struct(st["cnt"].alias("cnt"), st["g"].alias("g"))


def duplicate_line_stats(col: Column | str) -> Column:
    """struct(dup_line_frac, dup_line_char_frac) over non-empty lines.

    Gopher thresholds: duplicate line fraction > 0.30 or duplicate line
    character fraction > 0.20 rejects the document."""
    return _let(
        _dup_scan(lines_of(col)),
        lambda st: F.struct(
            F.when(st["n"] > 0, st["n_dup"] / st["n"])
            .otherwise(F.lit(0.0))
            .alias("dup_line_frac"),
            F.when(st["chars"] > 0, st["dup_chars"] / st["chars"])
            .otherwise(F.lit(0.0))
            .alias("dup_line_char_frac"),
        ),
    )


def top_ngram_char_fraction(col: Column | str, n: int) -> Column:
    """Fraction of document characters covered by the single most frequent
    word n-gram (count · gram length / total chars). Gopher applies this
    for n=2,3,4 with thresholds 0.20/0.18/0.16."""
    c = _c(col)
    return _let(
        _top_scan(all_ngrams(tokenize(c), n)),
        lambda top: F.when(
            F.length(c) > 0, top["cnt"] * F.length(top["g"]) / F.length(c)
        ).otherwise(F.lit(0.0)),
    )


def dup_ngram_char_fraction(col: Column | str, n: int) -> Column:
    """Fraction of document characters covered by word n-grams occurring
    more than once. Gopher applies this for n=5..10 with thresholds
    0.15 down to 0.10."""
    c = _c(col)
    st = _dup_scan(all_ngrams(tokenize(c), n))
    return F.when(F.length(c) > 0, st["dup_chars"] / F.length(c)).otherwise(
        F.lit(0.0)
    )


def gopher_quality_stats(col: Column | str) -> Column:
    """The non-repetition Gopher rule battery as one struct:

    n_words, mean_word_len, frac_alpha_words (words containing a letter),
    symbol_word_ratio ('#' + '...' occurrences per word), stop_hits
    (distinct REQUIRED_STOP_WORDS present), and the pass verdict:
    50 <= n_words <= 100000, 3 <= mean_word_len <= 10,
    frac_alpha_words >= 0.80, symbol_word_ratio <= 0.10, stop_hits >= 2.
    """
    c = _c(col)
    return _let(tokenize(c), lambda toks: _gopher_quality_of(c, toks))


def _gopher_quality_of(c: Column, toks: Column) -> Column:
    n_words = F.size(toks).cast("long")
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    mean_wl = F.when(n_words > 0, total_len / n_words).otherwise(F.lit(0.0))
    alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    frac_alpha = F.when(n_words > 0, alpha / n_words).otherwise(F.lit(0.0))
    n_sym = (F.regexp_count(c, F.lit("#")) + F.regexp_count(c, F.lit(r"\.\.\."))).cast(
        "long"
    )
    sym_ratio = F.when(n_words > 0, n_sym / n_words).otherwise(F.lit(0.0))
    low = F.transform(toks, F.lower)
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(w) for w in REQUIRED_STOP_WORDS]),
            lambda w: F.array_contains(low, w),
        )
    ).cast("long")
    passes = (
        (n_words >= 50)
        & (n_words <= 100000)
        & (mean_wl >= 3.0)
        & (mean_wl <= 10.0)
        & (frac_alpha >= 0.8)
        & (sym_ratio <= 0.1)
        & (stop_hits >= 2)
    )
    return F.struct(
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        sym_ratio.alias("symbol_word_ratio"),
        stop_hits.alias("stop_hits"),
        passes.alias("passes"),
    )


def c4_clean_lines(col: Column | str) -> Column:
    """C4-style line cleaning: keep lines that end in terminal punctuation
    (., !, ?, ") AND have >= min_words words AND contain none of the
    boilerplate markers (cookie / javascript / lorem ipsum,
    case-insensitive). Returns struct(text, n_kept, n_total)."""
    min_words = 3
    ls = lines_of(col)

    def keep(l: Column) -> Column:
        words = F.size(F.filter(F.split(l, r"\s+"), lambda t: t != ""))
        bad = F.lower(l).rlike("cookie|javascript|lorem ipsum")
        return l.rlike('[.!?"]$') & (words >= min_words) & ~bad

    kept = F.filter(ls, keep)
    return F.struct(
        F.array_join(kept, "\n").alias("text"),
        F.size(kept).cast("long").alias("n_kept"),
        F.size(ls).cast("long").alias("n_total"),
    )


# --------------------------------------------------------------------------
# PII scrubbing
# --------------------------------------------------------------------------
# Patterns restricted to the Java-regex ∩ RE2 common subset so an external
# SQL oracle (DuckDB = RE2) reproduces them byte-for-byte. Redaction order
# matters: SSNs redact first (they also match the greedy phone pattern),
# then emails, IPs, phones; counts are taken on the progressively redacted
# text so each span is attributed to exactly one category.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d -]{7,}\d", "<PHONE>"),
]


def url_host(col: Column | str) -> Column:
    """Lowercased host of a URL ('' when no scheme+host shape matches)."""
    return F.lower(
        F.regexp_extract(_c(col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1)
    )


def host_blocked(host: Column | str, blocked_domains: list[str]) -> Column:
    """True when the host IS a blocked domain or a subdomain of one —
    the C4-style domain blocklist membership test (exact or dot-suffix
    match, never substring: 'spam.example' must not catch
    'notspam.example'). The list compiles to a literal array; a list too
    large for a plan literal should go through a broadcast join
    instead."""
    h = _c(host)
    doms = F.array(*[F.lit(d.lower()) for d in blocked_domains])
    return F.exists(
        doms, lambda d: (h == d) | h.endswith(F.concat(F.lit("."), d))
    )


def blocklist_hits(col: Column | str, words: list[str]) -> Column:
    """Count of DISTINCT blocklist words present as whole tokens
    (case-insensitive) — the C4 bad-words filter's decision input."""
    lowered = [w.lower() for w in words]
    lits = F.array(*[F.lit(w) for w in lowered])
    return let(
        F.transform(tokenize(_c(col)), F.lower),
        lambda toks: F.size(
            F.filter(lits, lambda w: F.array_contains(toks, w))
        ),
    )


def pii_scrub(col: Column | str) -> Column:
    """struct(text, n_ssn, n_email, n_ip, n_phone): redacted text plus the
    per-category redaction counts (sequential attribution, see above)."""
    cur = _c(col)
    counts: list[Column] = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    return F.struct(cur.alias("text"), *counts)
