"""Text-analysis column functions for large-scale training-data pipelines.

Beyond the reference's metadata surface: tokenization, token counting,
quality scoring, n-gram language ID, document fingerprinting and shingling.
All pure Column expressions (whole-stage codegen) — at 100 TB these run in
the scan stage with zero Python overhead and no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
# Deliberately small: language ID at corpus scale is a scan-stage scoring
# pass, refined downstream if needed.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "a", "that", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "para", "en", "que"],
    "fi": ["ja", "on", "ei", "että", "se", "oli", "hän", "mutta", "kun", "niin"],
}


def let(bound: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``bound`` ONCE and
    feed it to ``body`` as a lambda variable (single-element array
    transform). Column trees have no sharing — each reference re-embeds
    and re-evaluates the subtree, and higher-order functions are
    CodegenFallback so subexpression elimination never applies."""
    return F.transform(F.array(bound), body)[0]


def tokenize(col: Column | str) -> Column:
    """Whitespace tokenization with empty-token removal."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), "\\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokenize(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token estimate: count word pieces + digits + punctuation.

    A BPE-flavoured regex split (letters runs of <=4 chars count as one
    piece, longer words as ceil(len/4) pieces approximated by counting
    4-char chunks), used for cheap token budgeting over a corpus.
    """
    c = F.col(col) if isinstance(col, str) else col
    words = tokenize(c)
    return F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("int"),
    )


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    p = F.length(F.regexp_replace(c, "[^\\p{P}]", ""))
    return F.when(n > 0, p / n).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str) -> Column:
    sw = LANG_PROFILES["en"]
    lit_sw = F.array(*[F.lit(s) for s in sw])
    return let(
        tokenize(F.lower(F.col(col) if isinstance(col, str) else col)),
        lambda toks: F.when(
            F.size(toks) > 0,
            F.size(F.filter(toks, lambda t: F.array_contains(lit_sw, t)))
            / F.size(toks),
        ).otherwise(F.lit(0.0)),
    )


def mean_word_length(col: Column | str) -> Column:
    return let(
        tokenize(col),
        lambda toks: F.when(
            F.size(toks) > 0,
            F.aggregate(toks, F.lit(0), lambda acc, w: acc + F.length(w))
            / F.size(toks),
        ).otherwise(F.lit(0.0)),
    )


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    sane word length + low punctuation. Mirrors the C4/Gopher-style rule
    filters used in LLM data pipelines, as a single scan-stage expression."""
    c = F.col(col) if isinstance(col, str) else col
    len_ok = let(
        token_count(c),
        lambda n: F.when((n >= 10) & (n <= 100000), 1.0).otherwise(0.0),
    )
    sw_ok = let(
        stopword_ratio(c), lambda sw: F.when(sw >= 0.05, 1.0).otherwise(0.0)
    )
    mwl_ok = let(
        mean_word_length(c),
        lambda m: F.when((m >= 2.0) & (m <= 12.0), 1.0).otherwise(0.0),
    )
    pr_ok = let(
        punct_ratio(c), lambda p: F.when(p <= 0.2, 1.0).otherwise(0.0)
    )
    return (len_ok + sw_ok + mwl_ok + pr_ok) / 4.0


def lang_scores(col: Column | str) -> Column:
    """Map of language -> stopword-hit count."""
    def scores_of(toks: Column) -> Column:
        pairs = []
        for lang, words in LANG_PROFILES.items():
            lit_sw = F.array(*[F.lit(s) for s in words])
            pairs.append(
                F.struct(
                    F.lit(lang).alias("lang"),
                    F.size(
                        F.filter(toks, lambda t: F.array_contains(lit_sw, t))
                    ).alias("hits"),
                )
            )
        return F.array(*pairs)

    return let(
        tokenize(F.lower(F.col(col) if isinstance(col, str) else col)),
        scores_of,
    )


def lang_id(col: Column | str) -> Column:
    """Pick the language with the most stopword hits; 'und' when all zero.

    Ties break by profile order (array_sort is stable on equal keys would
    not be deterministic; instead fold keeps the first maximum)."""
    default = "und"
    scores = lang_scores(col)
    best = F.aggregate(
        scores,
        F.struct(F.lit(default).alias("lang"), F.lit(0).alias("hits")),
        lambda acc, s: F.when(s["hits"] > acc["hits"], s).otherwise(acc),
    )
    return best["lang"]


def normalize_for_fingerprint(col: Column | str) -> Column:
    """Canonical text form for dedup fingerprints: lowercase, strip
    non-alphanumerics to spaces, collapse whitespace."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    c = F.regexp_replace(c, "[^a-z0-9]+", " ")
    return F.trim(F.regexp_replace(c, " +", " "))


def fingerprint(col: Column | str) -> Column:
    """Deterministic 128-bit content fingerprint (md5 of normalized text)."""
    return F.md5(normalize_for_fingerprint(col))


def ngrams_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams from a token-array column.

    Built by zipping the array with its own shifted suffixes — O(tokens)
    per row and ``toks`` is referenced only n+1 times. (Indexing inside a
    ``transform`` lambda re-evaluates the token expression per element —
    quadratic — and ``slice``-per-gram is quadratic too; both measured
    10x+ slower on long documents.)"""
    acc = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        # concat (not concat_ws): null padding from the shorter side must
        # poison the gram so it can be filtered, not be skipped silently
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    grams = F.filter(acc, lambda x: x.isNotNull())
    cnt = F.size(toks) - (n - 1)
    return F.array_distinct(
        F.when(cnt >= 1, grams).otherwise(F.array(F.array_join(toks, " ")))
    )


def token_ngrams(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text."""
    return ngrams_from_tokens(tokenize(normalize_for_fingerprint(col)), n)


# ---------------------------------------------------------------------------
# Mojibake repair (UTF-8 read as Windows-1252/Latin-1)
# ---------------------------------------------------------------------------

# Characters whose UTF-8 encodings commonly get mis-decoded as cp1252
# somewhere in a crawl pipeline (double-encoding at one hop). The
# corrupted forms are DERIVED from codepoints at import time — never
# spelled as literals — via cp1252 with a latin-1 fallback for the five
# bytes cp1252 leaves unmapped (that mixed decoding is what tolerant
# decoders actually produce; cf. ftfy's sloppy-windows-1252, same
# family, reimplemented here as plan expressions).
_MOJIBAKE_CHARS = (
    "’“”‘„–—…"  # ’ “ ” ‘ „ – — …
    "éèêëâäçï"  # é è ê ë â ä ç ï
    "îôöüûñáó"  # î ô ö ü û ñ á ó
    "úßž"  # ú ß ž
)


def _corrupt(ch: str) -> str:
    out = []
    for b in ch.encode("utf-8"):
        try:
            out.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(b))  # latin-1 fallback for 81/8D/8F/90/9D
    return "".join(out)


# Longest corruption first: 3-byte forms (curly quotes, dashes) repair
# before their 2-byte prefixes, so the fold order is never ambiguous.
MOJIBAKE_MAP: list[tuple[str, str]] = sorted(
    ((_corrupt(ch), ch) for ch in _MOJIBAKE_CHARS),
    key=lambda p: (-len(p[0]), p[0]),
)


def fix_mojibake(col: Column | str) -> Column:
    """Repair common UTF-8-as-cp1252 corruptions in a string column.

    A sequential fold of ``replace`` expressions over MOJIBAKE_MAP —
    pure scan-stage JVM string work, zero shuffles, codegen-friendly;
    at 100 TB this is free next to the scan that reads the text. The
    DuckDB oracle folds the SAME ordered list, so results match
    byte-for-byte.
    """
    c = F.col(col) if isinstance(col, str) else col
    for bad, good in MOJIBAKE_MAP:
        c = F.replace(c, F.lit(bad), F.lit(good))
    return c


def has_mojibake(col: Column | str) -> Column:
    """True when the column contains any MOJIBAKE_MAP corruption
    (equivalently: when ``fix_mojibake`` would change it)."""
    c = F.col(col) if isinstance(col, str) else col
    return fix_mojibake(c) != c
