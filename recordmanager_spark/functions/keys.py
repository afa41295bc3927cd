"""Scalar metadata-key functions (dedup keys, sort keys, normalization).

Re-expresses the reference's Utils/MetadataUtils.php scalar library
(normalizeKey :416-433, createTitleKey :369-405, normalizeISBN :442-453,
isbn10to13 :270-284, authorMatch :464-496, punctuation strips :507-677,
stripLeadingArticle/createSortTitle :678-719, array_iunique :721-740,
createIdSortKey :742-756) as Spark Column
expressions. Everything here runs in the JVM with no Python round trip.
The trees that use higher-order functions (``transform`` / ``filter`` /
``aggregate`` / ``exists``: the kana fold, the title-key prefix, ISBN
check digits, author initials) are ``CodegenFallback`` in Spark 4.1, so
those are evaluated interpreted (generated code calls their ``eval``);
the rest is code-generated.

:func:`let1` is the one way the spec modules (this one,
``extractors/marc.py``, ``extractors/format_calculator.py``,
``functions/geo.py``) write a value that a tree reads more than once.

Design note: the reference folds diacritics through an ICU transliterator
(conf/recordmanager.ini.sample:19-25). We fold the common Latin accent
block with ``translate`` (JVM-side); texts outside that block pass through
unchanged. The fold table is data, not code, so extending it is config.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F
from recordmanager_spark.sparkcompat import try_element_at


def let1(value: Column, body) -> Column:
    """``body(value)`` with ``value`` bound once: ``body`` reads it as the
    lambda variable of a one-element array ``transform``. Expression
    trees duplicate per reference, in the Column API and in the SQL-text
    twin alike, and every copy is parsed, analysed, optimized and
    evaluated again; bound, the value's tree appears once however often
    ``body`` reads it. Bind several values with one ``F.struct``."""
    return try_element_at(F.transform(F.array(value), body), 1)


# Common Latin accent folding (lowercase side; input is lowercased first).
_ACCENTS = "àáâãäåāăąèéêëēĕėęěìíîïĩīĭįıòóôõöøōŏőùúûüũūŭůűųýÿŷçćĉċčñńņňďđĝğġģĥħĵķĺļľłŕŗřśŝşšţťŧŵźżž"
_FOLDED = (
    "a" * 9 + "e" * 9 + "i" * 9 + "o" * 9 + "u" * 10 + "y" * 3 + "c" * 5
    + "n" * 4 + "d" * 2 + "g" * 4 + "h" * 2 + "jk" + "l" * 4 + "r" * 3
    + "s" * 4 + "t" * 3 + "w" + "z" * 3
)
assert len(_ACCENTS) == len(_FOLDED), (len(_ACCENTS), len(_FOLDED))

# --- Non-Latin script folding ----------------------------------------------
# The reference's production path feeds keys through an ICU transliterator
# (":: NFD; :: lower; :: Latin; :: [^letter number] Remove; :: NFKC;",
# MetadataUtils.php:160-161 + conf/recordmanager.ini.sample:19-25) so
# Cyrillic/Greek titles key identically across sources. No ICU lives in
# this engine's runtime, so the Any-Latin step is a data-driven
# approximation: multi-char romanizations as chained replaces (linear
# expression tree) + 1:1 residue through translate. Tables are data — a
# deployment can extend them the way the reference extends its rules.
_MULTI_FOLD: list[tuple[str, str]] = [
    # Cyrillic (GOST-style romanization, lowercase side)
    ("щ", "shch"), ("ж", "zh"), ("ч", "ch"), ("ш", "sh"), ("ю", "yu"),
    ("я", "ya"), ("х", "kh"), ("ц", "ts"), ("ё", "yo"),
    # Greek
    ("θ", "th"), ("χ", "ch"), ("ψ", "ps"),
]
# 1:1 residues; translate() maps positionally and DELETES source chars
# past the target's length, so the deleted ones (ь/ъ soft/hard signs —
# Any-Latin's prime marks, later stripped as non-letters) must sit LAST.
_CYR_1 = "абвгдезийклмнопрстуфыэ"
_CYR_1_TO = "abvgdeziiklmnoprstufye"
_GREEK_1 = "αβγδεζηικλμνξοπρσςτυφωάέήίόύώϊϋΐΰ"
_GREEK_1_TO = "avgdezi" + "iklmnxoprsstyf" + "o" + "aeiioyoiyiy"
_ONE_FOLD_SRC = _CYR_1 + _GREEK_1 + "ьъ"
_ONE_FOLD_DST = _CYR_1_TO + _GREEK_1_TO
assert len(_CYR_1) == len(_CYR_1_TO), (len(_CYR_1), len(_CYR_1_TO))
assert len(_GREEK_1) == len(_GREEK_1_TO), (len(_GREEK_1), len(_GREEK_1_TO))

# Kana romanization (Hepburn-flavoured, PER-CHARACTER) for the table
# fold. ICU's ``:: Latin`` also romanizes kana; the table fold covers
# the full hiragana syllabary (katakana derive from
# the fixed +0x60 block offset) so Japanese titles key to stable Latin
# instead of raw kana. DOCUMENTED approximation vs ICU: per-character
# folding renders digraphs letter-by-letter (きゃ -> "kiya", ICU "kya")
# and drops sokuon gemination (っ -> "", ICU doubles the consonant) —
# deterministic and consistent across sources, which is what dedup keys
# need. Han has no bounded table and still passes through raw (stable,
# non-Latin).
_KANA_BASE = {
    "あ": "a", "い": "i", "う": "u", "え": "e", "お": "o",
    "か": "ka", "き": "ki", "く": "ku", "け": "ke", "こ": "ko",
    "が": "ga", "ぎ": "gi", "ぐ": "gu", "げ": "ge", "ご": "go",
    "さ": "sa", "し": "shi", "す": "su", "せ": "se", "そ": "so",
    "ざ": "za", "じ": "ji", "ず": "zu", "ぜ": "ze", "ぞ": "zo",
    "た": "ta", "ち": "chi", "つ": "tsu", "て": "te", "と": "to",
    "だ": "da", "ぢ": "ji", "づ": "zu", "で": "de", "ど": "do",
    "な": "na", "に": "ni", "ぬ": "nu", "ね": "ne", "の": "no",
    "は": "ha", "ひ": "hi", "ふ": "fu", "へ": "he", "ほ": "ho",
    "ば": "ba", "び": "bi", "ぶ": "bu", "べ": "be", "ぼ": "bo",
    "ぱ": "pa", "ぴ": "pi", "ぷ": "pu", "ぺ": "pe", "ぽ": "po",
    "ま": "ma", "み": "mi", "む": "mu", "め": "me", "も": "mo",
    "や": "ya", "ゆ": "yu", "よ": "yo",
    "ら": "ra", "り": "ri", "る": "ru", "れ": "re", "ろ": "ro",
    "わ": "wa", "ゐ": "i", "ゑ": "e", "を": "o", "ん": "n",
    "ゔ": "vu",
    "ぁ": "a", "ぃ": "i", "ぅ": "u", "ぇ": "e", "ぉ": "o",
    "ゃ": "ya", "ゅ": "yu", "ょ": "yo", "ゎ": "wa", "っ": "",
}
_KANA_MAP: dict[str, str] = {}
for _h, _r in _KANA_BASE.items():
    _KANA_MAP[_h] = _r
    _KANA_MAP[chr(ord(_h) + 0x60)] = _r  # katakana block offset
_KANA_MAP["ー"] = ""  # chōonpu long-vowel mark
_KANA_RANGE_RE = "[ぁ-ヿ]"


# ``map`` quoted: as a call argument, a bare ``map(`` makes the parser's
# SLL prediction read the whole 314-literal call (sqlalg module docstring)
_KANA_MAP_SQL = (
    "`map`("
    + ",".join(f"'{k}','{v}'" for k, v in _KANA_MAP.items())
    + ")"
)


def _kana_map_lit() -> Column:
    # ONE parsed SQL literal, not 2x157 F.lit py4j round trips:
    # normalize_key is invoked many times per extractor plan, and
    # element-wise Column construction measurably inflates driver-side
    # query build time (see PERFORMANCE.md, similarity sign tables)
    return F.expr(_KANA_MAP_SQL)


def _fold_kana(c: Column) -> Column:
    m = _kana_map_lit()
    return F.array_join(
        F.transform(
            F.split(c, ""),
            lambda ch: F.coalesce(F.try_element_at(m, ch), ch),
        ),
        "",
    )


# normalizeKey strip classes: control chars, space, ASCII punctuation ranges
# !-/ :-@ [-` {-DEL (MetadataUtils.php:424-428); plus combining diacritics
# (U+0300-U+036F), which the ICU rule removes via "Nonspacing Mark Remove".
_KEY_STRIP_RE = r"[\x00-\x20\x21-\x2f\x3a-\x40\x5b-\x60\x7b-\x7f̀-ͯ]"


def normalize_key(col: Column | str) -> Column:
    """Lowercase + fold to Latin + strip punctuation/whitespace/marks.

    The comparison key used everywhere the reference builds dedup keys.

    A deterministic JVM-side TABLE fold (precomposed Latin accents,
    decomposed combining marks, Cyrillic/Greek romanization, per-char
    kana romanization — see the _MULTI_FOLD and _KANA_BASE notes), with
    zero Python hops. It never switches to ICU on its own: dedup keys
    must be byte-identical across machines and across driver/executors,
    and an environment-sniffed ICU path would silently fork the key
    space between ICU and ICU-free nodes (the folds genuinely diverge —
    e.g. ICU strips en dashes the ASCII strip ranges keep). The
    reference is always-ICU (MetadataUtils.php:416-433) because its
    whole fleet shares one PHP runtime; a Spark cluster gives no such
    guarantee. ``tests/oracles.normalize_key_py`` is its Python twin.
    """
    c0 = F.lower(F.col(col) if isinstance(col, str) else col)
    # the kana branch reads its input 3x (rlike probe, fold, passthrough)
    c = let1(
        c0,
        lambda v: F.when(v.rlike(_KANA_RANGE_RE), _fold_kana(v)).otherwise(v),
    )
    c = F.translate(c, _ACCENTS, _FOLDED)
    for src, dst in _MULTI_FOLD:
        c = F.replace(c, F.lit(src), F.lit(dst))
    c = F.translate(c, _ONE_FOLD_SRC, _ONE_FOLD_DST)
    return F.regexp_replace(c, _KEY_STRIP_RE, "")


def title_key_prefix(col: Column | str) -> Column:
    """The word-accumulation prefix used by createTitleKey.

    Reference loop (MetadataUtils.php:383-401): append words (without
    separators) until more than 3 "long" (>3 char) words OR more than 35
    significant chars have been accumulated; the word that crosses the
    threshold is still included. Expressed as a JVM-side ``aggregate``
    higher-order function over the split word array — no UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(c, " ")
    acc0 = F.struct(
        F.lit("").alias("key"),
        F.lit(0).alias("len"),
        F.lit(0).alias("lw"),
        F.lit(False).alias("done"),
    )

    def step(acc, w):
        wl = F.length(w)
        new_len = acc["len"] + wl
        new_lw = acc["lw"] + F.when(wl > 3, 1).otherwise(0)
        return F.when(acc["done"], acc).otherwise(
            F.struct(
                F.concat(acc["key"], w).alias("key"),
                new_len.alias("len"),
                new_lw.alias("lw"),
                ((new_lw > 3) | (new_len > 35)).alias("done"),
            )
        )

    return F.aggregate(words, acc0, step, lambda acc: acc["key"])


def create_title_key(col: Column | str) -> Column:
    """createTitleKey: truncated-word-prefix, capped at 200, normalized."""
    return normalize_key(F.substring(title_key_prefix(col), 1, 200))


def author_match_expr(a1: Column, a2: Column) -> Column:
    """authorMatch (MetadataUtils.php:464-496) as a pure Column expression.

    True when equal; else both >= 6 chars AND (one is a prefix of the
    other OR word-wise: first words equal, later words equal-or-same-initial).
    """
    eq = a1 == a2
    long_enough = (F.length(a1) >= 6) & (F.length(a2) >= 6)
    n = F.least(F.length(a1), F.length(a2))
    prefix = a1.substr(F.lit(1), n) == a2.substr(F.lit(1), n)
    w1 = F.split(a1, " ")
    w2 = F.split(a2, " ")
    m = F.least(F.size(w1), F.size(w2))
    z = F.zip_with(
        F.slice(w1, 1, m),
        F.slice(w2, 1, m),
        lambda x, y: (x == y) | (F.substring(x, 1, 1) == F.substring(y, 1, 1)),
    )
    first_eq = try_element_at(w1, 1) == try_element_at(w2, 1)
    wordwise = first_eq & (F.size(F.filter(z, lambda b: ~b)) == 0)
    return eq | (long_enough & (prefix | wordwise))


def normalize_isbn(col: Column | str) -> Column:
    """normalizeISBN: strip dashes, extract 10-13 digit run, upgrade 10→13.

    Check-digit validation (isbn10to13, MetadataUtils.php:270-284) is pure
    arithmetic over digit positions — expressed natively via aggregate over
    the char array so ISBN normalization never leaves the JVM.
    """
    c = F.col(col) if isinstance(col, str) else col
    raw = F.regexp_replace(c, "-", "")
    m = F.regexp_extract(raw, "([0-9]{9,12}[0-9xX])", 1)
    # ISBN-10 -> 13: validate mod-11 check char, prepend 978, recompute mod-10
    digits9 = F.substring(m, 1, 9)
    # sum of d_i * (10 - i) for i=0..8 over the first nine digits
    idx = F.sequence(F.lit(1), F.lit(9))
    s10 = F.aggregate(
        idx,
        F.lit(0),
        lambda acc, i: acc
        + F.substring(digits9, i, 1).cast("int") * (F.lit(11) - i),
    )
    rem = (F.lit(11) - s10 % 11) % 11
    check10 = F.when(rem == 10, F.lit("X")).otherwise(rem.cast("string"))
    valid10 = F.upper(F.substring(m, 10, 1)) == check10
    base12 = F.concat(F.lit("978"), digits9)
    s13 = F.aggregate(
        F.sequence(F.lit(1), F.lit(12)),
        F.lit(0),
        lambda acc, i: acc
        + F.substring(base12, i, 1).cast("int")
        * F.when(i % 2 == 1, 1).otherwise(3),
    )
    check13 = ((F.lit(10) - s13 % 10) % 10).cast("string")
    upgraded = F.when(valid10, F.concat(base12, check13)).otherwise(F.lit(""))
    return (
        F.when(m == "", F.lit(""))
        .when(F.length(m) == 10, upgraded)
        .otherwise(m)
    )


# ---------------------------------------------------------------------------
# Punctuation / article / sort-key helpers
# ---------------------------------------------------------------------------

# Leading punctuation set (MetadataUtils.php:650): the reference default is
# " \t\\#*!¡?/:;.,=(['\"´`” ̈" — note it includes backslash and the combining
# diaeresis U+0308 (the trailing " ̈" pair in the PHP literal).
_LEADING_PUNCT_RE = "^[ \\t\\\\#*!¡?/:;.,=\\(\\['\"´`”̈]+"
# Trailing basic set (MetadataUtils.php:577): space /:;,=([
# \z not $: Java's $ also matches before a trailing \r/\n, which would eat
# chars *inside* the string on repeat application (PHP rtrim never does).
_TRAILING_BASIC_RE = "[ /:;,=\\(\\[]+\\z"

# Default leading-article list (reference ships these via config; the PHP
# default articles cover English/French/German/Scandinavian determiners).
# The reference's shipped articles.lst.sample, lowercased, in file order
# (first match wins): English/Spanish/French articles plus the French
# elided forms ("L'Avion" sorts as 'avion').
ARTICLES = [
    "the ", "a ", "an ", "el ", "le ",
    "l'", "m'", "t'", "qu'", "n'", "s'", "j'", "d'", "c'",
    "jusqu'", "quoiqu'", "lorsqu'", "puisqu",
]


def author_initials(col: Column | str) -> Column:
    """getAuthorInitials (MetadataUtils.php:1184-1227): initials separate,
    then smushed; personal names ("Last, First") rotate the surname last;
    hyphenated names contribute both initials; long personal names add the
    given-names smush too ("w b" + "wb" for william butler yeats).
    ``tests/oracles.author_initials_py`` is its Python twin.

    The tokens and the personal-name flag, the joined initials and the
    personal-name form are each bound once (:func:`let1`): every later
    step reads them two or three times."""
    name = F.col(col) if isinstance(col, str) else col
    # PHP strpos: comma at position 0 is falsy -> not personal; comma as
    # the final char doesn't count either
    p = F.instr(name, ",")
    is_personal = (p > 1) & (p < F.length(name))
    tokens = F.split(F.lower(F.regexp_replace(name, "[^\\p{L} -]", "")), " ")

    def from_tokens(s: Column) -> Column:
        raw_tokens, personal = s["t"], s["p"]
        n_tokens = F.size(raw_tokens)
        rotated = F.when(
            personal & (n_tokens > 1),
            F.concat(F.slice(raw_tokens, 2, 100000), F.slice(raw_tokens, 1, 1)),
        ).otherwise(raw_tokens)
        initials = F.transform(
            F.filter(rotated, lambda t: t != ""),
            lambda t: F.when(
                (F.instr(t, "-") > 1) & (F.instr(t, "-") < F.length(t)),
                F.concat(
                    F.substring(t, 1, 1),
                    F.lit(" "),
                    F.substr(t, F.instr(t, "-") + 1, F.lit(1)),
                ),
            ).otherwise(F.substring(t, 1, 1)),
        )
        long_personal = (n_tokens > 2) & personal
        return let1(
            F.array_join(initials, " "),
            lambda result: _smushed_initials(result, long_personal),
        )

    return let1(
        F.struct(tokens.alias("t"), is_personal.alias("p")), from_tokens
    )


def _smushed_initials(result: Column, long_personal: Column) -> Column:
    smush_all = F.replace(result, F.lit(" "), F.lit(""))
    smush_pers = F.replace(
        F.substring(result, 1, F.length(result) - 1).cast("string"),
        F.lit(" "),
        F.lit(""),
    )
    with_pers = F.when(
        long_personal & (smush_pers != ""),
        F.concat(result, F.lit(" "), smush_pers),
    ).otherwise(result)
    return let1(
        with_pers,
        lambda w: F.trim(
            F.when(
                F.trim(w) != smush_all, F.concat(w, F.lit(" "), smush_all)
            ).otherwise(w)
        ),
    )


def strip_leading_punctuation(
    col: Column | str, preserve_punctuation_only: bool = True
) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, _LEADING_PUNCT_RE, "")
    if not preserve_punctuation_only:
        # getAllFields passes false: an all-punctuation value strips to ''
        return stripped
    # preservePunctuationOnly: return original if nothing remains
    return F.when(stripped == "", c).otherwise(stripped)


# Abbreviations whose trailing period survives stripping. Config-driven in
# the reference (recordmanager.ini [Site] abbreviations -> abbreviations.lst,
# entries like "'mr.'"); the default here is the shipped sample list. Note:
# the reference compares the last word WITHOUT its period against the
# configured keys (MetadataUtils.php:605-613), so entries are stored
# period-less to make the protection actually fire.
DEFAULT_ABBREVIATIONS = ("ill", "col", "mr", "mrs", "ms")

# PHP is_numeric shapes (bounded for Java lookbehind): int/decimal/.5 forms.
_NUMERIC_WORD = "[+-]?([0-9]{1,10}(\\.[0-9]{0,10})?|\\.[0-9]{1,10})"


def strip_trailing_punctuation(
    col: Column | str,
    additional: str = "",
) -> Column:
    """stripTrailingPunctuation (MetadataUtils.php:572-632), faithfully.

    1. rtrim the basic set " /:;,=([" (+ ``additional`` chars);
    2. drop one trailing period UNLESS it terminates an initial (the char
       three from the end is a space, e.g. "Smith, A."), a numeric word
       ("123."), or a configured abbreviation ("Mr.");
    3. drop a trailing ". -";
    4. drop a trailing ")" / "]" with no matching opener anywhere.

    Expressed as chained regexp_replace so the expression tree stays LINEAR
    — the when(s...).otherwise(s) form re-references its input ~5x per
    rule, which compounds to a ~150x-duplicated subtree per call site and
    dominates plan-construction time in wide extractor projections. The
    period-rule exceptions become bounded negative lookbehinds.
    """
    abbreviations = DEFAULT_ABBREVIATIONS
    c = F.col(col) if isinstance(col, str) else col
    if additional:
        trail_re = "[" + re.escape(" /:;,=([" + additional) + "]+\\z"
    else:
        trail_re = _TRAILING_BASIC_RE
    s = F.regexp_replace(c, trail_re, "")
    # period rule: three negative lookbehinds AND together — not an initial
    # (space + single char), not a numeric last word, not an abbreviation.
    abbrev_alt = "|".join(re.escape(a) for a in abbreviations if a)
    period_re = (
        "(?i)(?<! .)"
        + f"(?<!(^| ){_NUMERIC_WORD})"
        + (f"(?<!(^| )({abbrev_alt}))" if abbrev_alt else "")
        + "\\.\\z"
    )
    s = F.regexp_replace(s, period_re, "")
    s = F.regexp_replace(s, "\\. -\\z", "")
    # drop an unbalanced trailing ) or ] (whole-string match: no opener
    # anywhere before it)
    s = F.regexp_replace(s, "^([^(]*)\\)\\z", "$1")
    s = F.regexp_replace(s, "^([^\\[]*)\\]\\z", "$1")
    return s


# PHP trim()'s default character set (" \t\n\r\0\x0B") as a Java class;
# Spark's F.trim strips only ASCII space, which diverges on \n/\r tails.
_PHP_TRIM_RE = "^[ \\t\\n\\r\\x00\\x0B]+|[ \\t\\n\\r\\x00\\x0B]+\\z"
_PUNCT_RUN_RE = "[\\t\\p{P}=´`” ]+"


def has_trailing_punctuation(col: Column | str) -> Column:
    """hasTrailingPunctuation (MetadataUtils.php:507-522): last non-space
    char in " /:;,=([", OR a trailing period that doesn't follow a
    single-char word (the initial rule's substr(-3) check)."""
    c = F.col(col) if isinstance(col, str) else col
    last_ns = F.substring(F.rtrim(c), -1, 1)
    by_set = last_ns.isin("/", ":", ";", ",", "=", "(", "[")
    third = F.when(F.length(c) >= 3, F.substring(c, -3, 1)).otherwise(
        F.substring(c, 1, 1)
    )
    by_period = c.endswith(".") & (third != " ")
    return (F.length(c) > 0) & (by_set | by_period)


def strip_punctuation(col: Column | str) -> Column:
    """stripPunctuation (MetadataUtils.php:535-560): any punctuation run ->
    single space, PHP-trimmed; the original survives when nothing remains
    (preservePunctuationOnly)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(F.regexp_replace(c, _PUNCT_RUN_RE, " "), _PHP_TRIM_RE, "")
    return F.when(out == "", c).otherwise(out)


def strip_leading_article(col: Column | str) -> Column:
    """stripLeadingArticle (MetadataUtils.php:678-688): lowercase, then drop
    the first list-order article prefix. Regex alternation tries branches
    left-to-right, which preserves the reference's first-match-wins loop in
    ONE linear op (the when-chain form re-referenced the input 2x per
    article)."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    pattern = "^(?:" + "|".join(re.escape(a) for a in ARTICLES) + ")"
    return F.regexp_replace(c, pattern, "")


def create_sort_title(col: Column | str) -> Column:
    """createSortTitle (MetadataUtils.php:698-711): strip article, collapse
    punctuation (preserving the original when only punctuation remains), and
    strip the article AGAIN if the collapse changed the first character —
    already lowercase from the article strip."""
    t = strip_leading_article(col)
    start = F.substring(t, 1, 1)
    p = F.regexp_replace(F.regexp_replace(t, _PUNCT_RUN_RE, " "), _PHP_TRIM_RE, "")
    p = F.when(p == "", t).otherwise(p)
    return F.when(F.substring(p, 1, 1) != start, strip_leading_article(p)).otherwise(p)


def create_id_sort_key(col: Column | str) -> Column:
    """createIdSortKey (MetadataUtils.php:742-749): PHP `^\\w*(\\d+)$` with a
    greedy \\w* — the capture is the *last digit only* when the id ends in
    digits (PCRE backtracks minimally), else the id unchanged. We keep parity
    with that quirk; Java regex greediness matches PCRE here."""
    c = F.col(col) if isinstance(col, str) else col
    digits = F.regexp_extract(c, "^\\w*(\\d+)$", 1)
    return F.when(digits != "", digits).otherwise(c)


def extract_year(col: Column | str) -> Column:
    """First (possibly negative) 4-digit year run; '' when none
    (MetadataUtils.php:847-880)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, "(-?\\d{4})", 1)


def array_iunique(col: Column | str) -> Column:
    """Case-insensitive distinct preserving first occurrence + original case.

    Reference: MetadataUtils.php:721-740. JVM-side fold: accumulate
    (seen_lowercase, output) pair, append when unseen.
    """
    c = F.col(col) if isinstance(col, str) else col
    acc0 = F.struct(
        F.array().cast("array<string>").alias("seen"),
        F.array().cast("array<string>").alias("out"),
    )

    def step(acc, x):
        lx = F.lower(x)
        return F.when(
            F.array_contains(acc["seen"], lx), acc
        ).otherwise(
            F.struct(
                F.array_append(acc["seen"], lx).alias("seen"),
                F.array_append(acc["out"], x).alias("out"),
            )
        )

    return F.aggregate(c, acc0, step, lambda acc: acc["out"])


# ---------------------------------------------------------------------------
# Author / language / relator / date helpers (MetadataUtils.php:1056-1240)
# ---------------------------------------------------------------------------


def convert_author_last_first(col: Column | str) -> Column:
    """'First Middle Last' -> 'Last, First Middle' (split on LAST space)."""
    c = F.col(col) if isinstance(col, str) else col
    last = F.substring_index(c, " ", -1)
    rest = F.substring(c, 1, F.length(c) - F.length(last) - 1)
    return F.when(
        c.contains(" ") & ~c.startswith(" "), F.concat(last, F.lit(", "), rest)
    ).otherwise(c)


def normalize_relator(col: Column | str) -> Column:
    """Trim, strip all punctuation, lowercase (MetadataUtils.php:1077-1092)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(F.trim(c), "\\p{P}+", ""))


def validate_date(col: Column | str) -> Column:
    """yyyy-mm-dd validity -> unix seconds, NULL when invalid (:757-800)."""
    c = F.col(col) if isinstance(col, str) else col
    parsed = F.try_to_timestamp(c, F.lit("yyyy-MM-dd"))
    ok = (F.length(c) == 10) & c.rlike("^-?\\d{4}-\\d{2}-\\d{2}$") & parsed.isNotNull()
    return F.when(ok, F.unix_timestamp(parsed))


def validate_iso8601_date(col: Column | str) -> Column:
    """Strict ISO-8601 UTC instant -> unix seconds, NULL when invalid.

    MetadataUtils.php:785-809: anchored ``yyyy-mm-ddThh:mm:ssZ`` regex with
    component range checks, then a strtotime/gmdate round-trip that rejects
    overflow dates like 2021-02-30. ``try_make_timestamp`` with an explicit
    UTC zone gives the same reject-on-overflow semantics JVM-side.
    """
    c = F.col(col) if isinstance(col, str) else col
    pat = "^(-?\\d{4})-(\\d{2})-(\\d{2})T(\\d{2}):(\\d{2}):(\\d{2})Z$"
    part = [F.regexp_extract(c, pat, i).cast("int") for i in range(7)]
    ts = F.try_make_timestamp(
        part[1], part[2], part[3], part[4], part[5], part[6].cast("double"),
        F.lit("UTC"),
    )
    return F.when(c.rlike(pat), F.unix_timestamp(ts))


def format_timestamp(col: Column | str) -> Column:
    """Unix seconds -> 'yyyy-mm-ddThh:mm:ssZ' in UTC; NULL input formats the
    epoch, mirroring the ``?? 0`` default (MetadataUtils.php:851-857)."""
    c = F.col(col) if isinstance(col, str) else col
    ts = F.timestamp_seconds(F.coalesce(c.cast("long"), F.lit(0)))
    return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")


def uc_first(col: Column | str) -> Column:
    """Multibyte-aware upper-case of the first character only
    (MetadataUtils.php:881-900; PHP mb_strtoupper + mb_substr)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(F.upper(F.substring(c, 1, 1)), F.substring(c, 2, 0x7FFFFFF))


def array_trim(col: Column | str) -> Column:
    """PHP trim() over every array element (MetadataUtils.php:926-945)."""
    chars = " \t\n\r\x00\x0b"
    c = F.col(col) if isinstance(col, str) else col
    cls = "[" + "".join("\\u%04x" % ord(ch) for ch in chars) + "]+"
    return F.transform(
        c,
        lambda v: F.regexp_replace(
            F.regexp_replace(v, "^" + cls, ""), cls + "$", ""
        ),
    )


def strip_control_characters(col: Column | str) -> Column:
    """Remove CR / LF / TAB (MetadataUtils.php:975-985 — exactly those
    three, not the whole Cc class)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, "\r\n\t", "")


def trim_xml_whitespace(col: Column | str) -> Column:
    """Trim whitespace between tags but never inside text nodes
    (MetadataUtils.php:818-830, same regex with a Java backreference)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        c, "\\s*(<([^>]*)>[^<]*</\\2>|<[^>]*>)\\s*", "$1"
    )
