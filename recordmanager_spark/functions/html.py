"""HTML text extraction: the step-0 of every web-crawl curation
pipeline (CommonCrawl WET-style tag stripping, jusText/trafilatura's
link-density boilerplate signal — the heuristics, re-expressed as plan
expressions).

Everything here is a scan-stage chain of ``regexp_replace`` /
``replace`` / ``regexp_extract_all`` over the raw markup column — zero
shuffles and codegen-friendly at any scale; at 100 TB extraction is
exactly as parallel as the scan that reads the WARC payloads.

Engine-parity constraints (the DuckDB oracle replays the same chain):

- NO regex backreferences (DuckDB is RE2) — script and style blocks
  strip with two separate patterns instead of ``<(script|style)>.*?
  </\\1>``;
- inline ``(?is)`` flags only (supported by both Java regex and RE2);
- entity decoding is a fixed-order literal replace fold with ``&amp;``
  LAST, so ``&amp;lt;`` decodes to the literal text ``&lt;`` and never
  double-decodes.

The heavy-DOM path (readability scoring, boilerpipe block
classification) belongs behind an injected-parser example (the PIL /
PyAV seam pattern) if a corpus needs it; these expressions cover the
WET-grade bulk extraction the reference pipelines start from.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# literal entity decode, order is semantic: &amp; must fold LAST
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]

# invisible-content blocks (two patterns — RE2 has no backreferences)
_SCRIPT = r"(?is)<script[^>]*>.*?</script>"
_STYLE = r"(?is)<style[^>]*>.*?</style>"
_COMMENT = r"(?s)<!--.*?-->"
# any remaining tag
_TAG = r"(?s)<[^>]*>"
# anchor inner text (group 1) for the link-density signal
_ANCHOR = r"(?is)<a[^>]*>(.*?)</a>"
_TITLE = r"(?is)<title[^>]*>(.*?)</title>"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def html_strip_blocks(col: Column | str) -> Column:
    """Markup with script/style/comment blocks removed (their text is
    code, not content — stripping tags alone would leak it)."""
    c = _c(col)
    for pat in (_SCRIPT, _STYLE, _COMMENT):
        c = F.regexp_replace(c, pat, "")
    return c


def html_to_text(col: Column | str) -> Column:
    """Visible text of an HTML column: drop script/style/comments,
    strip tags to spaces, decode the common entities, collapse
    whitespace."""
    c = F.regexp_replace(html_strip_blocks(col), _TAG, " ")
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_title(col: Column | str) -> Column:
    """The first <title> element's inner text, whitespace-collapsed
    (empty string when absent — regexp_extract's no-match value)."""
    t = F.regexp_extract(_c(col), _TITLE, 1)
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def link_density(col: Column | str) -> Column:
    """Fraction of the visible text that lives inside anchor tags —
    the classic navigation/boilerplate signal (jusText, Kohlschütter's
    boilerpipe): menus and footers are nearly all links, body prose is
    nearly none. Computed per document as anchor-inner-text chars over
    visible-text chars (round 6; 0.0 for empty documents)."""
    stripped = html_strip_blocks(col)
    anchors = F.regexp_extract_all(stripped, F.lit(_ANCHOR), F.lit(1))
    anchor_chars = F.aggregate(
        anchors,
        F.lit(0),
        lambda acc, a: acc
        + F.length(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(a, _TAG, " "), r"\s+", " "
                )
            )
        ),
    )
    text_chars = F.length(html_to_text(col))
    return F.round(
        anchor_chars / F.greatest(text_chars, F.lit(1)).cast("double"), 6
    )


# -- crawl opt-out signals ---------------------------------------------------
# The compliance gate every production crawl pipeline runs before a page
# enters a corpus (C4/RefinedWeb practice; REP: RFC 9309 §2.3.1 +
# Google's robots-meta extension): a page can opt out of indexing via a
# robots <meta> element in the markup or an X-Robots-Tag HTTP response
# header. 'none' is the documented shorthand for 'noindex, nofollow'.

_META_TAG = r"(?is)<meta[^>]*>"
_ROBOTS_NAME = r"(?i)name\s*=\s*[\"']?robots\b"
_NOINDEX_CONTENT = r"(?i)content\s*=\s*[\"']?[^\"'>]*\b(noindex|none)\b"
_NOINDEX_HEADER = r"(?im)^x-robots-tag\s*:[^\r\n]*\b(noindex|none)\b"


def robots_meta_noindex(col: Column | str) -> Column:
    """True when any ``<meta name="robots" ...>`` element's content
    carries a ``noindex`` (or ``none``) directive. Attribute order and
    quoting are free; directives are comma-separated tokens, so the
    match is word-bounded ('nonevent' never trips it). False for
    documents with no such meta (and for NULL text)."""
    metas = F.regexp_extract_all(_c(col), F.lit(_META_TAG), F.lit(0))
    return F.coalesce(
        F.exists(
            metas,
            lambda m: m.rlike(_ROBOTS_NAME) & m.rlike(_NOINDEX_CONTENT),
        ),
        F.lit(False),
    )


def robots_header_noindex(col: Column | str) -> Column:
    """True when an HTTP header block carries
    ``X-Robots-Tag: ... noindex|none`` (case-insensitive, per-line
    anchored — a body echoing the phrase doesn't count because only
    the header text is passed). False for NULL."""
    return F.coalesce(_c(col).rlike(_NOINDEX_HEADER), F.lit(False))


def robots_optout(
    html: Column | str, headers: Column | str | None = None
) -> Column:
    """Combined opt-out verdict: robots-meta noindex in the markup OR
    X-Robots-Tag noindex in the response headers (when a header column
    is available — WARC responses keep theirs in ``http_headers``)."""
    verdict = robots_meta_noindex(html)
    if headers is not None:
        verdict = verdict | robots_header_noindex(headers)
    return verdict
