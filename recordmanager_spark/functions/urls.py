"""URL canonicalization and canonical-URL deduplication.

The first dedup pass of every web-crawl training pipeline (CommonCrawl /
C4 / RefinedWeb §3.2 dedup ladders): before any content hashing, rows
that are the SAME page fetched through cosmetically different URLs
(case-varied hosts, default ports, tracking parameters, fragments,
re-ordered query strings) collapse onto one canonical form.

The canonical form follows RFC 3986 §6 syntax-based normalization plus
the standard tracking-parameter strip:

1. strip the fragment (``#...`` never reaches the server);
2. lowercase the scheme and the host (case-insensitive per RFC);
3. drop the scheme's default port (``:80`` http, ``:443`` https);
4. empty path → ``/``;
5. drop tracking parameters (``utm_*``, ``fbclid``, ``gclid``,
   ``msclkid``, ``mc_eid``, ``igshid``), sort the survivors
   byte-wise, and re-join — parameter ORDER is transport noise, but
   names/values are semantics and are preserved;
6. optionally strip a leading ``www.`` (semantic-lossy — most sites
   alias it, some don't — so it is opt-in).

Everything is built from ``regexp_extract`` / ``split`` / ``filter`` /
``array_sort`` Column expressions: pure scan-stage projection, zero
shuffles, zero Python, identical semantics in external SQL engines
(which is what makes the contract query hash-verifiable).

No counterpart in the reference (it ingests library metadata, not web
crawls); this extends the engine toward LLM-corpus preparation like
text_dedup / quality do.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# parameter-name prefixes stripped during canonicalization; '=' anchors
# exact names, a trailing '_' anchors families
DEFAULT_TRACKING_PARAMS = (
    "utm_", "fbclid=", "gclid=", "msclkid=", "mc_eid=", "igshid=",
)


def _rx_escape(s: str) -> str:
    """Escape regex metacharacters — the common Java/RE2 set, so the
    generated pattern means the same thing in Spark and in external SQL
    engines (DuckDB's RE2) that oracle-check it."""
    return _RX_META.sub(r"\\\1", s)


_RX_META = re.compile(r"([.^$*+?()\[\]{}|\\])")


def _param_strip_regex(params: tuple[str, ...]) -> str:
    """One anchored alternation over the strip list. Entries ending in
    ``=`` are EXACT parameter names — matched as ``name(=|$)`` so the
    bare valueless form (``...&fbclid&...``) strips too; other entries
    are name-family prefixes (``utm_``). Every alternative is
    regex-escaped, so caller-supplied names like ``ref[src]=`` are
    literals, not broken patterns."""
    alts = []
    for p in params:
        if p.endswith("="):
            alts.append(_rx_escape(p[:-1]) + "(=|$)")
        else:
            alts.append(_rx_escape(p))
    return "^(" + "|".join(alts) + ")"


def canonicalize_url(
    col: Column | str,
    *,
    tracking_params: tuple[str, ...] = DEFAULT_TRACKING_PARAMS,
    strip_www: bool = False,
) -> Column:
    """RFC 3986 §6 syntax normalization + tracking-param strip as one
    scan-stage Column expression (see module docstring for the rules).

    Non-URL input (no ``scheme://``) passes through trimmed-and-
    fragment-stripped rather than erroring — crawl metadata is dirty and
    a canonicalizer that throws on one malformed row is useless at
    corpus scale.
    """
    u = F.trim(F.col(col) if isinstance(col, str) else col)
    u = F.trim(F.regexp_replace(u, r"#.*$", ""))  # 1. fragment

    scheme = F.lower(F.regexp_extract(u, r"^([^:/?#]+)://", 1))
    authority = F.lower(F.regexp_extract(u, r"^[^:/?#]+://([^/?#]*)", 1))
    if strip_www:
        authority = F.regexp_replace(authority, r"^www\.", "")
    # 3. default ports
    authority = F.when(
        scheme == "http", F.regexp_replace(authority, r":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(authority, r":443$", "")
    ).otherwise(authority)
    path = F.regexp_extract(u, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)  # 4.
    query = F.regexp_extract(u, r"\?([^#]*)", 1)

    # 5. tracking strip + byte-wise sort of surviving params
    strip_re = _param_strip_regex(tracking_params)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(strip_re),
        )
    )
    query2 = F.array_join(params, "&")

    canonical = F.concat(
        scheme, F.lit("://"), authority, path,
        F.when(query2 == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), query2)
        ),
    )
    return F.when(scheme == "", u).otherwise(canonical)


def canonical_url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    quality_col: str | None = None,
    **canon_kwargs,
) -> DataFrame:
    """Keep ONE row per canonical URL: highest ``quality_col`` wins,
    ties (or no quality column) break to the smallest ``id_col``.

    Output = input + ``canonical_col`` + ``keep`` boolean.

    Scale shape: the canonical form is a scan-stage projection; the only
    shuffle is ONE hash partition on the canonical URL for the ranking
    window. Per-key row counts are bounded by the duplication factor of
    a single page (crawl re-fetches — tens, not billions), so there is
    no skew hazard; at 100 TB this is strictly cheaper than any
    content-hash dedup because the key is short and already materialized.
    """
    canonical_col = "canonical_url"
    from pyspark.sql import Window

    out = df.withColumn(
        canonical_col, canonicalize_url(url_col, **canon_kwargs)
    )
    order = (
        [F.col(quality_col).desc_nulls_last(), F.col(id_col).asc()]
        if quality_col
        else [F.col(id_col).asc()]
    )
    w = Window.partitionBy(canonical_col).orderBy(*order)
    return out.withColumn(
        "keep", F.row_number().over(w) == 1
    )
