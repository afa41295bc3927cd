"""robots.txt (Robots Exclusion Protocol, RFC 9309) crawl-permission
gate — the fetch-time half of the compliance story whose index-time
half is ``functions/html.robots_optout`` (robots-meta noindex +
X-Robots-Tag, r11).

Public-spec semantics (RFC 9309 §2, matching common-crawler practice
where the RFC leaves latitude):

- groups: one or more consecutive ``User-agent:`` lines followed by
  ``Allow:`` / ``Disallow:`` rules; a crawler obeys the group(s) whose
  agent token matches its product token, else the ``*`` group. Among
  matching tokens the LONGEST (most specific) wins; every group with
  that winning token contributes rules (RFC 9309 §2.2.1: groups with
  the same agent are merged).
- rule matching: the rule path is a prefix pattern over the URL's
  path+query; ``*`` matches any span, a trailing ``$`` anchors the end.
- decision: among matching rules, the LONGEST pattern wins; on a tie,
  ``Allow`` wins (§2.2.2 "most specific match"). No matching rule, no
  matching group, an empty ``Disallow:``, or a missing/unparseable
  robots.txt all mean ALLOWED (the REP is opt-out).

Scale shape: the per-host robots corpus is tiny next to the document
corpus — it broadcasts; the verdict is one Arrow-batched scan with a
per-batch compile cache (hosts repeat heavily within a partition), so
the documents never shuffle.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import List, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# one rule: (pattern_length, allow, compiled_prefix_regex)
Rule = Tuple[int, bool, "re.Pattern[str]"]

_LINE_RE = re.compile(
    r"^\s*(user-agent|allow|disallow)\s*:\s*(.*?)\s*$", re.I
)


def _pattern_to_regex(pattern: str) -> "re.Pattern[str]":
    """REP prefix pattern -> anchored-at-start regex: ``*`` spans,
    trailing ``$`` anchors the end, everything else is literal."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    body = ".*".join(re.escape(part) for part in pattern.split("*"))
    return re.compile("^" + body + ("$" if anchored else ""))


def parse_robots(text: str, agent: str = "*") -> List[Rule]:
    """Rules of the group(s) RFC 9309 assigns to ``agent``.

    Group selection: agent tokens match case-insensitively as a
    substring of the crawler's product token (``*`` matches anything);
    the longest matching token wins and ALL groups carrying it merge.
    Lines that parse to nothing (comments, unknown directives, empty
    Disallow) contribute no rules."""
    agent_l = agent.lower()
    current_tokens: List[str] = []
    in_agent_run = False
    rules_by_token: dict[str, List[Tuple[str, bool]]] = {}
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0]
        m = _LINE_RE.match(line)
        if not m:
            continue
        key, value = m.group(1).lower(), m.group(2)
        if key == "user-agent":
            if not in_agent_run:
                current_tokens = []
                in_agent_run = True
            tok = value.lower()
            current_tokens.append(tok)
            # an EMPTY group must still win selection (= allow all),
            # not fall through to the * group
            rules_by_token.setdefault(tok, [])
            continue
        in_agent_run = False
        if not value:
            continue  # empty Disallow/Allow: no rule (= allow all)
        for tok in current_tokens:
            rules_by_token.setdefault(tok, []).append(
                (value, key == "allow")
            )
    # pick the most specific matching token
    best_tok: str | None = None
    for tok in rules_by_token:
        matches = tok == "*" or tok in agent_l
        if not matches:
            continue
        if (
            best_tok is None
            or (best_tok == "*" and tok != "*")
            or (tok != "*" and len(tok) > len(best_tok))
        ):
            best_tok = tok
    if best_tok is None:
        return []
    return [
        (len(pattern), allow, _pattern_to_regex(pattern))
        for pattern, allow in rules_by_token[best_tok]
    ]


def robots_path_allowed(path: str, rules: List[Rule]) -> bool:
    """RFC 9309 §2.2.2 most-specific-match decision for one path."""
    if not rules:
        return True
    path = path or "/"
    best_len = -1
    best_allow = True
    for plen, allow, rx in rules:
        if rx.match(path) is None:
            continue
        if plen > best_len or (plen == best_len and allow):
            best_len, best_allow = plen, allow
    return best_allow if best_len >= 0 else True


def url_host_expr(url: Column | str) -> Column:
    """Lowercased authority (host[:port]) of a URL column."""
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(
        F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    )


def url_path_expr(url: Column | str) -> Column:
    """path+query of a URL column ('/' when absent) — the REP match
    target (§2.2.2 matches the path and optional query)."""
    c = F.col(url) if isinstance(url, str) else url
    p = F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def robots_gate(
    df: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    agent: str = "*",
) -> DataFrame:
    """Annotate ``df`` with the RFC 9309 crawl verdict for each row's
    URL against the per-host ``robots`` table (host, robots_txt).

    The robots side broadcasts (a crawl frontier has a few rows per
    host, millions of docs per host); the verdict itself is one
    Arrow-batched scan with an lru-cached parse per distinct robots
    text — the documents never shuffle. Hosts with no robots row are
    allowed (opt-out protocol)."""
    out_col = "robots_allowed"
    host_col = "host"
    txt_col = "robots_txt"
    # RFC 9309 has exactly one robots.txt per authority; a robots table
    # with duplicate host rows (two harvest runs unioned, http+https
    # both recorded) must NOT fan the left join out — a gate that
    # duplicates documents is corpus corruption, not a filter. Collapse
    # to one deterministic row per host (max text) before broadcasting.
    r = robots.groupBy(
        F.lower(F.col(host_col)).alias("__rb_host")
    ).agg(F.max(F.col(txt_col)).alias("__rb_txt"))
    joined = df.withColumn("__rb_host", url_host_expr(url_col)).join(
        F.broadcast(r), "__rb_host", "left"
    )

    @F.pandas_udf("boolean")
    def _verdict(paths: pd.Series, txts: pd.Series) -> pd.Series:
        @lru_cache(maxsize=1024)
        def rules_of(txt: str) -> List[Rule]:
            return parse_robots(txt, agent)

        out = []
        for path, txt in zip(paths, txts):
            if txt is None:
                out.append(True)
            else:
                out.append(
                    robots_path_allowed(path, rules_of(txt))
                )
        return pd.Series(out)

    return joined.withColumn(
        out_col, _verdict(url_path_expr(url_col), F.col("__rb_txt"))
    ).drop("__rb_host", "__rb_txt")
