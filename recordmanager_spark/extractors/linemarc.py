"""Line-based ("tagged") MARC parser → the normalized MARC struct.

Behavioral spec (reference, NOT code): Utils/LineBasedMarcFormatter.php —
Alma/OCLC tagged output: one field per line, ``LDR``/``000`` leader,
control fields for tags < 010, data fields with indicators and subfields
described by a FORMAT CONFIG (subfield regexp, optional end-of-line
marker, and the tag/indicator/content character offsets). The format
whose subfield regexp matches most often wins, exactly like the
reference's auto-detection. The reference emits MARCXML; we emit the
engine's typed MARC struct directly — one less XML round trip, same
information (illegal-XML characters are stripped from values the same
way the reference strips them from its serialized output).

Replayed against the reference's alma/genieplus/bad golden fixtures in
tests/test_golden_marc.py.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql.pandas.functions import pandas_udf

from .marc import MARC_SCHEMA

# Default format definitions (LineBasedMarcFormatter.php:59-69), python
# regex syntax. Subfield value text is kept VERBATIM between delimiters —
# the reference does not trim (a trailing space before the next '|x '
# marker survives into the subfield value).
DEFAULT_FORMATS: list[dict] = [
    {"subfieldRegExp": r"\$([a-z0-9])"},
    {"subfieldRegExp": r"\|([a-z0-9]) "},
    {"subfieldRegExp": r"‡([a-z0-9]) "},
]


# characters legal in XML 1.0 per the reference's post-serialization
# strip (LineBasedMarcFormatter.php:196-200; astral planes are not in
# its allowed set, so they strip too)
_ILLEGAL_XML_RE = re.compile(
    "[^\\u0009\\u000a\\u000d\\u0020-\\ud7ff\\ue000-\\ufffd]+"
)


def _intval(tag: str) -> int:
    m = re.match(r"\s*[+-]?\d+", tag or "")
    return int(m.group(0)) if m else 0


def _clean(v: str) -> str:
    return _ILLEGAL_XML_RE.sub("", v)


def parse_line_marc(text: str | None, formats: list[dict] | None = None):
    """One tagged record → (leader, fields) tuple matching MARC_SCHEMA."""
    if not text:
        return None
    fmts = formats or DEFAULT_FORMATS
    best, best_n = None, -1
    for f in fmts:
        n = len(re.findall(f["subfieldRegExp"], text, re.S))
        if best is None or n > best_n:
            best, best_n = f, n
    sub_re = re.compile(best["subfieldRegExp"])
    content_offset = best.get("contentOffset", 4)
    leader_offset = best.get("leaderOffset", 0)
    ind1_offset = best.get("ind1Offset", 4)
    ind2_offset = best.get("ind2Offset", 5)
    first_subfield_offset = best.get("firstSubfieldOffset", 7)
    eol = best.get("endOfLineMarker")

    leader = None
    fields = []
    for line in text.split("\n"):
        line = line.strip()
        if eol and line.endswith(eol):
            line = line[: -len(eol)]
        if not line:
            continue
        tag = line[:3]
        content = line[content_offset:]
        if len(content) >= 2 and content.startswith("'") and content.endswith("'"):
            content = content[1:-1]
        if tag in ("LDR", "000"):
            leader = _clean(content[leader_offset : leader_offset + 24]).ljust(24)
        elif _intval(tag) < 10:
            fields.append((tag, None, None, _clean(content), None))
        else:
            ind1 = line[ind1_offset] if len(line) > ind1_offset else ""
            ind2 = line[ind2_offset] if len(line) > ind2_offset else ""
            ind1 = " " if ind1 == "_" else ind1
            ind2 = " " if ind2 == "_" else ind2
            # PREG_SPLIT_DELIM_CAPTURE: [prefix, code, value, code, value...]
            # — the prefix before the first delimiter is DISCARDED and
            # empty values skip their subfield entirely
            parts = sub_re.split(
                content[first_subfield_offset - content_offset :]
            )
            parts.pop(0)
            subs = []
            for code, value in zip(parts[0::2], parts[1::2]):
                if value == "":
                    continue
                subs.append((code, _clean(value)))
            fields.append((tag, ind1, ind2, None, subs))
    return (leader, fields)


def parse_line_based_marc_with(formats: list[dict] | None):
    """Factory: a parser UDF bound to specific format configs (the
    reference's constructor argument)."""

    @pandas_udf(MARC_SCHEMA)
    def _f(text: pd.Series) -> pd.DataFrame:
        parsed = text.map(lambda t: parse_line_marc(t, formats))
        return pd.DataFrame(
            {
                "leader": parsed.map(lambda p: p[0] if p else None),
                "fields": parsed.map(lambda p: p[1] if p else None),
            }
        )

    return _f


parse_line_based_marc = parse_line_based_marc_with(None)
