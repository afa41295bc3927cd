"""Python oracles and helpers that tests check the package against."""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from urllib.parse import urlparse

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from recordmanager_spark.functions.keys import (
    _ACCENTS,
    _FOLDED,
    _KANA_MAP,
    _KANA_RANGE_RE,
    _KEY_STRIP_RE,
    _MULTI_FOLD,
    _ONE_FOLD_DST,
    _ONE_FOLD_SRC,
)
from recordmanager_spark.sources.splitter import _findall_local


def local_path(uri: str) -> str | None:
    """Local filesystem path of a file:/no-scheme URI, else None."""
    u = urlparse(uri)
    return u.path if u.scheme in ("", "file") else None


def normalize_key_py(s: str | None) -> str:
    """Driver-side Python twin of ``keys.normalize_key``.

    Byte-identical to the Column fold (``test_keys`` pins the parity).
    Keep the two in lockstep when extending the fold tables.
    """
    if s is None:
        return ""
    c = s.lower()
    if re.search(_KANA_RANGE_RE, c):
        c = "".join(_KANA_MAP.get(ch, ch) for ch in c)
    c = c.translate(str.maketrans(_ACCENTS, _FOLDED))
    for src, dst in _MULTI_FOLD:
        c = c.replace(src, dst)
    # translate() maps positionally and DELETES source chars past the
    # target's length — mirror both behaviors
    table: dict[int, str | None] = {
        ord(a): b for a, b in zip(_ONE_FOLD_SRC, _ONE_FOLD_DST)
    }
    for ch in _ONE_FOLD_SRC[len(_ONE_FOLD_DST):]:
        table[ord(ch)] = None
    c = c.translate(table)
    return re.sub(_KEY_STRIP_RE, "", c)


SPLIT_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("part_xml", T.StringType()),
            T.StructField("part_id", T.StringType()),
            T.StructField("sequence", T.IntegerType()),
        ]
    )
)


def make_xpath_splitter(record_tag: str, id_tag: str | None = None):
    """Parsing file splitter: extract repeated ``record_tag`` elements, the
    oracle for ``splitter.make_tag_splitter`` on flat record streams.

    (The reference's recordXPath is a full XPath; local-name matching covers
    the overwhelmingly common ``//record``-style configurations and stays
    namespace-agnostic.)
    """

    @pandas_udf(SPLIT_SCHEMA)
    def split(xml: pd.Series) -> pd.Series:
        def one(doc):
            if not doc:
                return []
            try:
                root = ET.fromstring(doc)
            except ET.ParseError:
                return []
            out = []
            for i, el in enumerate(_findall_local(root, record_tag), start=1):
                pid = None
                if id_tag:
                    ids = _findall_local(el, id_tag)
                    pid = (ids[0].text or "").strip() if ids else None
                out.append(
                    (ET.tostring(el, encoding="unicode"), pid or str(i), i)
                )
            return out

        return xml.map(one)

    return split
