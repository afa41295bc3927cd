"""Python oracles and helpers that tests check the package against."""

from __future__ import annotations

import re
import unicodedata
import xml.etree.ElementTree as ET
from urllib.parse import urlparse

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from recordmanager_spark.functions.bpe import END_OF_WORD
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


def author_initials_py(name: str | None) -> str | None:
    """Python twin of ``keys.author_initials``, written step by step
    from MetadataUtils::getAuthorInitials (MetadataUtils.php:1184-1227):

    - the name is personal when it has a comma that is neither its first
      character (PHP ``strpos`` returns a falsy 0) nor its last;
    - everything but letters, spaces and hyphens is removed, the rest
      lowercased and exploded on single spaces (empty tokens kept);
    - a personal name of more than one token moves its first token (the
      surname) to the end;
    - each non-empty token gives its first letter, or, when a hyphen sits
      strictly inside it, the first letters on both sides of the first
      hyphen, space-separated;
    - the initials, space-joined, then gain the personal-name smush (all
      but the last character, spaces removed) when the name is personal
      with more than two tokens, and the smush of all initials when the
      result so far, space-trimmed, differs from it.
    """
    if name is None:
        return None
    comma = name.find(",")
    personal = 0 < comma < len(name) - 1
    cleaned = "".join(
        ch for ch in name
        if ch in " -" or unicodedata.category(ch).startswith("L")
    ).lower()
    tokens = cleaned.split(" ")
    if personal and len(tokens) > 1:
        tokens = tokens[1:] + tokens[:1]
    initials = []
    for t in tokens:
        if t == "":
            continue
        hyphen = t.find("-")
        if 0 < hyphen < len(t) - 1:
            initials.append(t[0] + " " + t[hyphen + 1])
        else:
            initials.append(t[0])
    result = " ".join(initials)
    smush_all = result.replace(" ", "")
    smush_pers = result[: max(len(result) - 1, 0)].replace(" ", "")
    if len(tokens) > 2 and personal and smush_pers != "":
        result = result + " " + smush_pers
    if result.strip(" ") != smush_all:
        result = result + " " + smush_all
    return result.strip(" ")


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


def _symbols(word: str) -> tuple[str, ...]:
    return tuple(word) + (END_OF_WORD,)


def bpe_train(
    word_counts: list[tuple[str, int]],
    n_merges: int,
    max_words: int = 5_000_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` merge rules from a (word, count) table: the
    driver-side BPE trainer the encoder tests build merge tables with.

    Pure driver-side Python over the bounded vocabulary (raises past
    ``max_words`` rows — prune with ``word_frequencies(min_count=...)``
    first; a 100 TB corpus's distinct-word table after min_count=2 fits
    comfortably). Deterministic: each step merges the highest-count
    adjacent symbol pair, ties broken by lexicographic pair order —
    so the same corpus always yields the same merges, on any machine.

    Returns the merge list in training order (the order ``bpe_encode``
    must apply them in).
    """
    if len(word_counts) > max_words:
        raise ValueError(
            f"word table has {len(word_counts)} rows > max_words="
            f"{max_words}; prune with word_frequencies(min_count=...)"
        )
    vocab: dict[tuple[str, ...], int] = {}
    for word, count in word_counts:
        if word:
            vocab[_symbols(word)] = vocab.get(_symbols(word), 0) + int(count)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, count in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + count
        if not pair_counts:
            break
        top = max(pair_counts.values())
        best_pair = min(p for p, c in pair_counts.items() if c == top)
        merges.append(best_pair)
        a, b = best_pair
        merged = a + b
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, count in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + count
        vocab = new_vocab
    return merges




def bpe_encode_udf(merges: list[tuple[str, str]]):
    """Symbol-list-walk encoder, the parity oracle for ``bpe.bpe_encode``.

    Same algorithm and output as the inline chain (word-major, merges
    applied in training order with left-to-right non-overlapping
    replacement), written as the plain scan over each word's symbol
    list. Returns a callable usable as ``df.select(enc(F.col(c)))``.
    """
    merge_list = [tuple(m) for m in merges]

    @pandas_udf("array<string>")
    def enc(s: pd.Series) -> pd.Series:
        def one(text):
            if text is None:
                return []
            out: list[str] = []
            for w in text.split():
                syms = list(w) + [END_OF_WORD]
                for a, b in merge_list:
                    i = 0
                    res: list[str] = []
                    while i < len(syms):
                        if (
                            i + 1 < len(syms)
                            and syms[i] == a
                            and syms[i + 1] == b
                        ):
                            res.append(a + b)
                            i += 2
                        else:
                            res.append(syms[i])
                            i += 1
                    syms = res
                out.extend(syms)
            return out

        return s.map(one)

    return enc


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    sample: int = 10_000,
    iters: int = 10,
) -> list:
    """Train per-subvector k-means codebooks on a deterministic sample:
    the trained quantizers the PQ/IVFADC recall tests pass to
    ``pq.pq_encode`` / ``pq.ivfadc_encode``.

    The sample is the ``sample`` smallest ids (rerun-stable); training
    is numpy Lloyd on the driver — codebooks saturate at 10-100k
    training points no matter the corpus size (the FAISS practice), so
    this is a bounded collect, not a distributed iteration. Empty cells
    re-seed from the training point farthest from its centroid."""
    assert dim % m == 0, "dim must divide evenly into m subvectors"
    sub = dim // m
    rows = (
        df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(sample)
        .collect()
    )
    mat = np.array([[float(x) for x in r.v] for r in rows], dtype=np.float64)
    books = []
    for s in range(m):
        x = mat[:, s * sub : (s + 1) * sub]
        # deterministic seeding: the k points with smallest ids
        cents = x[: min(k, len(x))].copy()
        while len(cents) < k:  # degenerate tiny sample
            cents = np.vstack([cents, cents[: k - len(cents)]])
        for _ in range(iters):
            d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(k):
                pts = x[assign == j]
                if len(pts):
                    cents[j] = pts.mean(axis=0)
                else:
                    cents[j] = x[d2.min(axis=1).argmax()]
        books.append([[float(v) for v in c] for c in cents])
    return books


def bucketed_join_ready(
    spark: SparkSession, table_a: str, table_b: str, key: str
) -> bool:
    """True iff both tables are bucketed on ``key`` with the SAME bucket
    count — the catalog precondition for the shuffle-free co-located
    join that ``bucketed.write_bucketed`` tables give."""

    def spec(table: str) -> tuple[int, tuple[str, ...]] | None:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        n, cols = None, None
        for r in rows:
            if r.col_name == "Num Buckets":
                n = int(r.data_type)
            elif r.col_name == "Bucket Columns":
                cols = tuple(
                    c.strip(" `")
                    for c in r.data_type.strip("[]").split(",")
                )
        return (n, cols) if n is not None and cols is not None else None

    a, b = spec(table_a), spec(table_b)
    return (
        a is not None
        and b is not None
        and a[0] == b[0]
        and a[1] == (key,)
        and b[1] == (key,)
    )
