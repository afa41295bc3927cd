"""RDF (Turtle / N-Triples) import → the linked-data enrichment table.

Behavioral spec (reference, NOT code): Command/Util/ImportRdf.php:44-200 —
streams a Turtle file, groups consecutive triples by subject, and stores
one document per subject in the ``ldEnrichment`` collection that
SkosmosEnrichment's offline mode reads. The Spark form produces the
``(uri, pref_labels, alt_labels, broader, geo_lat, geo_long)`` lookup
DataFrame that ``operators/enrich.enrich_with_entities`` consumes
(SKOS prefLabel/altLabel accumulation, SkosmosEnrichment.php:222-352).

The parser is a deliberately bounded Turtle subset — @prefix/PREFIX,
IRIs, prefixed names, ``a``, predicate lists (';'), object lists (','),
single-line literals with @lang / ^^type — which covers SKOS vocabulary
dumps (the reference's use case). Blank-node constructs are skipped.
Parsing is an Arrow-batched pandas UDF per document; vocabulary files are
small (MBs), the scale-relevant side is the join against records, which
stays broadcast.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

SKOS = "http://www.w3.org/2004/02/skos/core#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
WGS84 = "http://www.w3.org/2003/01/geo/wgs84_pos#"

TRIPLE_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("subject", T.StringType()),
            T.StructField("predicate", T.StringType()),
            T.StructField("object", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("is_literal", T.BooleanType()),
        ]
    )
)

_TOKEN = re.compile(
    r"""
    (?P<comment>\#[^\n]*)
  | (?P<iri><[^<>\s]*>)
  | (?P<literal>"(?:[^"\\]|\\.)*")
  | (?P<langtag>@[A-Za-z][A-Za-z0-9-]*)
  | (?P<typetag>\^\^)
  | (?P<punct>[;,.\[\]\(\)])
  | (?P<pname>[A-Za-z_][\w.-]*)?:(?P<plocal>[\w.-]*)
  | (?P<kw>[A-Za-z_][\w-]*)
  | (?P<num>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    """,
    re.VERBOSE,
)

_ESCAPES = {"\\n": "\n", "\\t": "\t", '\\"': '"', "\\\\": "\\", "\\r": "\r"}


def _unescape(s: str) -> str:
    s = re.sub(
        r"\\u([0-9A-Fa-f]{4})|\\U([0-9A-Fa-f]{8})",
        lambda m: chr(int(m.group(1) or m.group(2), 16)),
        s,
    )
    return re.sub(
        r"\\[ntr\"\\]", lambda m: _ESCAPES.get(m.group(0), m.group(0)), s
    )


def parse_turtle_text(text: str | None):
    """One Turtle document → triple tuples (bounded subset, see module doc)."""
    if not text:
        return []
    prefixes: dict[str, str] = {}
    triples = []
    tokens = []
    for m in _TOKEN.finditer(text):
        if m.lastgroup == "comment":
            continue
        tokens.append(m)
    i = 0
    n = len(tokens)

    def term(j):
        """Resolve the token at j to (value, lang, is_literal, next_j)."""
        m = tokens[j]
        kind = m.lastgroup
        if kind == "iri":
            return m.group("iri")[1:-1], None, False, j + 1
        if kind in ("pname", "plocal") or (m.group("plocal") is not None):
            pfx = m.group("pname") or ""
            base = prefixes.get(pfx)
            if base is None:
                return None, None, False, j + 1
            return base + m.group("plocal"), None, False, j + 1
        if kind == "literal":
            val = _unescape(m.group("literal")[1:-1])
            lang = None
            j += 1
            if j < n and tokens[j].lastgroup == "langtag":
                lang = tokens[j].group("langtag")[1:]
                j += 1
            elif j < n and tokens[j].lastgroup == "typetag":
                j += 2  # skip ^^ and the datatype token
            return val, lang, True, j
        if kind == "num":
            return m.group("num"), None, True, j + 1
        if kind == "kw" and m.group("kw") == "a":
            return RDF_TYPE, None, False, j + 1
        return None, None, False, j + 1

    while i < n:
        m = tokens[i]
        kind = m.lastgroup
        # prefix directives: '@prefix' lexes as a langtag, SPARQL-style
        # 'PREFIX' as a keyword
        directive = None
        if kind == "langtag":
            directive = m.group("langtag")[1:].lower()
        elif kind == "kw":
            directive = m.group("kw").lower()
        if directive in ("prefix", "base"):
            if directive == "prefix" and i + 2 < n:
                pm = tokens[i + 1]
                if pm.group("plocal") is not None and tokens[i + 2].lastgroup == "iri":
                    prefixes[pm.group("pname") or ""] = tokens[i + 2].group("iri")[1:-1]
                    i += 3
                    if i < n and tokens[i].lastgroup == "punct" and tokens[i].group("punct") == ".":
                        i += 1
                    continue
            i += 1
            continue
        if kind == "punct":
            i += 1
            continue
        # subject
        subject, _, s_lit, i = term(i)
        if subject is None or s_lit:
            continue
        # predicate-object list until '.'
        while i < n:
            if tokens[i].lastgroup == "punct":
                p = tokens[i].group("punct")
                i += 1
                if p == ".":
                    break
                continue
            predicate, _, p_lit, i = term(i)
            if i >= n:
                break
            # object list
            while i < n:
                if tokens[i].lastgroup == "punct" and tokens[i].group("punct") in "[]()":
                    i += 1
                    continue
                obj, lang, is_lit, i = term(i)
                if predicate is not None and obj is not None and not p_lit:
                    triples.append((subject, predicate, obj, lang, is_lit))
                if i < n and tokens[i].lastgroup == "punct" and tokens[i].group("punct") == ",":
                    i += 1
                    continue
                break
    return triples


@pandas_udf(TRIPLE_SCHEMA)
def parse_turtle(text: pd.Series) -> pd.Series:
    return text.map(parse_turtle_text)


def triples_df(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Turtle documents → one row per triple."""
    return docs.select(F.explode(parse_turtle(F.col(text_col))).alias("__t")).select(
        "__t.*"
    )


def entities_from_triples(
    triples: DataFrame,
    languages: list[str] | None = None,
) -> DataFrame:
    """Triples → the enrichment entity table.

    Columns: uri, pref_labels, alt_labels (optionally restricted to
    ``languages``), broader (URIs), geo_lat/geo_long (first wgs84 values).
    One groupBy on subject — the analogue of the reference's consecutive-
    subject flush, without requiring sorted input.
    """
    t = triples
    if languages:
        t = t.where(
            ~t.is_literal | t.lang.isNull() | t.lang.isin(*languages)
        )
    lbl = lambda p: F.array_compact(  # noqa: E731
        F.collect_list(F.when(F.col("predicate") == SKOS + p, F.col("object")))
    )
    geo = lambda p: F.first(  # noqa: E731
        F.when(F.col("predicate") == WGS84 + p, F.col("object")), ignorenulls=True
    )
    return t.groupBy(F.col("subject").alias("uri")).agg(
        lbl("prefLabel").alias("pref_labels"),
        lbl("altLabel").alias("alt_labels"),
        F.array_compact(
            F.collect_list(
                F.when(F.col("predicate") == SKOS + "broader", F.col("object"))
            )
        ).alias("broader"),
        geo("lat").alias("geo_lat"),
        geo("long").alias("geo_long"),
    )


def import_rdf(
    docs: DataFrame, languages: list[str] | None = None
) -> DataFrame:
    """Turtle documents → entity lookup table (the ImportRdf equivalent)."""
    text_col = "text"
    return entities_from_triples(triples_df(docs, text_col), languages)
