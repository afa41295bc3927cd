"""OAI-PMH response processing — the offline half of the harvester.

Behavioral spec (reference, NOT code): Harvest/OaiPmh.php —
- each ListRecords/ListIdentifiers response carries <record> elements
  with a <header> (identifier, datestamp, setSpec*, @status="deleted")
  and a <metadata> payload whose FIRST child element is the record
  (OaiPmh.php:220-305)
- harvested ids pass through the configurable idSearch/idReplace regex
  rewrites before storage (conf/datasources.ini.sample:23-26)
- providers without deletion support are handled by diffing the full
  id list against the store (Harvest.php:460-497) — that anti-join
  lives in ``operators/incremental.py``; deletion RECORDS (status
  attribute) are surfaced here as ``deleted`` rows
- the resumption-token fetch loop is driver-side network paging
  (OaiPmh.php:326-339 guards same-token loops); in this engine the
  landing zone holds one file per response page, so the "loop" is just
  a directory read — each page row is parsed independently below.

Spark shape: one Arrow-batched pandas UDF parses a response document
into an ``array<struct<...>>`` (the subtree re-serialization forces a
Python parse — Spark's ``xpath`` returns text values, not fragments);
``explode`` fans out to one row per record. Everything downstream
(id rewrite, extraction) is JVM expressions.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from .splitter import _findall_local, _strip_ns
from recordmanager_spark.sparkcompat import try_element_at

OAI_RECORD_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("oai_id", T.StringType()),
            T.StructField("datestamp", T.StringType()),
            T.StructField("deleted", T.BooleanType()),
            T.StructField("set_specs", T.ArrayType(T.StringType())),
            T.StructField("metadata_xml", T.StringType()),
        ]
    )
)


def _parse_response(doc: str | None):
    if not doc:
        return []
    try:
        root = ET.fromstring(doc)
    except ET.ParseError:
        return []
    out = []
    for rec in _findall_local(root, "record"):
        oai_id = ""
        datestamp = ""
        deleted = False
        sets: list[str] = []
        metadata = None
        for child in rec:
            name = _strip_ns(child.tag)
            if name == "header":
                deleted = child.get("status") == "deleted"
                for h in child:
                    hn = _strip_ns(h.tag)
                    if hn == "identifier":
                        oai_id = (h.text or "").strip()
                    elif hn == "datestamp":
                        datestamp = (h.text or "").strip()
                    elif hn == "setSpec":
                        sets.append((h.text or "").strip())
            elif name == "metadata":
                for payload in child:
                    metadata = ET.tostring(payload, encoding="unicode")
                    break
        out.append((oai_id, datestamp, deleted, sets, metadata))
    # ListIdentifiers responses carry bare <header> elements (no <record>)
    if not out:
        for hdr in _findall_local(root, "header"):
            oai_id = datestamp = ""
            sets = []
            for h in hdr:
                hn = _strip_ns(h.tag)
                if hn == "identifier":
                    oai_id = (h.text or "").strip()
                elif hn == "datestamp":
                    datestamp = (h.text or "").strip()
                elif hn == "setSpec":
                    sets.append((h.text or "").strip())
            out.append((oai_id, datestamp, hdr.get("status") == "deleted", sets, None))
    return out


@pandas_udf(OAI_RECORD_SCHEMA)
def parse_oai_response(xml: pd.Series) -> pd.Series:
    return xml.map(_parse_response)


def resumption_token(xml: Column) -> Column:
    """The response's resumptionToken text ('' on the final page)."""
    return F.coalesce(
        try_element_at(
            F.xpath(xml, F.lit('//*[local-name()="resumptionToken"]/text()')), 1
        ),
        F.lit(""),
    )


def harvest_records(
    responses: DataFrame,
    keep: list[str] | None = None,
    id_search: str | None = None,
    id_replace: str | None = None,
    id_prefix: str | None = None,
) -> DataFrame:
    """Responses → one row per record with harvested-id handling.

    Columns: oai_id, local_id (idSearch/idReplace applied; the part after
    the last ':' of the OAI identifier, matching the common
    ``oai:host:id`` layout the reference strips via regex config),
    _id (= '<prefix>.<local_id>' when ``id_prefix`` given), datestamp,
    deleted, set_specs, metadata_xml, and position (the record's 0-based
    index in its response page).

    ``id_search``/``id_replace`` use Java regex semantics — translate PCRE
    ``\\1`` backreferences to ``$1`` (the reference configs use both).
    """
    parts = responses.select(
        *(keep or []),
        F.posexplode(parse_oai_response(F.col("xml"))).alias(
            "position", "__r"
        ),
    ).select(*(keep or []), "position", "__r.*")
    local = try_element_at(F.split(F.col("oai_id"), ":"), -1)
    if id_search is not None:
        import re as _re

        # PCRE replacement backrefs (\1) -> Java ($1); literal \\ survives
        java_repl = _re.sub(r"\\(\d)", r"$\1", id_replace or "")
        local = F.regexp_replace(F.col("oai_id"), id_search, java_repl)
    out = parts.withColumn("local_id", local)
    if id_prefix is not None:
        out = out.withColumn(
            "_id", F.concat(F.lit(id_prefix + "."), F.col("local_id"))
        )
    return out
