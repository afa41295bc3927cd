"""XSLT transformation as a Spark column operation.

Behavioral spec (reference, NOT code): Utils/XslTransformation.php:142-172 —
per-source XSL stylesheets applied to record XML at ingest
(``normalization`` / ``oaipmhTransformation`` settings) with ini-file
global parameters.

Spark-first: the stylesheet compiles ONCE per executor (module-level
lazy cache inside the UDF closure) and applies per record via an
Arrow-batched pandas UDF — the same shape as the other parse steps.
The engine is :class:`recordmanager_spark.xsl.engine.MiniXSLT` (stdlib only):
the XSLT subset the reference's shipped stylesheets use, verified
against all 12 ``transformations/*.xsl`` in the test suite. Records
parse with the stdlib expat parser, which refuses entity-expansion
bombs and never fetches external entities.
"""

from __future__ import annotations

import pandas as pd


def make_xslt_udf(xsl: str, params: dict[str, object] | None = None,
                  documents: dict[str, str] | None = None):
    """Build a pandas UDF applying the stylesheet to an XML string column.

    Unparseable records map to NULL, mirroring the reference's
    per-record error handling (bad records are logged and skipped, not
    fatal to the batch).

    ``documents`` feeds the stylesheet's ``document()`` calls: a
    {href: xml-string} mapping serialized into the executor closure, so
    the engine never touches network or filesystem.
    """
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import StringType

    xsl_params = dict(params or {})

    # compiled per executor process on first use (closures serialize the
    # source string, not the compiled object)
    state: dict = {}

    @pandas_udf(StringType())
    def transform(xml: pd.Series) -> pd.Series:
        if "t" not in state:
            from recordmanager_spark.xsl.engine import MiniXSLT

            doc_resolver = documents.__getitem__ if documents else None
            state["t"] = MiniXSLT(xsl, document_resolver=doc_resolver)

        import xml.etree.ElementTree as ET

        def one(doc):
            if not doc:
                return None
            try:
                return state["t"].transform(doc, xsl_params)
            except ET.ParseError:
                return None

        return xml.map(one)

    return transform


def apply_xslt(df, column: str, xsl: str, out_column: str | None = None,
               documents: dict[str, str] | None = None):
    """Apply a stylesheet to ``column``, writing ``out_column`` (default:
    in place). Pure projection — no shuffle; scales with the scan."""
    udf = make_xslt_udf(xsl, documents=documents)
    return df.withColumn(out_column or column, udf(df[column]))


def make_solr_fields_udf(xsl: str, params: dict[str, object] | None = None):
    """Arrow UDF: record XML -> ``map<string, array<string>>`` of the
    stylesheet's ``<field name=..>`` outputs — the
    ``XslTransformation::transformToSolrArray`` shape (the
    ``solrTransformation`` datasources.ini setting for formats whose
    driver provides no toSolrArray). Mini-engine only: field collection
    walks the transform's node output directly. Unparseable records map
    to NULL (logged-and-skipped in the reference)."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, MapType, StringType

    xsl_params = dict(params or {})
    state: dict = {}

    @pandas_udf(MapType(StringType(), ArrayType(StringType())))
    def transform(xml: pd.Series) -> pd.Series:
        import xml.etree.ElementTree as ET

        from recordmanager_spark.xsl.engine import MiniXSLT

        if "t" not in state:
            state["t"] = MiniXSLT(xsl)

        def one(doc):
            if not doc:
                return None
            try:
                pairs = state["t"].transform_to_fields(doc, xsl_params)
            except ET.ParseError:
                return None
            out: dict[str, list[str]] = {}
            for k, v in pairs:
                out.setdefault(k, []).append(v)
            return out

        return xml.map(one)

    return transform
