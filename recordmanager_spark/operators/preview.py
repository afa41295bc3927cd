"""Preview: update-index's record-to-document path on ONE record.

Behavioral spec (reference, NOT code): Solr/PreviewCreator.php +
Controller/CreatePreview.php — PreviewCreator extends SolrUpdater, so a
pasted record becomes a store-shaped row and goes through the same
processSingleRecord path that indexing uses; the resulting field map is
shown to the user.

Here that path is ``cli.solr_documents``: the preview builds the 1-row
store frame, runs it, and collects the row with whole-stage codegen off
(one row does not repay compiling the ~60-column MARC tree).
"""

from __future__ import annotations

import threading
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cli
from .. import config as CF
from ..extractors import marc as MARC
from ..operators import normalize as NZ

def preview_record(
    spark: SparkSession,
    raw: str,
    source: CF.CompiledSource,
    xsl_dir: str | None = None,
    hierarchical_facets: list[str] | None = None,
    enrichment_data: list[str] | None = None,
) -> dict[str, Any]:
    """One serialized record of ``source``'s format → its field map.

    The store row PreviewCreator builds: ``_id`` is the source's id
    prefix + '.' + the record's own id (the record's id alone when the
    prefix is empty, i.e. no source), ``source_id`` and ``format`` come
    from the source, ``created``/``updated`` are the epoch. The other
    arguments are update-index's (``--xsl-dir``, ``--hierarchical-facet``,
    ``--enrichment-data``). Empty fields are dropped.
    """
    cfg = source.config
    # one partition: createDataFrame of a local list spreads it over
    # every core, and a 1-row job over that took ~7 s at local[32] on 4
    # vCPUs against 0.4 s (the cross join below would multiply it too)
    one = spark.createDataFrame(
        spark.sparkContext.parallelize([(raw,)], 1), "original_data string"
    )
    row = cli.extract_wide(one, cfg.format, only=["id"])
    # lido, forward, eaccpf, ead and ead3 emit no record id
    local_id = F.col("id") if "id" in row.columns else F.lit(None)
    prefix = cfg.effective_id_prefix
    epoch = F.lit(0).cast("timestamp")
    row = row.select(
        (F.concat(F.lit(prefix + "."), local_id) if prefix else local_id)
        .alias("_id"),
        F.lit(cfg.id).alias("source_id"),
        F.lit(cfg.format).alias("format"),
        "original_data",
        F.lit(False).alias("deleted"),
        epoch.alias("created"),
        epoch.alias("updated"),
    )
    docs = cli.solr_documents(
        spark, row, source, xsl_dir, hierarchical_facets, enrichment_data
    )
    # SolrUpdater also emits these; update-index does not yet (see the
    # CHANGES.md FOUND line on work keys and indexed timestamps), so the
    # preview adds them: work keys for MARC, epoch indexed timestamps
    indexed = F.lit("1970-01-01T00:00:00Z")
    docs = docs.withColumns({"first_indexed": indexed, "last_indexed": indexed})
    if cfg.format.lower() in ("marc", "marcxml", "linemarc"):
        parse = cli.marc_parser(cfg.format)
        keys = one.select(parse(F.col("original_data")).alias("m")).select(
            MARC.work_keys("m").alias("work_keys_str_mv")
        )
        docs = docs.crossJoin(NZ.normalize_fields(keys, barrier=True))
    out = _collect_interpreted(spark, docs).asDict()
    return {k: v for k, v in out.items() if not _empty(v)}


def _empty(v) -> bool:
    """Fields absent from a preview: null/'' scalars, empty arrays, and
    arrays whose every element is empty (the reference's preview omits
    e.g. an author_role of [''])."""
    if v is None or v == "" or v == []:
        return True
    if isinstance(v, list):
        return all(x in (None, "") for x in v)
    return False


# first-in saves + flips the codegen confs, last-out restores them: with
# concurrent interpreted collects a plain save/restore pair could persist
# the flipped value (A saves true, B "saves" A's false, A restores, B
# restores false).
_CONF_LOCK = threading.Lock()
_CONF_DEPTH = 0
_CONF_SAVED: dict[str, str] = {}


def _collect_interpreted(spark: SparkSession, wide: DataFrame):
    """Collect a 1-row frame with whole-stage codegen disabled.

    The full ~60-column MARC expression tree is hundreds of kilobytes of
    expression nodes; Janino compiling that into bytecode dominates a
    single-record run (it is pure fixed cost — there is one row to
    evaluate). Interpreted expression eval answers the same plan in a
    fraction of the time, so flip codegen off just for this collect and
    restore the session confs afterwards.
    """
    global _CONF_DEPTH
    conf = spark.conf
    with _CONF_LOCK:
        if _CONF_DEPTH == 0:
            _CONF_SAVED.clear()
            _CONF_SAVED.update(
                {
                    "spark.sql.codegen.wholeStage": conf.get(
                        "spark.sql.codegen.wholeStage", "true"
                    ),
                    "spark.sql.codegen.factoryMode": conf.get(
                        "spark.sql.codegen.factoryMode", "FALLBACK"
                    ),
                }
            )
            conf.set("spark.sql.codegen.wholeStage", "false")
            conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        _CONF_DEPTH += 1
    try:
        return wide.collect()[0]
    finally:
        with _CONF_LOCK:
            _CONF_DEPTH -= 1
            if _CONF_DEPTH == 0:
                for k, v in _CONF_SAVED.items():
                    conf.set(k, v)
