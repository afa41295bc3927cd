"""Preview: run the full transform pipeline on ONE record for inspection.

Behavioral spec (reference, NOT code): Solr/PreviewCreator.php +
Controller/CreatePreview.php — a single pasted record flows through the
exact production path (extract → field rules → mappings → hierarchical
facets → allfields → normalization) and the resulting field map is shown
to the user.

Spark-first: the production operators ARE the preview — they run on a
1-row DataFrame. Nothing is reimplemented; this module is composition.

Latency design: the reference's preview.php is an interactive endpoint,
so repeat calls must answer sub-second. Building the ~60-column MARC
expression tree costs ~10s of driver-side work per call (thousands of
py4j round trips) and Catalyst pays seconds more analyzing it — all of it
identical across calls; only the pasted record differs. So the built,
analyzed, optimized plan is CACHED per configuration, and the record
reaches it through a plan-stable side channel: the input DataFrame wraps
an RDD whose partition function reads a fixed scratch file at execution
time. Each preview overwrites the file and re-collects the same
DataFrame — zero plan work, one 1-row job. (The scratch file must be
visible to executors: trivially true on local[N]; use a shared scratch
dir if the preview service ever runs on a distributed master.)

The remaining warm cost is java-serializing the task binary of the full
~60-column tree (~7.6 MiB) on every job. A UI that shows a known field
subset should pass ``fields=[...]``: the cached plan then carries only
those expressions, the task binary shrinks ~50x, and repeat calls answer
sub-second. The full field map stays the default.

The plan cache is a bounded LRU (``_CACHE_MAX`` configurations); evicted
entries unlink their scratch files, and all scratch files are removed at
interpreter exit. The global lock covers only cache bookkeeping — the
scratch-file write + collect serialize per ENTRY, so previews of
different configurations run concurrently.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import threading
from collections import OrderedDict
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extractors import dc as DC
from ..extractors import linemarc as LM
from ..extractors import marc as MARC
from ..operators import normalize as NZ
from ..plans import mapping as MP

# (session id, config signature) -> (wide DataFrame, scratch path, entry lock)
_CACHE_MAX = 16
_PLAN_CACHE: "OrderedDict[tuple, tuple[DataFrame, str, threading.Lock]]" = (
    OrderedDict()
)
_CACHE_LOCK = threading.Lock()


def _evict(entry: tuple) -> None:
    try:
        os.unlink(entry[1])
    except OSError:
        pass


@atexit.register
def _cleanup_scratch_files() -> None:
    with _CACHE_LOCK:
        for entry in _PLAN_CACHE.values():
            _evict(entry)
        _PLAN_CACHE.clear()


def _input_df(spark: SparkSession, path: str) -> DataFrame:
    """1-row DataFrame whose content is read from ``path`` at EXECUTION
    time — a LogicalRDD, so the cached plan re-reads fresh bytes on every
    collect while the plan itself never changes."""

    def read_current(_it):
        with open(path, encoding="utf-8") as fh:
            yield (fh.read(),)

    rdd = spark.sparkContext.parallelize([0], 1).mapPartitions(read_current)
    return spark.createDataFrame(rdd, "raw string")


def _mapping_sig(m: "MP.Mapping") -> tuple:
    return (
        m.name,
        m.type,
        tuple((k, tuple(v)) for k, v in m.entries.items()),
        tuple(_mapping_sig(s) for s in m.sub_maps),
    )


def _build_wide(
    spark: SparkSession,
    path: str,
    fmt: str,
    field_rules: list[str] | None,
    mappings: dict[str, "MP.Mapping"] | None,
    hierarchical_facets: list[str] | None,
    institution: str | None,
    limits: dict[str, int] | None,
    non_indexed: list[str] | None,
    source_id: str | None,
    institution_field: str | None,
    fields: list[str] | None,
) -> DataFrame:
    df = _input_df(spark, path)
    if fmt in ("marc", "marcxml", "linemarc"):
        parse = {
            "marc": MARC.parse_marc_in_json,
            "marcxml": MARC.parse_marcxml,
            "linemarc": LM.parse_line_based_marc,
        }[fmt]
        # The Arrow identity pass is a PLAN BARRIER, not a perf cache:
        # without it CollapseProject inlines the parse expression into
        # each of the ~60 downstream columns and the optimizer walks a
        # 60x tree. (The old .cache() barrier would pin the FIRST
        # record's bytes forever now that the input re-reads a file.)
        parsed = df.select(parse("raw").alias("m"))
        parsed = parsed.mapInArrow(lambda batches: batches, parsed.schema)
        wide = MARC.to_solr_columns(parsed, "m", id_prefix=source_id, only=fields)
        if fields is None or "work_keys_str_mv" in fields:
            wide = wide.withColumn(
                "work_keys_str_mv", MARC.work_keys("m")
            )
        wide = wide.drop("m")
    elif fmt == "dc":
        wide = DC.to_solr_columns(df, "raw").drop("raw")
        if fields:
            wide = wide.select(*[c for c in wide.columns if c in set(fields)])
    else:
        raise ValueError(f"unknown preview format: {fmt!r}")

    if source_id:
        # previews stamp the epoch, like PreviewCreator's fake timestamps
        if fields is None or "first_indexed" in fields:
            wide = wide.withColumn("first_indexed", F.lit("1970-01-01T00:00:00Z"))
        if fields is None or "last_indexed" in fields:
            wide = wide.withColumn("last_indexed", F.lit("1970-01-01T00:00:00Z"))
    if institution_field and (fields is None or "institution" in fields):
        # the data source's institution setting becomes a scalar field
        # (SolrUpdater copies it onto every record); distinct from the
        # institution-in-building PREFIXING driven by `institution`
        wide = wide.withColumn("institution", F.lit(institution_field))
    if field_rules:
        wide = MP.apply_field_rules(wide, field_rules)
    for field, mapping in (mappings or {}).items():
        if field in wide.columns:
            wide = wide.withColumn(
                field, MP.map_array_column(F.col(field), mapping)
            )
    if institution:
        wide = NZ.add_institution_to_building(wide, institution)
    for facet in hierarchical_facets or []:
        if facet in wide.columns:
            wide = wide.withColumn(facet, NZ.hierarchical_facet(F.col(facet)))
    # barrier: the wide frame is raw extractor expressions here
    return NZ.normalize_fields(
        wide, limits=limits, non_indexed=non_indexed, barrier=True
    )


def preview_record(
    spark: SparkSession,
    raw: str,
    fmt: str = "marc",
    field_rules: list[str] | None = None,
    mappings: dict[str, "MP.Mapping"] | None = None,
    hierarchical_facets: list[str] | None = None,
    institution: str | None = None,
    limits: dict[str, int] | None = None,
    non_indexed: list[str] | None = None,
    source_id: str | None = None,
    institution_field: str | None = None,
    fields: list[str] | None = None,
) -> dict[str, Any]:
    """One serialized record → its final field map (the preview payload).

    ``source_id`` mirrors CreatePreview's source argument: the id gains
    the '<source>.' prefix, an ``institution`` scalar rides along when
    given, work keys are computed, and the preview carries the epoch
    first/last_indexed timestamps (Controller/CreatePreview.php +
    PreviewCreator; golden-replayed in tests/test_golden_marc.py).

    ``fields`` limits the preview to the named output columns (a UI that
    shows a fixed subset should pass it — the cached plan, and the task
    binary serialized per job, shrink accordingly). Fields consumed by
    ``field_rules``/``mappings``/``hierarchical_facets`` must be listed.

    The first call per configuration builds and caches the plan; repeat
    calls only overwrite the scratch file and re-collect.
    """
    key = (
        id(spark),
        fmt,
        tuple(field_rules or ()),
        tuple(sorted((k, _mapping_sig(v)) for k, v in (mappings or {}).items())),
        tuple(hierarchical_facets or ()),
        institution,
        tuple(sorted((limits or {}).items())),
        tuple(non_indexed or ()),
        source_id,
        institution_field,
        tuple(fields) if fields is not None else None,
    )
    with _CACHE_LOCK:
        entry = _PLAN_CACHE.get(key)
        if entry is not None:
            _PLAN_CACHE.move_to_end(key)
    if entry is None:
        # build OUTSIDE the global lock (tens of seconds of py4j work);
        # losing a build race costs one redundant build, never corruption
        fd, path = tempfile.mkstemp(
            prefix="rm_preview_", suffix=".rec", text=True
        )
        os.close(fd)
        wide = _build_wide(
            spark, path, fmt, field_rules, mappings,
            hierarchical_facets, institution, limits, non_indexed,
            source_id, institution_field, fields,
        )
        with _CACHE_LOCK:
            winner = _PLAN_CACHE.get(key)
            if winner is not None:
                os.unlink(path)
                entry = winner
                _PLAN_CACHE.move_to_end(key)
            else:
                entry = _PLAN_CACHE[key] = (wide, path, threading.Lock())
                while len(_PLAN_CACHE) > _CACHE_MAX:
                    _evict(_PLAN_CACHE.popitem(last=False)[1])
    wide, path, entry_lock = entry
    # per-entry lock: scratch write + collect must not interleave for the
    # SAME configuration; different configurations preview concurrently
    with entry_lock:
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(raw)
        row = _collect_interpreted(spark, wide)
    return {k: v for k, v in row.asDict().items() if not _empty(v)}


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
