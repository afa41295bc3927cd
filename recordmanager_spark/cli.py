"""Console command surface — the reference's ``records`` / ``solr``
commands over parquet record stores.

Behavioral spec (reference, NOT code): ``Base/Command/Records/{Import,
Deduplicate,Export,CountValues}.php``, ``Base/Command/Solr/
UpdateIndex.php``, ``Base/Controller/CreatePreview.php``. The reference
stores records in MongoDB/MySQL and serves Solr over HTTP; the Spark
shape stores the record table as parquet and writes Solr update batches
as JSON-lines files (``sinks/solr.py`` enforces the reference's batch
caps) — the networking tail is peripheral, the data processing is the
same.

    python -m recordmanager_spark import --config datasources.ini \\
        --source lib --file dump.xml --records /data/records
    python -m recordmanager_spark deduplicate --records /data/records \\
        --out /data/dedup
    python -m recordmanager_spark update-index --records /data/records \\
        --config datasources.ini --source lib --out /data/solr-batches
    python -m recordmanager_spark export --records /data/records \\
        --out /data/export [--xpath-predicate ...] [--skip N]
    python -m recordmanager_spark count-values --records /data/records \\
        --field format [--top 20]
    python -m recordmanager_spark preview --file rec.xml \\
        --config datasources.ini --source lib
    python -m recordmanager_spark index --input /data/docs \\
        --table bm25_idx --buckets 64
    python -m recordmanager_spark search --table bm25_idx \\
        --query "solr replacement" --k 10

Record-table schema (SURVEY §1.5 subset): _id, source_id, format,
original_data, deleted, created, updated.
"""

from __future__ import annotations

import argparse
import datetime as _dt
import json
import os
import re
import sys

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import config as CF
from .streaming.pipeline import WatermarkStore


def _spark(app: str) -> SparkSession:
    from .session import get_spark

    return get_spark(app)


def _load_config(path: str, source: str) -> CF.SourceConfig:
    cfgs = CF.parse_datasources_ini(open(path).read())
    if source not in cfgs:
        raise SystemExit(
            f"source {source!r} not in {path} (has: {sorted(cfgs)})"
        )
    return cfgs[source]


def _php_regex(pat: str) -> tuple[str, bool]:
    """'/expr/flags' → (expr, case_insensitive) — the idSearch shape."""
    m = re.fullmatch(r"/(.*)/([a-zA-Z]*)", pat, re.S)
    if not m:
        return pat, False
    return m.group(1), "i" in m.group(2)


def marc_parser(fmt: str):
    """The parse UDF that turns a MARC-family payload into the MARC
    struct (``marc`` sniffs MARCXML or MARC-in-JSON by the first byte,
    so a store may mix both), or None for the other formats."""
    from .extractors.linemarc import parse_line_based_marc
    from .extractors.marc import parse_marc_any

    return {
        "marc": parse_marc_any, "marcxml": parse_marc_any,
        "marcauthority": parse_marc_any, "linemarc": parse_line_based_marc,
    }.get((fmt or "").lower())


def extract_wide(
    df: DataFrame, fmt: str, only: list[str] | None = None
) -> DataFrame:
    """Route a record frame's ``original_data`` payload to its format
    driver (Record/PluginManager analogue), on the reference's format
    names.

    ``only`` names the Solr columns a caller reads. MARC builds just
    those (each built column costs a cold parse and analysis of its
    twin SQL); the other formats build their full frame regardless."""
    fmt = (fmt or "").lower()
    parse = marc_parser(fmt)
    if parse is not None:
        from .extractors import marc as M
        from .extractors import marc_authority

        parsed = df.withColumn("__m", parse(F.col("original_data")))
        if fmt == "marcauthority":
            wide = marc_authority.to_solr_columns(parsed, "__m")
        else:
            wide = M.to_solr_columns(parsed, "__m", only=only)
        return wide.drop("__m")
    from .extractors import (  # noqa: PLC0415
        dc, doaj, eaccpf, ead, ead3, ese, forward, forward_authority,
        lido, lrmi, qdc,
    )

    table = {
        "dc": dc, "qdc": qdc, "lrmi": lrmi, "ese": ese, "doaj": doaj,
        "lido": lido, "forward": forward,
        "forwardauthority": forward_authority, "eaccpf": eaccpf,
        "ead": ead, "ead3": ead3,
    }
    mod = table.get(fmt)
    if mod is None:
        have = sorted([*table, "marc", "marcxml", "linemarc", "marcauthority"])
        raise SystemExit(f"unknown format {fmt!r} (have: {have})")
    if fmt in ("ead", "ead3"):
        return mod.to_solr_columns(
            df, "original_data", archive_id_col=None, archive_title_col=None,
            sequence_col=None,
        )
    return mod.to_solr_columns(df, "original_data")


def _stylesheet(cfg, xsl_dir, name, setting):
    """The text of a source's stylesheet under --xsl-dir and the
    reference's param set (PreTransformationTrait.php:60-95)."""
    path = os.path.join(xsl_dir or ".", name)
    if not os.path.exists(path):
        raise SystemExit(
            f"{setting} stylesheet not found: {path} (set --xsl-dir)"
        )
    return open(path).read(), {
        "source_id": cfg.id,
        "institution": cfg.institution,
        "format": cfg.format,
        "id_prefix": cfg.id_prefix or "",
    }


def _apply_xslt_chain(df, col, names, cfg, xsl_dir, setting):
    """Apply a source's stylesheet chain in order to ``col`` (the same
    shape serves preTransformation and oaipmhTransformation)."""
    from .sources.transforms import make_xslt_udf

    for name in names:
        udf = make_xslt_udf(*_stylesheet(cfg, xsl_dir, name, setting))
        df = df.withColumn(col, udf(F.col(col)))
    return df


def cmd_import(args) -> None:
    spark = _spark("rm-import")
    cfg = _load_config(args.config, args.source)
    from .sources.splitter import make_tag_splitter

    record_tag = args.record_tag
    if not record_tag and cfg.record_xpath:
        record_tag = cfg.record_xpath.rstrip("/").rsplit("/", 1)[-1]
    if not record_tag:
        record_tag = "record"
    raw = spark.read.text(args.file, wholetext=True).select(
        F.col("_metadata.file_path").alias("__file"),
        F.col("value").alias("doc"),
    )
    # preTransformation (PreTransformationTrait.php): whole-payload
    # XSLT(s) applied in order BEFORE splitting, with the reference's
    # stylesheet params; resolved against --xsl-dir like renormalize
    raw = _apply_xslt_chain(
        raw, "doc", cfg.pre_transformation, cfg,
        getattr(args, "xsl_dir", None), "preTransformation",
    )
    # recordSplitter / recordSplitterClass (StoreRecordTrait.php:85-103):
    # a named splitter (Ead/Ead3, with recordSplitterParams[]) or a
    # splitting TRANSFORMATION (a stylesheet emitting a <records> list,
    # EadSplit.xsl-style) takes over from the plain tag splitter.
    spl = (cfg.record_splitter or "").strip()
    spl_l = spl.lower()
    if spl_l.endswith((".xsl", ".xslt")):
        from .sources.splitter import split_transformed_records

        raw = _apply_xslt_chain(
            raw, "doc", [spl], cfg,
            getattr(args, "xsl_dir", None), "recordSplitter",
        )
        split = split_transformed_records
    elif "ead3" in spl_l:
        from .sources.splitter import make_ead3_splitter

        split = make_ead3_splitter(cfg.record_splitter_params)
    elif "ead" in spl_l:
        from .sources.splitter import make_ead_splitter

        split = make_ead_splitter(cfg.record_splitter_params)
    elif spl:
        raise SystemExit(f"unknown recordSplitter: {spl!r}")
    else:
        split = make_tag_splitter(record_tag, args.id_tag)
    hierarchical = "ead" in spl_l and not spl_l.endswith((".xsl", ".xslt"))
    part_cols = [
        F.col("p.part_id").alias("__local_id"),
        F.col("p.part_xml").alias("original_data"),
    ]
    if hierarchical:
        part_cols.append(F.col("p.archive_id").alias("__archive_id"))
    parts = raw.select(
        "__file", F.posexplode(split(F.col("doc"))).alias("__pos", "p")
    ).select(*part_cols, F.struct("__file", "__pos").alias("__order"))
    local_id = F.col("__local_id")
    for pat, repl in cfg.id_search_replace:
        expr, ci = _php_regex(pat)
        local_id = F.regexp_replace(local_id, ("(?i)" if ci else "") + expr, repl)
    now = _utc_now()
    batch = parts.select(
        F.concat(
            F.lit(cfg.effective_id_prefix + "."), local_id
        ).alias("_id"),
        F.lit(cfg.id).alias("source_id"),
        F.lit(cfg.format).alias("format"),
        "original_data",
        F.lit(False).alias("deleted"),
        F.lit(now).alias("created"),
        F.lit(now).alias("updated"),
        "__order",
    )
    from .sources.upsert import latest_per_id, upsert_records

    batch = latest_per_id(batch)
    merged = upsert_records(
        read_store(spark, args.records, missing_ok=True), batch, now
    )
    if hierarchical and not cfg.keep_missing_hierarchy_members:
        # StoreRecordTrait.php:294-310: members of a re-imported
        # archive that the new split no longer produced are marked
        # deleted (keepMissingHierarchyMembers turns this off).
        # Scope = this source's records whose id carries one of the
        # batch's archive ids (EAD part ids are archive-prefixed by
        # construction); the batch's own ids anti-join out.
        archives = [
            r[0]
            for r in parts.select("__archive_id").distinct().collect()
            if r[0]
        ]
        if archives:
            pfx = cfg.effective_id_prefix + "."
            in_scope = F.lit(False)
            for a in archives:
                p = pfx + a
                in_scope = in_scope | (
                    (F.col("_id") == p)
                    | F.col("_id").startswith(p + "_")
                )
            fresh = batch.select("_id").withColumn(
                "__fresh", F.lit(True)
            )
            merged = (
                merged.join(F.broadcast(fresh), "_id", "left")
                .withColumn(
                    "deleted",
                    F.when(
                        (F.col("source_id") == cfg.id)
                        & in_scope
                        & F.col("__fresh").isNull(),
                        F.lit(True),
                    ).otherwise(F.col("deleted")),
                )
                .drop("__fresh")
            )
    n = commit_store(spark, args.records, merged)
    print(f"imported {args.file}: records table now {n} rows")


def cmd_harvest(args) -> None:
    """OAI-PMH response pages (already fetched — networking is the
    caller's; Command/Records/Harvest.php drives the same parse) →
    records table. Deleted-status headers mark rows deleted."""
    spark = _spark("rm-harvest")
    cfg = _load_config(args.config, args.source)
    from .sources.oaipmh import harvest_records

    pages = spark.read.text(args.pages, wholetext=True).select(
        F.col("_metadata.file_path").alias("__file"),
        F.col("value").alias("xml"),
    )
    # oaipmhTransformation: XSLT(s) over each response page before
    # record extraction (e.g. strip_namespaces.xsl)
    pages = _apply_xslt_chain(
        pages, "xml", cfg.oaipmh_transformation, cfg,
        getattr(args, "xsl_dir", None), "oaipmhTransformation",
    )
    id_search = id_replace = None
    if cfg.id_search_replace:
        id_search, _ = _php_regex(cfg.id_search_replace[0][0])
        id_replace = cfg.id_search_replace[0][1]
    recs = harvest_records(
        pages,
        keep=["__file"],
        id_search=id_search,
        id_replace=id_replace,
        id_prefix=cfg.effective_id_prefix,
    )
    now = _utc_now()
    batch = recs.select(
        "_id",
        F.lit(cfg.id).alias("source_id"),
        F.lit(cfg.format).alias("format"),
        F.col("metadata_xml").alias("original_data"),
        F.col("deleted"),
        F.lit(now).alias("created"),
        F.lit(now).alias("updated"),
        F.struct("__file", "position").alias("__order"),
    )
    from .sources.upsert import latest_per_id, upsert_records

    batch = latest_per_id(batch)
    merged = upsert_records(
        read_store(spark, args.records, missing_ok=True), batch, now
    )
    n = commit_store(spark, args.records, merged)
    print(f"harvested {args.pages}: records table now {n} rows")


def cmd_deduplicate(args) -> None:
    spark = _spark("rm-dedup")
    from .operators.dedup import (
        _VERIFY_FIELDS, deduplicate, verify_frame, with_dedup_keys,
    )

    records = read_store(spark, args.records)
    if not args.format:
        fmts = [r[0] for r in records.select("format").distinct().collect()]
        if len(fmts) != 1:
            raise SystemExit(f"--format required (table has {sorted(fmts)})")
        args.format = fmts[0]
    # the matchRecords verifier reads a fixed field battery; build only
    # those columns (and their fallbacks) and normalize whatever the
    # extractor produced into that shape
    only = [
        c for name, (_, fallback) in _VERIFY_FIELDS.items()
        for c in (name, fallback) if c
    ]
    verify = verify_frame(extract_wide(records, args.format, only=only))
    keyed = with_dedup_keys(
        verify, title_col="title", author_col="author", isbn_col="isbn"
    )
    out = deduplicate(
        keyed,
        id_col="_id",
        source_col="source_id",
        key_cols=[c for c in ("isbn_keys", "title_keys") if c in keyed.columns],
    )
    out.write.mode("overwrite").parquet(args.out)
    n_grouped = out.where(F.col("dedup_id").isNotNull()).count()
    print(f"deduplicated: {n_grouped} records in groups -> {args.out}")


def _apply_enrichments(spark, df, cfg, stage, tables):
    """enrichments[] dispatch (SolrUpdater.php:3070-3095): each entry
    "<Name>[,final]" runs at its stage with an OFFLINE lookup table
    (--enrichment-data Name=parquet) standing in for the reference's
    HTTP backends. Skosmos family: topic/geographic $0 URIs gain
    pref+alt labels in *_add_txt_mv (SkosmosEnrichment.php:136-146)."""
    from .operators.enrich import enrich_with_entities

    for name, st in cfg.enrichments:
        if st != stage:
            continue
        key = name.lower()
        path = tables.get(key)
        if path is None:
            raise SystemExit(
                f"enrichment {name!r} needs --enrichment-data "
                f"{name}=<entities.parquet>"
            )
        if "skosmos" in key or "onkilight" in key:
            ent = spark.read.parquet(path)
            for uri_col, out_col in (
                ("topic_id_str_mv", "topic_add_txt_mv"),
                ("geographic_id_str_mv", "geographic_add_txt_mv"),
            ):
                if uri_col in df.columns:
                    df = enrich_with_entities(
                        df, ent, id_col="id", uri_col=uri_col,
                        out_col=out_col,
                    )
        else:
            raise SystemExit(
                f"unsupported enrichment {name!r} in update-index "
                "(offline-wired: SkosmosEnrichment family; the "
                "MusicBrainz/auth/geocode operators are available as "
                "library calls — operators/enrich.py)"
            )
    return df


def _source_from_args(args) -> CF.CompiledSource:
    """--config/--source compiled with the mapping files of --mappings
    (default: ``../mappings`` beside the config file)."""
    cfg = _load_config(args.config, args.source)
    mapdir = args.mappings or os.path.join(
        os.path.dirname(os.path.abspath(args.config)), "..", "mappings"
    )
    return CF.compile_source(
        cfg, lambda name: open(os.path.join(mapdir, name)).read()
    )


def solr_documents(
    spark, records, source, xsl_dir, hierarchical_facets, enrichment_data
):
    """SolrUpdater's processSingleRecord over record-store rows: the
    format driver (or solrTransformation), the createSolrId id rules,
    component-part hiding, the source's institution, both enrichment
    stages, the field pipeline and normalization. ``update-index`` runs
    it on the selected live rows and ``preview`` on one pasted record.

    A document carries only extractor and pipeline fields. The store
    columns this path reads (``_id``, ``format``, ``host_record_id``)
    reach the extractor under private names, and none of the store's
    bookkeeping (``deleted``, ``created``, ...) reaches the index."""
    cfg = source.config
    store = {
        "_id": "__store_id", "format": "__store_format",
        "host_record_id": "__store_host",
    }
    records = records.select(
        "original_data",
        *[F.col(c).alias(a) for c, a in store.items() if c in records.columns],
    )
    if cfg.solr_transformation:
        # solrTransformation (SolrUpdater.php:1407-1419): the Solr doc
        # comes from the stylesheet's <field name=..> outputs, not a
        # driver. One Arrow pass builds a field map; the column set is
        # the distinct key set (one bounded aggregation over the
        # selected source — the stylesheet's field vocabulary, not the
        # corpus), then each key projects out as an array column.
        from .sources.transforms import make_solr_fields_udf

        udf = make_solr_fields_udf(*_stylesheet(
            cfg, xsl_dir, cfg.solr_transformation, "solrTransformation"
        ))
        mapped = records.withColumn(
            "__solr_map", udf(F.col("original_data"))
        )
        keys = mapped.select(F.explode(F.map_keys("__solr_map")).alias("k"))
        keys = sorted(r["k"] for r in keys.distinct().collect())
        wide = mapped.select(
            "__store_id",
            *[F.col("__solr_map")[k].alias(k) for k in keys],
        )
    else:
        wide = extract_wide(records, cfg.format)
    from .sparkcompat import try_element_at

    # the indexed id is the STORE's id — already source-prefixed at import
    # (SolrUpdater indexes $record['_id'], not the driver's local id).
    # createSolrId (SolrUpdater.php:3145-3165): indexUnprefixedIds wins,
    # else solrIdPrefix replaces the stored prefix in the INDEX id only
    doc_id = F.col("__store_id")
    if cfg.index_unprefixed_ids or cfg.solr_id_prefix:
        local = try_element_at(F.split(doc_id, "\\.", 2), 2)
        if not cfg.index_unprefixed_ids:
            local = F.concat(F.lit(cfg.solr_id_prefix + "."), local)
        doc_id = F.coalesce(local, doc_id)
    wide = wide.withColumn("id", doc_id)
    # indexMergedParts (SolrUpdater.php:1922,2130): merged-away
    # components either carry hidden_component_boolean=true (default)
    # or drop out of the index entirely. Only merge modes hide anything
    # (as_is indexes components plainly — no flag column to emit).
    merge = cfg.component_parts.startswith("merge")
    if merge and "__store_host" in wide.columns:
        from pyspark.sql.types import ArrayType as _AT

        from .operators.merge import is_hidden_component_part

        def first(name):
            if isinstance(wide.schema[name].dataType, _AT):
                return try_element_at(F.col(name), F.lit(1))
            return F.col(name)

        # the driver's format, else the stored one
        fmt = "format" if "format" in wide.columns else "__store_format"
        hidden = is_hidden_component_part(
            first("__store_host"), first(fmt),
            component_parts=cfg.component_parts,
        )
        if cfg.index_merged_parts:
            wide = wide.withColumn(
                "hidden_component_boolean", F.when(hidden, F.lit(True))
            )
        else:
            wide = wide.where(~hidden)
    if cfg.institution and "institution" not in wide.columns:
        wide = wide.withColumn("institution", F.lit(cfg.institution))
    enr_tables = {}
    for spec in enrichment_data or []:
        name, eq, path = spec.partition("=")
        if not eq:
            raise SystemExit(
                f"--enrichment-data expects NAME=path, got {spec!r}"
            )
        enr_tables[name.strip().lower()] = path.strip()
    wide = _apply_enrichments(spark, wide, cfg, "", enr_tables)
    out = CF.apply_source_pipeline(
        wide, source, hierarchical_facets=hierarchical_facets or []
    )
    out = _apply_enrichments(spark, out, cfg, "final", enr_tables)
    from .operators.normalize import normalize_fields

    payload = [
        c for c in out.columns
        if c != "original_data" and not c.startswith("__")
    ]
    # barrier: the wide frame is raw extractor expressions here, and
    # Python UDF extraction cannot cross lambda-bearing subtrees
    return normalize_fields(out.select(*payload), barrier=True)


def cmd_update_index(args) -> None:
    """The incremental story mirrors SolrUpdater.php:860-903 +
    getStartTimestamp (:3272): an explicit --from-date wins (empty
    string = full reindex), otherwise --state-file supplies the stored
    watermark; the run-START clock is saved back after a successful
    watermark-driven or full run, never after an explicit --from-date
    (the reference's lastIndexingDate discipline). Adaptation: this
    runner is per-source, so the state key appends the source id the
    same way the reference's --date-per-server appends the update URL
    (SolrUpdater.php:1624)."""
    spark = _spark("rm-update-index")
    compiled = _source_from_args(args)
    cfg = compiled.config
    state_key = _solr_state_key(False, None, cfg.id)
    run_start = int(_dt.datetime.now(_dt.timezone.utc).timestamp())
    from_ts = None
    if args.from_date is not None:
        if args.from_date:  # '' = full reindex (getStartTimestamp)
            from_ts = _utc_ts(args.from_date)
    elif args.state_file:
        from_ts = WatermarkStore(args.state_file).get(state_key)
    source = read_store(spark, args.records).where(
        F.col("source_id") == cfg.id
    )
    if from_ts is not None:
        from .operators.incremental import changed_since

        wm = _dt.datetime.fromtimestamp(from_ts, _dt.timezone.utc).replace(
            tzinfo=None
        )
        # 5s slack mirrors the reference's clock-skew guard
        # (SolrUpdater.php:990-1053 via changed_since)
        source = changed_since(source, "updated", wm, slack_seconds=5)
        print(f"indexing records updated since {wm}Z")
    final = solr_documents(
        spark, source.where(~F.col("deleted")), compiled, args.xsl_dir,
        args.hierarchical_facet, args.enrichment_data,
    )
    from .sinks.solr import write_delete_batches, write_update_batches

    write_update_batches(final, args.out, max_update_records=args.batch_size)
    write_delete_batches(
        source.where(F.col("deleted")), "_id", args.out + "-deletes"
    )
    if args.state_file and args.from_date is None:
        # store the run-START time so records updated DURING the run
        # are re-examined next time (never lost to the gap)
        WatermarkStore(args.state_file).set(state_key, run_start)
    print(f"wrote update batches for {cfg.id} -> {args.out}")


def cmd_export(args) -> None:
    spark = _spark("rm-export")
    from .sinks.export import export_records, write_export

    records = read_store(spark, args.records)
    out = export_records(
        records,
        skip=args.skip,
        xpath_predicate=args.xpath_predicate,
    )
    write_export(
        out.select("_id", "original_data"), args.out,
        batch_size=args.batch_size,
    )
    print(f"exported -> {args.out}")


def cmd_count_values(args) -> None:
    spark = _spark("rm-count-values")
    from .operators.count_values import count_values

    records = read_store(spark, args.records)
    if args.field in records.columns:
        df = records
    else:
        if not args.format:
            fmts = [
                r[0] for r in records.select("format").distinct().collect()
            ]
            args.format = fmts[0] if len(fmts) == 1 else None
        if not args.format:
            raise SystemExit("--format required to extract a driver field")
        df = extract_wide(records, args.format)
    for row in count_values(df, args.field).take(args.top):
        print(f"{row['count']:8d}  {row['value']}")


def _utc_now() -> _dt.datetime:
    return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)


def read_store(spark, path: str, missing_ok: bool = False):
    """The record store at ``path`` (a plain parquet directory). First
    finishes a commit_store swap that a crash interrupted: a missing
    store with a fully written ``<path>.new`` is the committed version,
    and an ``<path>.old`` beside a live store is the superseded one. A
    partial ``<path>.new`` beside a live store was never committed; it
    is never read and the next commit overwrites it. ``missing_ok``
    returns None when no store exists yet (the first import/harvest)."""
    new, old = path + ".new", path + ".old"
    exists = _location_exists(spark, path)
    if not exists and _location_exists(spark, new + "/_SUCCESS"):
        _rename_location(spark, new, path)
        exists = True
    if exists:
        _delete_location(spark, old)
    elif missing_ok:
        return None
    return spark.read.parquet(path)


def commit_store(spark, path: str, df) -> int:
    """Replace the record store at ``path`` with ``df`` and return its
    row count. ``df`` may scan the live store (parquet cannot overwrite
    its own scan input), so it is written once to ``<path>.new`` — the
    row count observed on that same write — then swapped in by rename:
    ``<path>`` -> ``<path>.old``, ``<path>.new`` -> ``<path>``, delete
    ``.old``. A crash at any point leaves either the old or the new
    version readable through read_store, which finishes the swap."""
    new, old = path + ".new", path + ".old"
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(new)
    if _location_exists(spark, path):
        # a leftover .old would turn the rename into a move INTO it
        _delete_location(spark, old)
        _rename_location(spark, path, old)
    _rename_location(spark, new, path)
    _delete_location(spark, old)
    return obs.get["rows"]


def _id_filter(args):
    cond = None
    if args.id:
        cond = F.col("_id").isin(args.id)
    if getattr(args, "source", None):
        c2 = F.col("source_id") == args.source
        cond = c2 if cond is None else (cond & c2)
    if cond is None:
        raise SystemExit("give --id and/or --source")
    return cond


def _flag_rows(spark, path: str, cond, flags: dict) -> int:
    """Set each ``flags`` column to its value and stamp ``updated`` on
    the rows matching ``cond``; a flag column the store lacks starts at
    False. Commits and returns the table's row count."""
    records = read_store(spark, path)
    cols = {
        c: F.when(cond, F.lit(v)).otherwise(
            F.col(c) if c in records.columns else F.lit(False)
        )
        for c, v in flags.items()
    }
    cols["updated"] = F.when(cond, F.lit(_utc_now())).otherwise(
        F.col("updated")
    )
    return commit_store(spark, path, records.withColumns(cols))


def cmd_mark_deleted(args) -> None:
    """Records/MarkDeleted.php: flip deleted=true (kept in the table so
    deletions propagate to the index; purge-deleted removes them)."""
    spark = _spark("rm-mark-deleted")
    n = _flag_rows(spark, args.records, _id_filter(args), {"deleted": True})
    print(f"marked deleted where matched; table {n} rows")


def cmd_suppress(args, value: bool = True) -> None:
    """Records/{Suppress,Unsuppress}.php: set the suppressed flag; the
    filter DSL's suppressOnField keeps suppressed rows out of serving."""
    spark = _spark("rm-suppress")
    cond = _id_filter(args)
    n = _flag_rows(spark, args.records, cond, {"suppressed": value})
    print(("suppressed" if value else "unsuppressed") + f"; table {n} rows")


def cmd_delete_source(args) -> None:
    """Sources/Delete.php semantics on the record store: every record of
    the source is marked deleted (index deletions flow from there)."""
    spark = _spark("rm-delete-source")
    cond = F.col("source_id") == args.source
    n = _flag_rows(spark, args.records, cond, {"deleted": True})
    print(f"source {args.source} marked deleted; table {n} rows")


def cmd_purge_deleted(args) -> None:
    """Records/PurgeDeleted.php: physically drop deleted rows, optionally
    only those deleted before --older-than (ISO date)."""
    spark = _spark("rm-purge")
    records = read_store(spark, args.records)
    cond = F.col("deleted")
    if args.older_than:
        cond = cond & (
            F.col("updated") < F.lit(_dt.datetime.fromisoformat(args.older_than))
        )
    n = commit_store(spark, args.records, records.where(~cond))
    print(f"purged; table {n} rows")


def cmd_mark_for_update(args) -> None:
    """Records/MarkForUpdate.php + Renormalize.php: stamp ``updated`` so
    watermark-driven incremental runs (changed-since) reprocess the
    matched rows; with --set-update-needed also flips the dirty flag the
    incremental dedup pipeline consumes."""
    spark = _spark("rm-mark-for-update")
    flags = {"update_needed": True} if args.set_update_needed else {}
    n = _flag_rows(spark, args.records, _id_filter(args), flags)
    print(f"marked for update; table {n} rows")


def cmd_renormalize(args) -> None:
    """Records/Renormalize.php:105-240 — the IMMEDIATE re-normalization
    pass: per-source normalization XSLT, driver normalize(), suppression
    -> deleted, host/linking id refresh, dedup candidate key re-derive
    with the changed-keys ``update_needed`` flag, re-serialized
    ``normalized_data`` ('' when identical), ``updated`` stamp. Only the
    selected rows (--source list / --single id / neither = all live
    rows) are processed; the rest pass through byte-untouched."""
    from .operators.renormalize import renormalize_records

    spark = _spark("rm-renormalize")
    records = read_store(spark, args.records)
    cfgs = CF.parse_datasources_ini(open(args.config).read())
    stylesheets = {}
    for sid, cfg in cfgs.items():
        if cfg.normalization:
            path = os.path.join(args.xsl_dir or ".", cfg.normalization)
            if not os.path.exists(path):
                raise SystemExit(
                    f"normalization stylesheet for [{sid}] not found: "
                    f"{path} (set --xsl-dir)"
                )
            stylesheets[sid] = open(path).read()
    cond = ~F.coalesce(F.col("deleted"), F.lit(False))
    if args.single:
        cond = cond & (F.col("_id") == args.single)
    elif args.source:
        srcs = [s.strip() for s in args.source.split(",") if s.strip()]
        cond = cond & F.col("source_id").isin(srcs)
    now = _utc_now()
    target = records.where(cond)
    rest = records.where(~cond)
    done = renormalize_records(
        target, cfgs, stylesheets=stylesheets or None, now=now
    )
    merged = done.unionByName(rest, allowMissingColumns=True)
    # count the processed subset BEFORE the commit: `done` scans the
    # live store, which commit_store swaps out
    n_proc = done.count() if args.verbose else None
    n = commit_store(spark, args.records, merged)
    print(
        f"renormalized; table {n} rows"
        + (f" ({n_proc} processed)" if n_proc is not None else "")
    )


def cmd_check_dedup(args) -> None:
    """Records/CheckDedup.php: validate a (id, dedup_id) assignment
    against the group invariants; prints violations, exit 1 if any."""
    spark = _spark("rm-check-dedup")
    from .operators.dedup import check_dedup_consistency

    records = read_store(spark, args.records)
    assignment = spark.read.parquet(args.dedup).withColumnRenamed(
        "id", "_id"
    )
    issues = check_dedup_consistency(assignment, records).collect()
    for r in issues:
        print(f"{r['issue']}: {r['id']} (group {r['dedup_id']})")
    if issues:
        raise SystemExit(1)
    print("dedup assignment consistent")


def cmd_dump(args) -> None:
    """Records/Dump.php: print a record's stored row(s) as JSON."""
    spark = _spark("rm-dump")
    records = read_store(spark, args.records).where(F.col("_id").isin(args.id))
    for r in records.collect():
        json.dump(
            {k: v for k, v in r.asDict().items()},
            sys.stdout, sort_keys=True, default=str,
        )
        print()


def cmd_preview(args) -> None:
    """Controller/CreatePreview.php: one pasted record through
    update-index's record-to-document path (solr_documents)."""
    spark = _spark("rm-preview")
    from .operators.preview import preview_record

    if args.config and args.source:
        source = _source_from_args(args)
    else:
        source = CF.CompiledSource(CF.SourceConfig(id=""), [], {})
    source.config.format = args.format or source.config.format or "marc"
    out = preview_record(
        spark, open(args.file).read(), source, args.xsl_dir,
        args.hierarchical_facet, args.enrichment_data,
    )
    json.dump(out, sys.stdout, indent=2, sort_keys=True, default=str)
    print()


def cmd_curate(args) -> None:
    """Run a [corpus:<name>] curation pipeline end-to-end: parquet in,
    compiled stages (hygiene / gates / dedup / decontamination / caps /
    LM / DSIR / sample / split), parquet out — the corpus-side sibling
    of update-index."""
    spark = _spark("rm-curate")
    from .corpus_config import (
        apply_corpus_pipeline,
        load_corpus_source,
        parse_corpus_ini,
    )

    cfgs = parse_corpus_ini(open(args.config).read())
    if args.corpus not in cfgs:
        raise SystemExit(
            f"no [corpus:{args.corpus}] section in {args.config} "
            f"(found: {sorted(cfgs)})"
        )
    if args.input:
        df = spark.read.parquet(args.input)
    elif cfgs[args.corpus].source:
        # the section names its own transport (source = warc:<dir> /
        # parquet:<path>) — segment directory to curated parquet in
        # one command, the datasources.ini harvest architecture
        df = load_corpus_source(spark, cfgs[args.corpus].source)
        if not cfgs[args.corpus].optout and "http_headers" in df.columns:
            # the HTTP envelope exists for the opt-out gate; without
            # one configured it would only fatten the staging write
            df = df.drop("http_headers")
        if not cfgs[args.corpus].source.startswith("parquet:"):
            # STAGE parsed documents to parquet before the pipeline —
            # the reference's harvest -> landing zone -> pipeline hop.
            # Why: pipeline stages that derive a keep-set from the
            # corpus and join it back (exact dedup's fingerprint
            # census, caps) execute their SOURCE subtree once per
            # side; over a parquet scan that is two cheap pruned
            # reads, but over a crawl transport it re-parses every
            # segment (verified in the executed plan: two MapInPandas
            # parse nodes). One staging write makes every downstream
            # pass a column-pruned parquet read.
            staging = args.staging or args.out.rstrip("/") + "_staging"
            df.write.mode("overwrite").parquet(staging)
            df = spark.read.parquet(staging)
    else:
        raise SystemExit(
            f"--input not given and [corpus:{args.corpus}] has no "
            "source = entry"
        )
    tables = {}
    if args.benchmark:
        name, path = args.benchmark.split("=", 1)
        tables[name] = spark.read.parquet(path)
    cfg = cfgs[args.corpus]
    if cfg.dedup_index:
        # resolve (or bootstrap) the persisted fingerprint index. A
        # fresh process has a fresh in-memory catalog, so the table
        # from a previous run looks absent even though its warehouse
        # data survived — RE-REGISTER it (CREATE TABLE ... LOCATION
        # with the original bucket spec) instead of bootstrapping an
        # empty index and clobbering the old one (r10 ADVICE: that
        # silently skipped cross-run dedup AND destroyed the index).
        from .sources.bucketed import read_bucketed

        id_type = df.schema[args.id_col].dataType.simpleString()
        # schema_ddl=None: recovery infers the schema from the
        # SURVIVING parquet footers, never from the current batch — a
        # batch whose id type drifted would otherwise stamp a declared
        # schema that mismatches the stored data (silent nulls / cast
        # failures on probe, r11 ADVICE). The drift is checked loudly
        # below instead.
        _recover_orphan_index(
            spark, cfg.dedup_index, None, "fp", _INDEX_BUCKETS
        )
        if spark.catalog.tableExists(cfg.dedup_index):
            idx = read_bucketed(spark, cfg.dedup_index)
            idx_type = idx.schema["canonical_id"].dataType.simpleString()
            if idx_type != id_type:
                raise SystemExit(
                    f"fingerprint index {cfg.dedup_index} stores "
                    f"canonical_id as {idx_type} but this batch's "
                    f"--id-col {args.id_col} is {id_type}; refusing to "
                    "probe/append across an id-type change (rebuild "
                    "the index or cast the batch)"
                )
            tables[cfg.dedup_index] = idx
        else:
            tables[cfg.dedup_index] = spark.createDataFrame(
                [], f"fp string, canonical_id {id_type}"
            )
    out = apply_corpus_pipeline(
        df,
        cfg,
        id_col=args.id_col,
        text_col=args.text_col,
        lang_col=args.lang_col,
        tables=tables or None,
    )
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    if cfg.dedup_index:
        # the index-append side effect, AFTER the output write: the
        # batch's first-seen fingerprints join the index so the next
        # ingest dedups against them. Fingerprint the GATED frame —
        # the exact frame the pipeline's dedup stage probed — not the
        # raw input: with strip_html/fix_mojibake on, raw-text
        # fingerprints would never match a future probe, and gated-out
        # (language/blocklist) documents must not enter the index as
        # phantom canonicals suppressing future content (r10 ADVICE).
        from .corpus_config import pre_dedup_gates
        from .operators.text_dedup import exact_dup_incremental
        from .sources.bucketed import write_bucketed

        gated = pre_dedup_gates(
            df, cfg, text_col=args.text_col, lang_col=args.lang_col,
            id_col=args.id_col,
        )
        _, new_rows = exact_dup_incremental(
            gated, tables[cfg.dedup_index], id_col=args.id_col,
            text_col=args.text_col,
        )
        # count BEFORE the append: afterwards the lazy plan would
        # re-probe the mutated index and report +0 (r11 review finding)
        added = new_rows.count()
        write_bucketed(
            new_rows, cfg.dedup_index, "fp", _INDEX_BUCKETS,
            mode="append" if spark.catalog.tableExists(cfg.dedup_index)
            else "overwrite",
        )
        print(f"fingerprint index {cfg.dedup_index}: +{added} rows")
    print(f"curated {args.corpus}: {n} rows -> {args.out}")


# console print paths collect at most this many rows to the driver;
# anything larger belongs in --out parquet, not stdout
_PRINT_CAP = 10_000


# bucket count for the persisted fingerprint index; must be identical
# across every run that appends (a mismatched spec silently reintroduces
# the probe-side exchange). At 100 TB size this at ingest (~corpus_fp
# bytes / 256 MB) and keep it constant for the index's lifetime.
_INDEX_BUCKETS = 64


def _table_location(spark, table: str) -> str | None:
    """URI a MANAGED table of this name would occupy in the session
    warehouse (scheme preserved: the warehouse may be hdfs://, s3a://,
    or file: — r11 review finding: stripping to a local path made
    recovery a silent no-op on cluster filesystems). Handles qualified
    names: ``db.tbl`` lives at ``<wh>/db.db/tbl``, not ``<wh>/db.tbl``
    (r10 ADVICE)."""
    wh = (spark.conf.get("spark.sql.warehouse.dir") or "").rstrip("/")
    if not wh:
        return None
    parts = table.lower().split(".")
    if parts and parts[0] == "spark_catalog":
        parts = parts[1:]
    if len(parts) == 1 or parts[0] == "default":
        return f"{wh}/{parts[-1]}"
    if len(parts) == 2:
        return f"{wh}/{parts[0]}.db/{parts[1]}"
    return None


def _hadoop_fs(spark, uri: str):
    """(FileSystem, Path) for any Spark-visible URI — the single shared
    resolver lives next to the bucket-spec sidecar it serves."""
    from .sources.bucketed import hadoop_fs

    return hadoop_fs(spark, uri)


def _location_exists(spark, uri: str) -> bool:
    fs, path = _hadoop_fs(spark, uri)
    return bool(fs.exists(path))


def _location_has_parquet(spark, uri: str) -> bool:
    fs, path = _hadoop_fs(spark, uri)
    if not fs.exists(path):
        return False
    it = fs.listFiles(path, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            return True
    return False


def _delete_location(spark, uri: str) -> None:
    fs, path = _hadoop_fs(spark, uri)
    if fs.exists(path):
        fs.delete(path, True)


def _rename_location(spark, src: str, dst: str) -> None:
    fs, path = _hadoop_fs(spark, src)
    if not fs.rename(path, _hadoop_fs(spark, dst)[1]):
        raise OSError(f"rename {src} -> {dst} failed")


_BUCKET_ID_RE = re.compile(r"_(\d{5})\.c\d{3}")


def _max_bucket_id_in_files(spark, uri: str) -> int | None:
    """Largest bucket id encoded in the location's bucketed-file names
    (``part-*_NNNNN.c000``), or None when no file carries one. A lower
    bound on the true bucket count for legacy locations written before
    the sidecar spec existed."""
    fs, path = _hadoop_fs(spark, uri)
    if not fs.exists(path):
        return None
    best: int | None = None
    it = fs.listFiles(path, True)
    while it.hasNext():
        m = _BUCKET_ID_RE.search(it.next().getPath().getName())
        if m:
            b = int(m.group(1))
            best = b if best is None or b > best else best
    return best


def _clear_orphan_table_location(spark, table: str) -> None:
    """saveAsTable(mode="overwrite") refuses to create a managed table
    whose warehouse LOCATION survives from a previous session while the
    (per-session derby) catalog no longer knows the table — a re-run of
    `index` after any restart would die on LOCATION_ALREADY_EXISTS.
    When the catalog lacks the table, remove the orphan directory; when
    it has it, the overwrite path handles everything.

    ONLY for rebuild-semantics commands (`index`, where the input IS
    the full corpus and rebuilding is the contract). Incremental state
    (`curate`'s fingerprint index) must use :func:`_recover_orphan_index`
    instead — deleting it would erase every prior ingest's fingerprints
    (r10 ADVICE, high)."""
    if spark.catalog.tableExists(table):
        return
    loc = _table_location(spark, table)
    if loc:
        _delete_location(spark, loc)


def _recover_orphan_index(
    spark,
    table: str,
    schema_ddl: str | None,
    key: str | None,
    n_buckets: int | None,
) -> bool:
    """Re-register a persisted index whose data survived a process
    restart but whose catalog entry (per-session in-memory derby) did
    not. The bucket spec lives in the catalog, but the bucket id also
    lives in every file NAME Spark wrote (``part-*_<bucket>.c000``), so
    ``CREATE TABLE ... CLUSTERED BY ... LOCATION`` over the surviving
    files restores both the data AND the shuffle-free probe plan.
    Returns True when a table was re-registered.

    ``schema_ddl=None`` infers the schema from the surviving parquet
    footers. The bucket spec is resolved defensively (a WRONG declared
    count silently mis-buckets every probe, worse than the lost
    optimization): a ``_rm_bucket_spec.json`` sidecar written with the
    table is authoritative — caller-passed key/n_buckets must MATCH it
    or recovery refuses; with no sidecar (legacy location), a
    caller-passed count is validated against the bucket ids encoded in
    the surviving file names, and ``key/n_buckets=None`` re-registers
    WITHOUT a bucket spec — correct but exchange-paying.

    A location holding no parquet files (a crash mid-first-write) is
    genuine debris: cleared, not registered."""
    from .sources.bucketed import read_bucket_spec

    if spark.catalog.tableExists(table):
        return False
    loc = _table_location(spark, table)
    if not loc or not _location_exists(spark, loc):
        return False
    if not _location_has_parquet(spark, loc):
        _delete_location(spark, loc)
        return False
    spec = read_bucket_spec(spark, loc)
    if spec is not None and not (
        spec.get("key") and int(spec.get("n_buckets", 0) or 0) > 0
    ):
        spec = None  # malformed sidecar: fall back to legacy handling
    if spec is not None:
        spec_key, spec_n = spec.get("key"), int(spec.get("n_buckets", 0))
        if key is not None and n_buckets is not None and (
            key != spec_key or n_buckets != spec_n
        ):
            raise SystemExit(
                f"{table}: surviving index was written bucketed by "
                f"{spec_key!r} into {spec_n} buckets; refusing to "
                f"re-register with key={key!r} n_buckets={n_buckets} "
                "(a mismatched spec silently mis-buckets every probe)"
            )
        key, n_buckets = spec_key, spec_n
    elif key is not None and n_buckets is not None:
        max_id = _max_bucket_id_in_files(spark, loc)
        if max_id is not None and max_id >= n_buckets:
            raise SystemExit(
                f"{table}: surviving files carry bucket ids up to "
                f"{max_id} but --buckets={n_buckets} was requested; "
                "refusing to register a mismatched bucket spec"
            )
    if schema_ddl is None:
        schema = spark.read.parquet(loc).schema
        schema_ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
    bucket_clause = (
        f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n_buckets} BUCKETS "
        if key is not None and n_buckets is not None
        else ""
    )
    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) USING PARQUET "
        f"{bucket_clause}LOCATION '{loc}'"
    )
    return True


def cmd_index(args) -> None:
    """Build and persist the BM25 serving index: term-bucketed postings
    plus the 1-row (N, avgdl) stats table as catalog tables — the
    reference's `solr update-index` story
    (src/RecordManager/Base/Command/Solr/UpdateIndex.php — behavioral
    spec: indexing is a console command away) with the Lucene cluster
    replaced by native tables. Probes against the result touch the
    corpus ZERO times and read only matching term buckets' files."""
    spark = _spark("rm-index")
    from .operators.retrieval import build_corpus_stats, build_postings
    from .sources.bucketed import write_bucketed

    df = spark.read.parquet(args.input)
    postings = build_postings(
        df, id_col=args.id_col, text_col=args.text_col
    )
    _clear_orphan_table_location(spark, args.table)
    _clear_orphan_table_location(spark, args.table + "_stats")
    write_bucketed(postings, args.table, "term", args.buckets)
    build_corpus_stats(df, text_col=args.text_col).write.mode(
        "overwrite"
    ).saveAsTable(args.table + "_stats")
    n = spark.table(args.table).count()
    print(f"indexed {n} postings -> {args.table} (+ {args.table}_stats)")


def cmd_search(args) -> None:
    """Probe a persisted BM25 index: top-k per query, corpus-zero (the
    bucketed postings + stats tables are everything scoring needs).
    One ad-hoc --query prints JSON lines; --queries <parquet> with
    (query_id, query_text) batches, and --out writes parquet instead
    of printing."""
    spark = _spark("rm-search")
    from .operators.retrieval import bm25_topk
    from .sources.bucketed import read_bucketed

    if bool(args.query) == bool(args.queries):
        raise SystemExit("exactly one of --query / --queries required")
    # a fresh process has a fresh in-memory catalog: re-register an
    # index whose warehouse data survived a restart (same recovery as
    # curate's fingerprint index). The written-with spec is recovered
    # from the _rm_bucket_spec.json sidecar (shuffle-free probes with
    # no flag at all); an explicit --buckets is VALIDATED against the
    # sidecar / surviving file names and refused on mismatch — a wrong
    # declared count would silently mis-bucket every probe (r11
    # ADVICE). Only a legacy sidecar-less index with no --buckets
    # registers unbucketed (correct, one probe-side exchange).
    _recover_orphan_index(
        spark,
        args.table,
        None,
        "term" if args.buckets else None,
        args.buckets or None,
    )
    _recover_orphan_index(spark, args.table + "_stats", None, None, None)
    if args.query:
        queries = spark.createDataFrame(
            [(0, args.query)], "query_id int, query_text string"
        )
    else:
        queries = spark.read.parquet(args.queries)
    out = bm25_topk(
        corpus=None,  # never touched: postings + stats both supplied
        queries=queries,
        k=args.k,
        postings=read_bucketed(spark, args.table),
        stats=spark.table(args.table + "_stats"),
    )
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(f"search results -> {args.out}")
    else:
        for r in out.orderBy("query_id", "rank").collect():
            json.dump(r.asDict(), sys.stdout, sort_keys=True)
            print()


def cmd_datacard(args) -> None:
    """Per-group corpus summary (doc/token/char budgets, duplicate
    rate, quality distribution) — the dataset-release table as a
    console command, the count-values pattern applied to the corpus
    tier. ``--approx`` swaps in the bounded-state sketches (HLL++ +
    KLL percentile), the 100 TB path."""
    spark = _spark("rm-datacard")
    from .operators.diagnostics import corpus_datacard

    df = spark.read.parquet(args.input)
    card = corpus_datacard(
        df,
        by=tuple(args.by),
        text_col=args.text_col,
        approach="approx" if args.approx else "exact",
    )
    if args.out:
        card.write.mode("overwrite").parquet(args.out)
        print(f"datacard -> {args.out}")
    else:
        for r in card.orderBy(*args.by).collect():
            json.dump(r.asDict(), sys.stdout, sort_keys=True, default=str)
            print()


def cmd_compare_records(args) -> None:
    """Command/Solr/CompareRecords.php: field-level diff of the
    would-be index docs against the currently-published index — the
    re-index validation a user runs after every mapping change. The
    reference fetches each doc over HTTP (SolrComparer.php:241);
    natively both sides melt to (id, field, values) and diff in one
    full-outer join. Prints the reference's log lines (--- removed /
    +++ added per field) or writes the diff table with --out."""
    spark = _spark("rm-compare-records")
    from .operators.index_compare import compare_index_docs

    records = read_store(spark, args.records)
    indexed = spark.read.parquet(args.index)
    if args.single_id:
        records = records.where(
            F.col(args.id_col).cast("string") == args.single_id
        )
    if args.source and "source_id" in records.columns:
        records = records.where(F.col("source_id").isin(args.source))
    diff = compare_index_docs(
        records,
        indexed,
        id_col=args.id_col,
        fields=args.fields.split(",") if args.fields else None,
        skip_missing=args.skip_missing,
    )
    if args.out:
        diff.write.mode("overwrite").parquet(args.out)
        print(f"index diff -> {args.out}")
        return
    # a mapping change can perturb EVERY record — never collect the
    # whole diff to the driver; print a capped prefix and point at
    # --out for the full table (the reference streams per record)
    shown = 0
    for r in diff.orderBy("id", "field").limit(_PRINT_CAP + 1).collect():
        if shown == _PRINT_CAP:
            break
        shown += 1
        print(f"Record {r['id']} field {r['field']} would be changed:")
        for v in r["removed"]:
            print(f"--- {v}")
        for v in r["added"]:
            print(f"+++ {v}")
    n = diff.count() if shown >= _PRINT_CAP else shown
    if n > shown:
        print(f"... {n - shown} more — use --out for the full diff")
    print(f"{n} field differences")


def cmd_check_index(args) -> None:
    """Command/Solr/CheckIndex.php: find index rows whose backing
    record is missing or deleted (merged rows check the dedup table,
    SolrUpdater.php:1476). --report-only prints the reference's
    warning lines; otherwise the orphan delete list is written to
    --out, ready for the Solr sink's batched deletes."""
    spark = _spark("rm-check-index")
    from .operators.index_compare import check_index

    indexed = spark.read.parquet(args.index)
    records = read_store(spark, args.records)
    dedup = spark.read.parquet(args.dedup) if args.dedup else None
    orphans = check_index(
        indexed,
        records,
        dedup=dedup,
        id_col=args.id_col,
        updated_col=args.updated_col,
    )
    if args.report_only:
        # capped like compare-records: a store-wide loss would make the
        # orphan list index-sized; never collect it whole to the driver
        shown = 0
        for r in orphans.orderBy("id").limit(_PRINT_CAP + 1).collect():
            if shown == _PRINT_CAP:
                break
            shown += 1
            kind = "merged" if r["merged"] else "single"
            detail = (
                f"deleted {r['deleted_at']}"
                if r["reason"] == "deleted"
                else "missing"
            )
            print(
                f"Found orphan {kind} record {r['id']} in index "
                f"(database record {detail})"
            )
        n = orphans.count() if shown >= _PRINT_CAP else shown
        if n > shown:
            print(f"... {n - shown} more — use --out for the full list")
        print(f"{n} orphaned records")
    else:
        if not args.out:
            raise SystemExit("--out required unless --report-only")
        orphans.write.mode("overwrite").parquet(args.out)
        print(f"orphan delete list -> {args.out}")


def cmd_sources_add_setting(args) -> None:
    """Command/Sources/AddSetting.php: add a setting line to targeted
    [source] sections of datasources.ini, comment-preserving. Default
    prints the modified file; --write saves it in place."""
    from .ini_edit import add_setting

    text = open(args.config).read()
    sources = None if args.source in (None, "*") else args.source.split(",")
    out = add_setting(
        text, args.setting, sources=sources, add_sources=args.add_sources
    )
    if args.write:
        open(args.config, "w").write(out)
        print(f"{args.config} updated")
    else:
        sys.stdout.write(out)


def cmd_sources_remove_setting(args) -> None:
    """Command/Sources/RemoveSetting.php: drop parse-equal setting
    lines from targeted sections."""
    from .ini_edit import remove_setting

    text = open(args.config).read()
    sources = None if args.source in (None, "*") else args.source.split(",")
    out = remove_setting(text, args.setting, sources=sources)
    if args.write:
        open(args.config, "w").write(out)
        print(f"{args.config} updated")
    else:
        sys.stdout.write(out)


def cmd_sources_show_config(args) -> None:
    """Command/Sources/ShowConfig.php: print one source's section
    verbatim."""
    from .ini_edit import show_config

    sys.stdout.write(show_config(open(args.config).read(), args.source))


def cmd_sources_search(args) -> None:
    """Command/Sources/Search.php: names of sources whose normalized
    setting=value lines match the regexp, joined by --separator."""
    from .ini_edit import search_sources

    sep = args.separator.replace("\\t", "\t").replace(
        "\\n", "\n"
    ).replace("\\r", "\r")
    print(sep.join(search_sources(open(args.config).read(), args.regexp)))


def cmd_sources_delete(args) -> None:
    """Command/Sources/Delete.php: remove whole [source] sections from
    datasources.ini, comment-preserving, with the reference's
    keep-comments reattachment semantics. With --records, refuses to
    delete a source that still has records (Delete.php:120-133 checks
    the record store first); decommission order is delete-source +
    purge-deleted, THEN sources-delete."""
    from .ini_edit import delete_sources

    if args.highlight and args.write:
        raise SystemExit("--highlight cannot be used with --write")
    # strip + drop empty tokens: 'alpha,' must not yield an '' victim
    # (the preamble pseudo-section is named '' — deleting it silently
    # drops the file-header comment block), and 'a, b' must match 'b'.
    sources = [s.strip() for s in args.sources.split(",") if s.strip()]
    if not sources:
        raise SystemExit("sources-delete: no source ids given")
    if args.records:
        spark = _spark("rm-sources-delete")
        records = read_store(spark, args.records)
        present = {
            r["source_id"]
            for r in records.where(F.col("source_id").isin(sources))
            .select("source_id").distinct().collect()
        }
        blocked = [s for s in sources if s in present]
        if blocked:
            for s in blocked:
                print(
                    f"Data source '{s}' contains records and cannot "
                    "be deleted", file=sys.stderr,
                )
            raise SystemExit(1)
    text = open(args.config).read()
    out = delete_sources(
        text,
        sources,
        keep_comments=args.keep_comments,
        highlight=args.highlight,
    )
    if args.write:
        open(args.config, "w").write(out)
        print(f"{args.config} updated")
    else:
        sys.stdout.write(out)


def _utc_ts(iso: str) -> int:
    """ISO datetime -> unix seconds; naive input is interpreted as UTC,
    an explicit offset is CONVERTED (not overwritten — r11 review
    finding: .replace() silently shifted offset-carrying inputs)."""
    d = _dt.datetime.fromisoformat(iso)
    if d.tzinfo is None:
        d = d.replace(tzinfo=_dt.timezone.utc)
    return int(d.astimezone(_dt.timezone.utc).timestamp())


def _solr_state_key(
    date_per_server: bool,
    update_url: str | None,
    source: str | None = None,
) -> str:
    """SolrUpdater.php:1624 getLastUpdateStateKey, extended with the
    per-source suffix this engine's per-source update-index runs use —
    the get/set-last-solr-update-timestamp commands accept --source so
    every writer/reader derives the SAME key (r11 review finding: the
    commands and update-index previously used disjoint keys)."""
    key = "Last Index Update"
    if date_per_server:
        key += " " + (update_url or "")
    if source:
        key += f" source {source}"
    return key


def cmd_get_state_timestamp(args) -> None:
    """Command/State/GetLastSolrUpdateTimestamp.php over a JSON state
    file (the reference's database state collection as a file — the
    engine's stores are files, not a live DB)."""
    key = _solr_state_key(
        args.date_per_server, args.update_url, args.source
    )
    ts = WatermarkStore(args.state_file).get(key)
    if ts is None:
        print("not stored")
    else:
        print(
            _dt.datetime.fromtimestamp(
                ts, _dt.timezone.utc
            ).strftime("%Y-%m-%d %H:%M:%SZ")
        )


def cmd_set_state_timestamp(args) -> None:
    """Command/State/SetLastSolrUpdateTimestamp.php: store (or with
    --clear erase) the watermark the next incremental update-index run
    starts from."""
    key = _solr_state_key(
        args.date_per_server, args.update_url, args.source
    )
    store = WatermarkStore(args.state_file)
    if args.clear:
        store.clear(key)
        print(f"cleared {key!r}")
    else:
        if args.timestamp is None:
            raise SystemExit("--timestamp required unless --clear")
        ts = _utc_ts(args.timestamp)
        store.set(key, ts)
        print(f"set {key!r} = {ts}")


def cmd_solr_delete_source(args) -> None:
    """Command/Solr/Delete.php -> SolrUpdater.php:1338-1347
    deleteDataSource: one delete-by-query request ('id:<source>.*')
    followed by a commit (4h timeout — deletes of a whole source are
    long). --out writes both as command files; --update-url POSTs them
    live through the pusher seam. The reference's merge_records
    pre-pass (re-running updates so deduplicated groups shed the
    vanishing members) maps to running `update-index` first —
    documented here rather than hidden inside the verb."""
    body = json.dumps({"delete": {"query": f"id:{args.source}.*"}})
    commit = '{ "commit": {} }'
    if args.out:
        os.makedirs(args.out, exist_ok=True)
        path = os.path.join(args.out, "delete-source.json")
        open(path, "w").write(body + "\n" + commit + "\n")
        print(f"delete-source commands -> {path}")
        return
    if not args.update_url:
        raise SystemExit("one of --out / --update-url required")
    from .sinks.solr import make_urllib_transport

    transport = make_urllib_transport(timeout=args.timeout)
    for payload in (body, commit):
        status, _resp = transport(
            args.update_url, payload, {"Content-Type": "application/json"}
        )
        if status != 200:
            raise SystemExit(f"solr delete-source failed: HTTP {status}")
    print(f"deleted source {args.source} from index")


def cmd_solr_optimize(args) -> None:
    """Command/Solr/Optimize.php -> SolrUpdater.php:1354 optimizeIndex:
    one '{ "optimize": {} }' admin verb. --out writes it as a command
    file next to the update batches (the engine's file-sink shape);
    --update-url POSTs it live through the pusher seam (4h timeout in
    the reference — long optimizes are normal)."""
    body = '{ "optimize": {} }'
    if args.out:
        os.makedirs(args.out, exist_ok=True)
        path = os.path.join(args.out, "optimize.json")
        open(path, "w").write(body + "\n")
        print(f"optimize command -> {path}")
        return
    if not args.update_url:
        raise SystemExit("one of --out / --update-url required")
    from .sinks.solr import make_urllib_transport

    transport = make_urllib_transport(timeout=args.timeout)
    status, _resp = transport(
        args.update_url, body, {"Content-Type": "application/json"}
    )
    if status >= 300:
        raise SystemExit(f"optimize failed: {status}")
    print("Solr optimization completed")


def cmd_logs_send(args) -> None:
    """Command/Logs/Send.php: drain the stored log messages into
    batched email reports. --out writes each report to a file (the
    engine's file-sink seam); --smtp host[:port] sends live."""
    from .examples.log_sender import (
        file_log_store,
        make_smtp_mailer,
        send_logs,
    )

    read_batch, delete_batch = file_log_store(args.log_store)
    if args.out:
        os.makedirs(args.out, exist_ok=True)
        seq = {"n": 0}

        def mailer(recipient, subject, body):
            path = os.path.join(args.out, f"report{seq['n']:05d}.txt")
            seq["n"] += 1
            open(path, "w").write(
                f"To: {recipient}\nSubject: {subject}\n\n{body}"
            )
            return True

    elif args.smtp:
        host, _, port = args.smtp.partition(":")
        mailer = make_smtp_mailer(host, int(port or 25))
    else:
        raise SystemExit("one of --out / --smtp required")
    n = send_logs(
        read_batch, delete_batch, mailer, args.recipient,
        batch_size=args.batch_size,
    )
    print(f"Completed with {n} message(s) sent")


def _add_document_options(s, required: bool) -> None:
    """The source and pipeline options of solr_documents, shared by
    update-index and preview."""
    s.add_argument("--config", required=required)
    s.add_argument("--source", required=required)
    s.add_argument("--mappings", help="mapping-file directory")
    s.add_argument(
        "--xsl-dir", help="directory holding solrTransformation stylesheets"
    )
    s.add_argument("--hierarchical-facet", action="append")
    s.add_argument(
        "--enrichment-data", action="append",
        help="NAME=parquet lookup table for an enrichments[] entry",
    )


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(
        prog="recordmanager_spark",
        description=__doc__.splitlines()[0],
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("import", help="file(s) -> records table")
    s.add_argument("--config", required=True)
    s.add_argument("--source", required=True)
    s.add_argument("--file", required=True)
    s.add_argument("--records", required=True)
    s.add_argument("--record-tag")
    s.add_argument("--id-tag")
    s.add_argument(
        "--xsl-dir", help="directory holding preTransformation stylesheets"
    )
    s.set_defaults(fn=cmd_import)

    s = sub.add_parser(
        "harvest", help="fetched OAI-PMH response pages -> records table"
    )
    s.add_argument("--config", required=True)
    s.add_argument("--source", required=True)
    s.add_argument("--pages", required=True, help="response page file(s)")
    s.add_argument("--records", required=True)
    s.add_argument(
        "--xsl-dir", help="directory holding oaipmhTransformation stylesheets"
    )
    s.set_defaults(fn=cmd_harvest)

    s = sub.add_parser("deduplicate", help="records table -> (id, dedup_id)")
    s.add_argument("--records", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--format")
    s.set_defaults(fn=cmd_deduplicate)

    s = sub.add_parser(
        "update-index", help="records table -> Solr JSON update batches"
    )
    s.add_argument("--records", required=True)
    _add_document_options(s, required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--batch-size", type=int, default=5000)
    s.add_argument(
        "--from-date",
        help="ISO datetime (UTC): index records updated since; '' "
        "forces a full reindex, overriding any stored watermark",
    )
    s.add_argument(
        "--state-file",
        help="JSON watermark store: read the last-update timestamp "
        "when --from-date is absent, save the run start on success",
    )
    s.set_defaults(fn=cmd_update_index)

    s = sub.add_parser("export", help="records table -> export files")
    s.add_argument("--records", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--skip", type=int, default=0)
    s.add_argument("--xpath-predicate")
    s.add_argument("--batch-size", type=int)
    s.set_defaults(fn=cmd_export)

    s = sub.add_parser("count-values", help="field histogram")
    s.add_argument("--records", required=True)
    s.add_argument("--field", required=True)
    s.add_argument("--format")
    s.add_argument("--top", type=int, default=20)
    s.set_defaults(fn=cmd_count_values)

    s = sub.add_parser("mark-deleted", help="flip deleted=true by id/source")
    s.add_argument("--records", required=True)
    s.add_argument("--id", action="append")
    s.add_argument("--source")
    s.set_defaults(fn=cmd_mark_deleted)

    s = sub.add_parser("suppress", help="set suppressed=true by id/source")
    s.add_argument("--records", required=True)
    s.add_argument("--id", action="append")
    s.add_argument("--source")
    s.set_defaults(fn=cmd_suppress)

    s = sub.add_parser("unsuppress", help="set suppressed=false by id/source")
    s.add_argument("--records", required=True)
    s.add_argument("--id", action="append")
    s.add_argument("--source")
    s.set_defaults(fn=lambda a: cmd_suppress(a, value=False))

    s = sub.add_parser("delete-source", help="mark a whole source deleted")
    s.add_argument("--records", required=True)
    s.add_argument("--source", required=True)
    s.set_defaults(fn=cmd_delete_source)

    s = sub.add_parser("purge-deleted", help="physically drop deleted rows")
    s.add_argument("--records", required=True)
    s.add_argument("--older-than", help="ISO date; only older deletions")
    s.set_defaults(fn=cmd_purge_deleted)

    s = sub.add_parser(
        "mark-for-update", help="stamp updated (and optionally the dirty flag)"
    )
    s.add_argument("--records", required=True)
    s.add_argument("--id", action="append")
    s.add_argument("--source")
    s.add_argument("--set-update-needed", action="store_true")
    s.set_defaults(fn=cmd_mark_for_update)

    s = sub.add_parser(
        "renormalize",
        help="immediately re-normalize stored records "
        "(XSLT + driver fixups + keys + flags)",
    )
    s.add_argument("--records", required=True)
    s.add_argument("--config", required=True, help="datasources.ini")
    s.add_argument(
        "--source", help="comma-separated source ids (default: all)"
    )
    s.add_argument("--single", help="renormalize only this record id")
    s.add_argument(
        "--xsl-dir", help="directory holding normalization stylesheets"
    )
    s.add_argument("--verbose", action="store_true")
    s.set_defaults(fn=cmd_renormalize)

    s = sub.add_parser("check-dedup", help="validate a dedup assignment")
    s.add_argument("--records", required=True)
    s.add_argument("--dedup", required=True)
    s.set_defaults(fn=cmd_check_dedup)

    s = sub.add_parser("dump", help="print stored record rows as JSON")
    s.add_argument("--records", required=True)
    s.add_argument("--id", action="append", required=True)
    s.set_defaults(fn=cmd_dump)

    s = sub.add_parser("preview", help="one record -> field map JSON")
    s.add_argument("--file", required=True)
    s.add_argument("--format", help="default: the source's format, else marc")
    _add_document_options(s, required=False)
    s.set_defaults(fn=cmd_preview)

    s = sub.add_parser(
        "curate", help="corpus parquet -> [corpus:] pipeline -> parquet"
    )
    s.add_argument("--config", required=True, help="ini with [corpus:...]")
    s.add_argument("--corpus", required=True, help="section name")
    s.add_argument(
        "--input",
        help="input parquet (optional when the section has source =)",
    )
    s.add_argument("--out", required=True, help="output parquet")
    s.add_argument("--id-col", default="doc_id")
    s.add_argument("--text-col", default="text")
    s.add_argument("--lang-col", default="lang")
    s.add_argument(
        "--benchmark",
        help="NAME=path.parquet for decontaminate table resolution",
    )
    s.add_argument(
        "--staging",
        help="landing-zone parquet for non-parquet sources "
        "(default: <out>_staging)",
    )
    s.set_defaults(fn=cmd_curate)

    s = sub.add_parser(
        "index",
        help="documents parquet -> bucketed BM25 postings + stats tables",
    )
    s.add_argument("--input", required=True, help="documents parquet")
    s.add_argument("--table", required=True, help="index table name")
    s.add_argument("--buckets", type=int, default=64)
    s.add_argument("--id-col", default="doc_id")
    s.add_argument("--text-col", default="text")
    s.set_defaults(fn=cmd_index)

    s = sub.add_parser(
        "search", help="probe a persisted BM25 index (corpus-zero)"
    )
    s.add_argument("--table", required=True, help="index table name")
    s.add_argument("--query", help="ad-hoc query text")
    s.add_argument(
        "--queries", help="parquet of (query_id, query_text) for batch"
    )
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--out", help="write results parquet instead of printing")
    s.add_argument(
        "--buckets", type=int,
        help="original bucket count, for shuffle-free recovery of an "
        "index whose catalog entry was lost to a process restart",
    )
    s.set_defaults(fn=cmd_search)

    s = sub.add_parser(
        "datacard", help="documents parquet -> per-group corpus summary"
    )
    s.add_argument("--input", required=True, help="documents parquet")
    s.add_argument(
        "--by", nargs="+", default=["source", "lang"], help="group columns"
    )
    s.add_argument("--text-col", default="text")
    s.add_argument(
        "--approx", action="store_true",
        help="bounded-state sketches (HLL++/KLL) instead of exact",
    )
    s.add_argument("--out", help="write parquet instead of printing JSON")
    s.set_defaults(fn=cmd_datacard)

    s = sub.add_parser(
        "compare-records",
        help="would-be index docs vs published index: field-level diff",
    )
    s.add_argument("--records", required=True, help="new index docs parquet")
    s.add_argument("--index", required=True, help="published index parquet")
    s.add_argument("--id-col", default="id")
    s.add_argument("--fields", help="comma-separated fields to compare")
    s.add_argument("--single-id", help="compare only this record id")
    s.add_argument(
        "--source", nargs="+", help="restrict to these source_id values"
    )
    s.add_argument(
        "--skip-missing", action="store_true",
        help="skip records missing from the index",
    )
    s.add_argument("--out", help="write diff parquet instead of printing")
    s.set_defaults(fn=cmd_compare_records)

    s = sub.add_parser(
        "check-index",
        help="find index rows whose backing record is missing/deleted",
    )
    s.add_argument("--index", required=True, help="published index parquet")
    s.add_argument("--records", required=True, help="record store parquet")
    s.add_argument("--dedup", help="dedup-group parquet for merged rows")
    s.add_argument("--id-col", default="id")
    s.add_argument("--updated-col", default="updated")
    s.add_argument(
        "--report-only", action="store_true",
        help="print orphan report instead of writing the delete list",
    )
    s.add_argument("--out", help="orphan delete list parquet")
    s.set_defaults(fn=cmd_check_index)

    s = sub.add_parser(
        "sources-add-setting",
        help="add a setting line to datasources.ini sections",
    )
    s.add_argument("--config", required=True)
    s.add_argument("setting", help="the setting line to add, e.g. 'a = b'")
    s.add_argument("--source", default="*", help="comma-separated sources")
    s.add_argument(
        "--add-sources", action="store_true",
        help="create missing [source] sections",
    )
    s.add_argument("--write", action="store_true", help="save in place")
    s.set_defaults(fn=cmd_sources_add_setting)

    s = sub.add_parser(
        "sources-remove-setting",
        help="remove a setting line from datasources.ini sections",
    )
    s.add_argument("--config", required=True)
    s.add_argument("setting")
    s.add_argument("--source", default="*")
    s.add_argument("--write", action="store_true")
    s.set_defaults(fn=cmd_sources_remove_setting)

    s = sub.add_parser(
        "sources-show-config", help="print one source's section verbatim"
    )
    s.add_argument("--config", required=True)
    s.add_argument("source")
    s.set_defaults(fn=cmd_sources_show_config)

    s = sub.add_parser(
        "sources-search",
        help="names of sources whose settings match a regexp",
    )
    s.add_argument("--config", required=True)
    s.add_argument("regexp")
    s.add_argument("--separator", default=",")
    s.set_defaults(fn=cmd_sources_search)

    s = sub.add_parser(
        "sources-delete",
        help="remove whole [source] sections from datasources.ini",
    )
    s.add_argument("--config", required=True)
    s.add_argument("sources", help="comma-separated section names")
    s.add_argument(
        "--keep-comments",
        default="trailing",
        choices=["all", "leading", "trailing", "none"],
        help="adjacent-comment retention (reference default: trailing)",
    )
    s.add_argument(
        "--records",
        help="records parquet; sources still holding records refuse "
        "deletion (Delete.php:120-133)",
    )
    s.add_argument(
        "--highlight", action="store_true",
        help="preview: keep everything, mark would-be-deleted lines "
        "in red (mutually exclusive with --write)",
    )
    s.add_argument("--write", action="store_true", help="save in place")
    s.set_defaults(fn=cmd_sources_delete)

    s = sub.add_parser(
        "get-last-solr-update-timestamp",
        help="print the stored incremental-index watermark",
    )
    s.add_argument("--state-file", required=True)
    s.add_argument("--date-per-server", action="store_true")
    s.add_argument("--update-url")
    s.add_argument(
        "--source", help="per-source key suffix (update-index's keys)"
    )
    s.set_defaults(fn=cmd_get_state_timestamp)

    s = sub.add_parser(
        "set-last-solr-update-timestamp",
        help="set/clear the incremental-index watermark",
    )
    s.add_argument("--state-file", required=True)
    s.add_argument("--timestamp", help="ISO datetime, interpreted as UTC")
    s.add_argument("--clear", action="store_true")
    s.add_argument("--date-per-server", action="store_true")
    s.add_argument("--update-url")
    s.add_argument(
        "--source", help="per-source key suffix (update-index's keys)"
    )
    s.set_defaults(fn=cmd_set_state_timestamp)

    s = sub.add_parser(
        "solr-delete-source",
        help="emit/POST the delete-by-query for a whole source",
    )
    s.add_argument("source", help="record id prefix (no trailing period)")
    s.add_argument("--out", help="write delete-source.json to this directory")
    s.add_argument("--update-url", help="POST live instead")
    s.add_argument("--timeout", type=float, default=4 * 60 * 60)
    s.set_defaults(fn=cmd_solr_delete_source)

    s = sub.add_parser("solr-optimize", help="emit/POST the optimize verb")
    s.add_argument("--out", help="write optimize.json to this directory")
    s.add_argument("--update-url", help="POST live instead")
    s.add_argument("--timeout", type=float, default=4 * 60 * 60)
    s.set_defaults(fn=cmd_solr_optimize)

    s = sub.add_parser(
        "logs-send", help="drain stored logs into batched email reports"
    )
    s.add_argument("recipient")
    s.add_argument("--log-store", required=True, help="JSON-lines log file")
    s.add_argument("--batch-size", type=int, default=100)
    s.add_argument("--out", help="write reports to files instead of SMTP")
    s.add_argument("--smtp", help="host[:port] for live delivery")
    s.set_defaults(fn=cmd_logs_send)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
