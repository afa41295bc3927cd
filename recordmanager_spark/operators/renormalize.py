"""records renormalize — the immediate re-normalization pass.

Behavioral spec (reference, NOT code):

- ``Command/Records/Renormalize.php:105-240``: for every live record of
  the selected sources, (1) re-run the source's normalization XSLT over
  the stored original data, (2) build the metadata record and run the
  driver's ``normalize()`` fixups, (3) flip ``deleted`` when the record
  is suppressed, (4) refresh host/linking ids, (5) for dedup-enabled
  sources with no host links re-derive the dedup candidate keys and set
  ``update_needed`` iff they changed — otherwise clear the keys and the
  ``dedup_id`` membership, (6) store the re-serialized record as
  ``normalized_data`` ('' when byte-identical to the original), and
  (7) stamp ``updated``.
- ``Deduplication/DedupHandler.php:313-370``
  (``updateDedupCandidateKeys``): title key = createTitleKey(title) +
  normalizeKey(first comma-part of the main author) capped at 200;
  isbn keys = getISBNs(); id keys = getUniqueIDs() each capped at 200;
  ``update_needed`` = any key set differs from the stored one.
- ``Record/AbstractRecord.php:446-477`` (``getSuppressed``): the
  per-source ``suppressOnField`` filter map decides suppression.

Spark-first shape: the whole pass is ONE scan-stage projection over the
records table — per-source XSLT via an Arrow-batched UDF keyed on
``source_id`` (stylesheets compiled once per executor), the MARC parse /
normalize / key derivation as column expressions, zero shuffles and no
driver-side iteration. At 100 TB the pass scales with the scan exactly
like the reference's cursor walk scales with the collection — minus the
per-record round trips.

The repo's previously documented divergence ("renormalize ==
mark-for-update stamping; the pipeline re-normalizes on the next index
run") is hereby closed: `rm renormalize` now performs the immediate
pass, and mark-for-update remains the lightweight alternative.
"""

from __future__ import annotations

from typing import Mapping

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import SourceConfig
from ..extractors import marc as M
from ..extractors import marc_normalize as MN
from ..plans.filter_dsl import suppressed_condition
from ..sparkcompat import try_element_at
from .dedup import with_dedup_keys


def _truthy(v) -> bool:
    return str(v).strip().lower() in ("true", "1", "yes", "on")


def per_source_xslt(stylesheets: Mapping[str, str]):
    """Arrow-batched UDF applying each row's source-specific stylesheet
    (XslTransformation.php:142-172 with per-source sheets, the
    ``normalization=`` datasources.ini setting). Stylesheets compile
    once per executor on first use; sources with no stylesheet pass
    through unchanged. Unparseable records map to NULL (the reference
    logs-and-skips, never fails the batch)."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import StringType

    sheets = dict(stylesheets)
    state: dict = {}

    @pandas_udf(StringType())
    def transform(source: pd.Series, xml: pd.Series) -> pd.Series:
        from recordmanager_spark.xsl.engine import MiniXSLT

        import xml.etree.ElementTree as ET

        def one(src, doc):
            if doc is None:
                return None
            sheet = sheets.get(src)
            if sheet is None:
                return doc
            if src not in state:
                state[src] = MiniXSLT(sheet)
            try:
                return state[src].transform(doc, {})
            except ET.ParseError:
                return None

        return pd.Series(
            [one(s, d) for s, d in zip(source, xml)]
        )

    return transform


def _per_source_flag(
    sources: Mapping[str, SourceConfig], pick, source_col: Column
) -> Column:
    """True for rows whose source's config satisfies ``pick``."""
    hits = [sid for sid, cfg in sources.items() if pick(cfg)]
    if not hits:
        return F.lit(False)
    return source_col.isin(hits)


def _array_or_empty(df: DataFrame, name: str) -> Column:
    if name in df.columns:
        return F.coalesce(F.col(name), F.array().cast("array<string>"))
    return F.array().cast("array<string>")


def _keys_differ(old: Column, new: Column) -> Column:
    """count mismatch OR any old key missing from new — array_diff plus
    the count check, exactly DedupHandler.php:334/344/361."""
    return (F.size(old) != F.size(new)) | (
        F.size(F.array_except(old, new)) > 0
    )


def renormalize_records(
    records: DataFrame,
    sources: Mapping[str, SourceConfig],
    *,
    stylesheets: Mapping[str, str] | None = None,
    now=None,
) -> DataFrame:
    """The Renormalize.php pass over a records DataFrame, returning the
    updated table (same rows, refreshed normalized_data / keys / flags).

    ``sources`` maps source_id -> SourceConfig (datasources.ini);
    ``stylesheets`` maps source_id -> stylesheet TEXT for sources with a
    ``normalization=`` setting (the CLI resolves file names against its
    --xsl-dir). Key/flag/host derivation runs for MARC-family sources;
    non-MARC (and unknown) sources run only the XSLT + normalized_data
    stages and keep stored keys/flags untouched — the reference's
    per-format driver dispatch narrowed to the formats whose drivers
    actually carry dedup-key/holdings semantics."""
    data_col = "original_data"
    src = F.col("source_id")
    # Every fieldspec derivation below compiles through the SQL-text
    # twin (sqltwin.marc_twin): the tree composes as a string in pure
    # Python and crosses py4j as ONE F.expr parse per derivation,
    # instead of thousands of Column-API round trips (opt r12; same
    # mechanism as to_solr_columns/work_keys since r6, pinned
    # operator-for-operator identical by tests/test_sqltwin.py +
    # test_renormalize's oracle rows).
    from .. import sqlalg as SA
    from .. import sqltwin

    tw = sqltwin.marc_twin()
    tm = SA.col("__marc")

    def TX(expr) -> Column:
        return F.expr(str(expr))

    # Key/flag/host derivation is MARC-family work (the other formats'
    # drivers have no dedup-key/holdings semantics): non-MARC sources
    # run the XSLT + normalized_data stages and keep their stored
    # keys/flags byte-untouched.
    marc_sources = [
        sid
        for sid, cfg in sources.items()
        if (cfg.format or "").lower() in ("marc", "marcxml")
    ]
    is_marc = src.isin(marc_sources) if marc_sources else F.lit(False)

    # (1) per-source normalization XSLT
    if stylesheets:
        xslt = per_source_xslt(stylesheets)
        normalized_xml = xslt(src, F.col(data_col))
    else:
        normalized_xml = F.col(data_col)
    df = records.withColumn("__norm_src", normalized_xml)

    # (2) parse whatever serialization is stored + driver normalize().
    # Sources group by their (koha, alma, homebranch) driverParams into
    # at most 4 distinct normalize variants — chained conditionally.
    # The normalize chain is a LARGE pure-Column expression; it is used
    # exactly once (the serialization below). Every other derivation
    # reads the un-normalized parse: driver normalize() rewrites only
    # the 952 holdings fields, which none of title/author/isbn/id/host/
    # linking/suppression touch — referencing the chain from each would
    # inline it a dozen times and blow up plan analysis.
    marc = M.parse_marc_any(F.col("__norm_src"))
    df = df.withColumn("__marc", marc)
    m = F.col("__marc")
    variants: dict[tuple[bool, bool, bool], list[str]] = {}
    for sid, cfg in sources.items():
        p = cfg.driver_params
        koha = _truthy(p.get("kohaNormalization", False))
        alma = _truthy(p.get("almaNormalization", False))
        home = _truthy(p.get("kohaUseHomeBranch", False))
        if koha or alma:
            variants.setdefault((koha, alma, home), []).append(sid)
    norm = m
    for (koha, alma, home), sids in variants.items():
        norm = F.when(
            src.isin(sids),
            MN.normalize_marc(
                m, koha=koha, alma=alma, koha_use_home_branch=home
            ),
        ).otherwise(norm)
    mn = m

    # (3) suppression -> deleted (AbstractRecord::getSuppressed over the
    # per-source suppressOnField map; fields resolve against the solr
    # projection, here the standard title/author/format columns).
    # Only the fields some source's filter map actually references are
    # built: each unreferenced field is a multi-KB fieldspec tree the
    # analyzer would otherwise pay for on every submission (opt r12).
    sup_builders = {
        "title": lambda: TX(tw.marc_title(tm)),
        "author": lambda: TX(tw.marc_main_author(tm)),
        "format": lambda: F.coalesce(
            TX(tw.first_subfield(tm, "977", "a")), F.lit("")
        ),
    }
    referenced = {
        f
        for cfg in sources.values()
        if isinstance(cfg.raw.get("suppressOnField"), dict)
        for f in cfg.raw["suppressOnField"]
        if f in sup_builders
    }
    tmp = df
    for name in sup_builders:
        if name in referenced:
            tmp = tmp.withColumn("__sup_" + name, sup_builders[name]())
    suppressed = F.lit(False)
    for sid, cfg in sources.items():
        filters = cfg.raw.get("suppressOnField")
        if not isinstance(filters, dict) or not filters:
            continue
        # filters rebased onto the __sup_ temp columns: plain-named
        # projections could shadow real record columns of the same name
        cond = suppressed_condition(
            tmp,
            {
                "__sup_" + f: v
                for f, v in filters.items()
                if f in sup_builders
            },
        )
        suppressed = suppressed | ((src == sid) & cond)
    df = tmp.withColumn("__suppressed", suppressed)
    deleted = F.coalesce(F.col("deleted"), F.lit(False)) | (
        is_marc & F.col("__suppressed")
    )

    # (4) host / linking ids (941$a shortcut, 773$w ladder; linking =
    # own 001 + 035$a system control numbers, 003 wrap under the param).
    # Each branch embeds a full copy of the host/linking fieldspec tree,
    # so branches are built ONLY for flag combinations some configured
    # source actually has; sources with default flags (and unknown
    # source ids) fall through to the single plain tree, exactly as the
    # always-4-branch chain resolved for them (opt r12: the benched
    # all-defaults config built 4 linking + 2 host copies to use one).
    p003_sids = [
        sid
        for sid, cfg in sources.items()
        if _truthy(cfg.driver_params.get("003InLinkingID", False))
    ]
    in999_sids = [
        sid
        for sid, cfg in sources.items()
        if _truthy(cfg.driver_params.get("idIn999", False))
    ]
    hosts = TX(tw.marc_host_record_ids(tm, prepend_003=False))
    if p003_sids:
        hosts = F.when(
            src.isin(p003_sids),
            TX(tw.marc_host_record_ids(tm, prepend_003=True)),
        ).otherwise(hosts)
    combos = {
        (sid in p003_sids, sid in in999_sids) for sid in sources
    } - {(False, False)}
    linking = TX(tw.linking_ids(tm))
    for p3, i9 in sorted(combos, reverse=True):
        sids = [
            sid
            for sid in sources
            if (sid in p003_sids, sid in in999_sids) == (p3, i9)
        ]
        linking = F.when(
            src.isin(sids),
            TX(tw.linking_ids(tm, prepend_003=p3, id_in_999=i9)),
        ).otherwise(linking)
    df = (
        df.withColumn(
            "host_record_id",
            F.when(is_marc, hosts).otherwise(
                _array_or_empty(df, "host_record_id")
            ),
        )
        .withColumn(
            "linking_id",
            F.when(is_marc, linking).otherwise(
                _array_or_empty(df, "linking_id")
            ),
        )
        .withColumn("deleted", deleted)
    )

    # (5) dedup candidate keys (DedupHandler::updateDedupCandidateKeys)
    dedup_src = _per_source_flag(sources, lambda c: c.dedup, src)
    eligible = (
        dedup_src
        & (F.size(F.col("host_record_id")) == 0)
        & ~F.col("deleted")
    )
    # stash the STORED keys first: with_dedup_keys overwrites
    # title_keys/isbn_keys, and a plain F.col("title_keys") in the
    # change test would resolve against the new values (always-equal)
    df = (
        df.withColumn("__old_tk", _array_or_empty(df, "title_keys"))
        .withColumn("__old_ik", _array_or_empty(df, "isbn_keys"))
        .withColumn("__old_idk", _array_or_empty(df, "id_keys"))
        .withColumn("__title", TX(tw.marc_title(tm, for_filing=True)))
        .withColumn(
            "__author",
            try_first_comma_part(TX(tw.marc_main_author(tm))),
        )
        .withColumn("__isbns", TX(tw.marc_isbns(tm)))
    )
    keyed = with_dedup_keys(df, "__title", "__author", isbn_col="__isbns")
    new_title = F.when(
        (F.col("__title") != "") & (F.col("__author") != ""),
        F.col("title_keys"),
    ).otherwise(F.array().cast("array<string>"))
    new_isbn = F.coalesce(
        F.col("isbn_keys"), F.array().cast("array<string>")
    )
    # let-bound: the unique-ids fieldspec tree is read twice (id_keys
    # value + the changed test) — as a bound attribute it is analyzed
    # once instead of inlined per reference (opt r12)
    keyed = keyed.withColumn(
        "__new_idk",
        TX(
            SA.transform(
                tw.marc_unique_ids(tm),
                lambda k: SA.substring(k, 1, 200),
            )
        ),
    )
    new_ids = F.col("__new_idk")
    old_title = F.col("__old_tk")
    old_isbn = F.col("__old_ik")
    old_ids = F.col("__old_idk")
    changed = (
        _keys_differ(old_title, new_title)
        | _keys_differ(old_isbn, new_isbn)
        | _keys_differ(old_ids, new_ids)
    )
    empty = F.array().cast("array<string>")
    stored_un = (
        F.coalesce(F.col("update_needed"), F.lit(False))
        if "update_needed" in records.columns
        else F.lit(False)
    )
    out = (
        keyed.withColumn(
            "title_keys",
            F.when(~is_marc, old_title)
            .when(eligible, new_title)
            .otherwise(empty),
        )
        .withColumn(
            "isbn_keys",
            F.when(~is_marc, old_isbn)
            .when(eligible, new_isbn)
            .otherwise(empty),
        )
        .withColumn(
            "id_keys",
            F.when(~is_marc, old_ids)
            .when(eligible, new_ids)
            .otherwise(empty),
        )
        .withColumn(
            "update_needed",
            F.when(~is_marc, stored_un)
            .when(eligible, changed)
            .otherwise(F.lit(False)),
        )
    )
    if "dedup_id" in records.columns:
        # non-eligible MARC records leave their dedup group (the
        # reference's removeFromDedupRecord + unset)
        out = out.withColumn(
            "dedup_id",
            F.when(is_marc & ~eligible, F.lit(None)).otherwise(
                F.col("dedup_id")
            ),
        )

    # (6) normalized_data: the re-serialized record (the one consumer
    # of the driver-normalized struct), '' when identical to the stored
    # original (StoreRecordTrait semantics).
    #
    # Serialization runs as a mapInArrow STAGE, not a column UDF: the
    # normalize chain contains nested HOF lambdas capturing an outer
    # lambda variable through HOF-derived arrays, and Spark's
    # ExtractPythonUDFs fails to lift a Python UDF whose argument
    # embeds that shape (runtime INTERNAL_ERROR "Cannot evaluate
    # expression"). A map stage takes the struct as a materialized
    # child attribute — same Arrow batch path, zero shuffles, no
    # argument extraction involved. mapInArrow rather than mapInPandas
    # (r13, guide §4.1/§4.2): only the four columns the serializer
    # reads cross into Python objects (C-level ``to_pylist``); every
    # passthrough column rides the Arrow batch untouched. The pandas
    # form converted EVERY column both ways per batch — profiled at
    # ~24 s core-time of ``arrow_to_pandas`` + 8 s of PySpark's
    # Python-level struct→dict converter against ~2.6 s of actual
    # serialize+json work (UDF profile probe at sf0.1, in git history).
    out = (
        out.withColumn("__marc_norm", norm)
        .withColumn("__is_marc", is_marc)
        .withColumn("normalized_data", F.lit(None).cast("string"))
    )
    carry = {"__marc_norm", "__is_marc", "__norm_src"}
    drop = [
        c for c in out.columns
        if c.startswith("__") and c not in carry
    ]
    out = out.drop(*drop)
    from ..extractors.marc import _marc_structs_to_py, _serialize_one

    keep = [c for c in out.columns if c not in carry]
    schema_out = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in out.schema.fields
        if f.name not in carry
    )
    data_idx = data_col

    def _ser_batches(batches):
        import pyarrow as pa

        def one(m, orig, mk, nsrc):
            if not mk:
                # non-MARC: normalized_data is the XSLT output
                # ('' when identical — no stylesheet means equal)
                if nsrc is None:
                    return None
                return "" if nsrc == orig else nsrc
            if m is None:
                return None  # null struct (unparseable record)
            ser = _serialize_one(m)
            return "" if ser == orig else ser

        for batch in batches:
            idx = {n: i for i, n in enumerate(batch.schema.names)}
            vals = [
                one(m, o, mk, ns)
                for m, o, mk, ns in zip(
                    # flat-cursor tuples, not nested as_py dicts (r13;
                    # see _marc_structs_to_py) — _serialize_one unpacks
                    # both shapes identically
                    _marc_structs_to_py(batch.column(idx["__marc_norm"])),
                    batch.column(idx[data_idx]).to_pylist(),
                    batch.column(idx["__is_marc"]).to_pylist(),
                    batch.column(idx["__norm_src"]).to_pylist(),
                )
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vals, type=pa.string())
                    if n == "normalized_data"
                    else batch.column(idx[n])
                    for n in keep
                ],
                names=keep,
            )

    out = out.mapInArrow(_ser_batches, schema=schema_out)

    # (7) stamp
    if now is not None:
        out = out.withColumn("updated", F.lit(now))
    return out


def try_first_comma_part(author: Column) -> Column:
    """authorParts = preg_split('/,\\s/', author)[0]
    (DedupHandler.php:320) — the surname half feeding normalizeKey."""
    return try_element_at(F.split(author, ",\\s"), 1)
