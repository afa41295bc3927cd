"""datasources.ini configuration compiler — the reference's per-source
settings surface, compiled into this engine's operators.

Behavioral spec (reference, NOT code): ``conf/datasources.ini.sample``
(the documented key inventory), ``Base/Utils/FieldMapper.php`` (the
``{field}_mapping[]`` main-map + per-hierarchy-level sub-map layout),
``Base/Solr/SolrUpdater.php`` initSourceSettings (driverParams,
fieldRules, extraFields, institutionInBuilding, componentParts), and
``Base/Command/Util/IniFileTrait.php`` (the PHP ini dialect: ``key[] =``
appends, ``key[sub] =`` maps, optional double quotes, ``;`` comments).

A user migrating from the reference points this module at their
existing datasources.ini and mapping files; ``compile_source`` returns
the parsed field rules / Mapping objects / driver params, and
``apply_source_pipeline`` runs the post-extraction tail (field rules →
mappings → institution-in-building → extra fields) exactly as
SolrUpdater orders them.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .plans import mapping as MP


_SECTION_RE = re.compile(r"^\[([^\]]+)\]\s*$")
_KV_RE = re.compile(r"^([^=\[\];]+?)(\[([^\]]*)\])?\s*=\s*(.*)$")


def _unquote(v: str) -> str:
    v = v.strip()
    if len(v) >= 2 and v[0] == v[-1] and v[0] in ("'", '"'):
        return v[1:-1]
    return v


def _ini_value(v: str) -> str:
    """One raw right-hand side -> value: a quoted value keeps everything
    inside the quotes (including ';'); an unquoted value ends at the
    first ';' — PHP's parse_ini_file drops inline comments, and the
    sources-search normalization depends on matching that (`a = b ; n`
    is the setting ``a=b``, never ``a=b ; n``)."""
    v = v.strip()
    if v and v[0] in ("'", '"'):
        end = v.find(v[0], 1)
        if end != -1:
            return v[1:end]
    return v.split(";", 1)[0].strip()


def _parse_php_ini(text: str) -> dict[str, dict]:
    """PHP-ini dialect: sections, ``key = v``, ``key[] = v`` (append),
    ``key[sub] = v`` (map), ``;``/``#`` comments, optional quotes."""
    out: dict[str, dict] = {}
    cur: dict | None = None
    for raw_line in text.splitlines():
        line = raw_line.strip()
        if not line or line.startswith(";") or line.startswith("#"):
            continue
        m = _SECTION_RE.match(line)
        if m:
            cur = out.setdefault(m.group(1), {})
            continue
        if cur is None:
            continue
        m = _KV_RE.match(line)
        if not m:
            continue
        key, bracket, sub, val = (
            m.group(1).strip(), m.group(2), m.group(3), _ini_value(m.group(4)),
        )
        if bracket is None:
            cur[key] = val
        elif sub:
            existing = cur.get(key)
            if not isinstance(existing, dict):
                # scalar/list previously assigned under this key: the
                # map form wins, like a PHP re-assignment (permissive,
                # never a crash — r11 hypothesis finding)
                cur[key] = {}
            cur[key][sub] = val
        else:
            existing = cur.get(key)
            if isinstance(existing, list):
                existing.append(val)
            elif existing is None:
                cur[key] = [val]
            else:
                # `k = a` followed by `k[] = b`: promote the scalar to
                # a single-element array and append (lossless; PHP
                # discards the scalar with a notice — we keep it, the
                # permissive-never-crash stance the engine takes
                # everywhere; mixed forms never appear in real configs)
                cur[key] = [existing, val]
    return out


def _bool(v, default: bool = False) -> bool:
    if v is None:
        return default
    if isinstance(v, bool):
        return v
    return str(v).strip().lower() in ("true", "1", "yes", "on")


@dataclass
class SourceConfig:
    """One [section] of datasources.ini, normalized."""

    id: str
    institution: str = ""
    format: str = ""
    id_prefix: str | None = None  # defaults to the section name
    dedup: bool = False
    record_xpath: str | None = None
    driver_params: dict = field(default_factory=dict)
    field_rules: list[str] = field(default_factory=list)
    extra_fields: list[tuple[str, str]] = field(default_factory=list)
    # field -> [(map_file, map_type), ...]; first = main, rest = per-level
    mappings: dict[str, list[tuple[str, str]]] = field(default_factory=dict)
    institution_in_building: str = "institution"
    component_parts: str = "as_is"
    index_unprefixed_ids: bool = False
    # Solr-only id prefix (createSolrId, SolrUpdater.php:3145-3165):
    # replaces idPrefix in the INDEX id, never in the stored id
    solr_id_prefix: str | None = None
    # indexMergedParts (SolrUpdater.php:1922,2130): hidden (merged)
    # component parts index with hidden_component_boolean=true when on
    # (the default), and are skipped entirely when off
    index_merged_parts: bool = True
    id_search_replace: list[tuple[str, str]] = field(default_factory=list)
    normalization: str | None = None
    # XSLT producing the Solr fields for formats whose driver has no
    # toSolrArray (SolrUpdater.php:1407-1419 transformToSolrArray)
    solr_transformation: str | None = None
    # XSLT(s) applied to the whole import payload BEFORE record
    # splitting (PreTransformationTrait.php; e.g. strip_namespaces.xsl),
    # with source_id/institution/format/id_prefix stylesheet params
    pre_transformation: list[str] = field(default_factory=list)
    # XSLT(s) applied to each OAI-PMH response page before record
    # extraction (the oaipmhTransformation setting; same param set)
    oaipmh_transformation: list[str] = field(default_factory=list)
    record_splitter: str | None = None
    # recordSplitterParams[] k=v entries handed to the splitter's init
    # (StoreRecordTrait.php:91-103)
    record_splitter_params: dict = field(default_factory=dict)
    # enrichments[] "<Name>[,final]" entries (SolrUpdater.php:3070-3095):
    # stage '' runs before mapping, 'final' after the field pipeline
    enrichments: list[tuple[str, str]] = field(default_factory=list)
    # keepMissingHierarchyMembers (StoreRecordTrait.php:294): when false
    # (the default), re-importing a hierarchical record marks deleted
    # any previously-stored members of the same archive missing from
    # the new split
    keep_missing_hierarchy_members: bool = False
    full_text_xpaths: list[str] = field(default_factory=list)
    raw: dict = field(default_factory=dict)

    @property
    def effective_id_prefix(self) -> str:
        return self.id_prefix if self.id_prefix is not None else self.id


def parse_datasources_ini(text: str) -> dict[str, SourceConfig]:
    sources: dict[str, SourceConfig] = {}
    for section, kv in _parse_php_ini(text).items():
        cfg = SourceConfig(id=section, raw=kv)
        cfg.institution = kv.get("institution", "")
        cfg.format = kv.get("format", "")
        cfg.id_prefix = kv.get("idPrefix")
        cfg.dedup = _bool(kv.get("dedup"))
        cfg.record_xpath = kv.get("recordXPath")
        cfg.institution_in_building = kv.get(
            "institutionInBuilding", "institution"
        )
        cfg.component_parts = kv.get("componentParts", "as_is")
        cfg.index_unprefixed_ids = _bool(kv.get("indexUnprefixedIds"))
        cfg.solr_id_prefix = kv.get("solrIdPrefix")
        imp = kv.get("indexMergedParts")
        cfg.index_merged_parts = True if imp is None else _bool(imp)
        cfg.normalization = kv.get("normalization")
        cfg.solr_transformation = kv.get("solrTransformation")
        pt = kv.get("preTransformation")
        if pt:
            cfg.pre_transformation = pt if isinstance(pt, list) else [pt]
        ot = kv.get("oaipmhTransformation")
        if ot:
            cfg.oaipmh_transformation = (
                ot if isinstance(ot, list) else [ot]
            )
        cfg.record_splitter = kv.get("recordSplitter") or kv.get(
            "recordSplitterClass"
        )
        for p in kv.get("recordSplitterParams", []) or []:
            if "=" in p:
                k, v = p.split("=", 1)
                cfg.record_splitter_params[k.strip()] = _unquote(v)
        for e in kv.get("enrichments", []) or []:
            name, _, stage = e.partition(",")
            cfg.enrichments.append((name.strip(), stage.strip()))
        cfg.keep_missing_hierarchy_members = _bool(
            kv.get("keepMissingHierarchyMembers")
        )
        for p in kv.get("driverParams", []) or []:
            if "=" in p:
                k, v = p.split("=", 1)
                cfg.driver_params[k.strip()] = _unquote(v)
        cfg.field_rules = list(kv.get("fieldRules", []) or [])
        for ef in kv.get("extraFields", []) or []:
            if ":" in ef:
                f_, v = ef.split(":", 1)
                cfg.extra_fields.append((f_.strip(), v))
        searches = kv.get("idSearch", []) or []
        replaces = kv.get("idReplace", []) or []
        cfg.id_search_replace = list(zip(searches, replaces))
        ft = kv.get("fullTextXPaths")
        if ft:
            cfg.full_text_xpaths = ft if isinstance(ft, list) else [ft]
        for key, val in kv.items():
            if key.endswith("_mapping"):
                files = val if isinstance(val, list) else [val]
                parsed = []
                for entry in files:
                    name, _, typ = entry.partition(",")
                    parsed.append((name.strip(), (typ or "normal").strip()))
                cfg.mappings[key[: -len("_mapping")]] = parsed
        sources[section] = cfg
    return sources


@dataclass
class CompiledSource:
    """A SourceConfig with its file-backed pieces resolved."""

    config: SourceConfig
    field_rules: list
    mappings: dict[str, "MP.Mapping"]


def compile_source(
    cfg: SourceConfig, mapping_loader: Callable[[str], str]
) -> CompiledSource:
    """Resolve rules and mapping files. ``mapping_loader(filename) ->
    text`` is the injected file boundary (same pattern as the XSLT
    resolver / uriCache fetcher — the compiler itself never touches the
    filesystem)."""
    rules = [MP.parse_field_rule(r) for r in cfg.field_rules]
    mappings: dict[str, MP.Mapping] = {}
    for fld, files in cfg.mappings.items():
        main_name, main_type = files[0]
        main = MP.parse_map_file(
            main_name, mapping_loader(main_name), type=main_type
        )
        # FieldMapper: entries after the first are per-hierarchy-level
        # sub-mappings (building-style hierarchical values)
        main.sub_maps = [
            MP.parse_map_file(n, mapping_loader(n), type=t)
            for n, t in files[1:]
        ]
        mappings[fld] = main
    return CompiledSource(config=cfg, field_rules=rules, mappings=mappings)


def apply_source_pipeline(
    df: DataFrame,
    compiled: CompiledSource,
    hierarchical_facets: list[str] | None = None,
) -> DataFrame:
    """The SolrUpdater post-extraction tail, in its processing order:
    field rules first, then mappings, then institution-in-building
    prefixing, then extra fields (SolrUpdater.php processes fieldRules
    "in order before processing mappings and converting hierarchical
    facets"). Extraction itself stays with the per-format extractor —
    this composes the config-driven rewrites over its wide output."""
    from .operators import normalize as NZ

    cfg = compiled.config
    out = df
    out = MP.apply_field_rules(out, compiled.field_rules)
    for fld, mapping in compiled.mappings.items():
        if fld in out.columns:
            if dict(out.dtypes)[fld].startswith("array"):
                out = out.withColumn(
                    fld, MP.map_array_column(F.col(fld), mapping)
                )
            else:
                # scalar field: mapValue of the single value; a multi-
                # valued mapping result keeps its first entry (the
                # reference's scalar fields stay scalar)
                out = out.withColumn(
                    fld,
                    F.element_at(
                        MP.map_value_expr(F.col(fld), mapping), 1
                    ),
                )
    if cfg.institution and "building" in out.columns:
        if cfg.institution_in_building == "institution":
            out = NZ.add_institution_to_building(out, cfg.institution)
        elif cfg.institution_in_building == "source":
            out = NZ.add_institution_to_building(out, cfg.id)
        elif cfg.institution_in_building == "institution/source":
            out = NZ.add_institution_to_building(
                out, f"{cfg.institution}/{cfg.id}"
            )
        # "driver" and "none" leave the driver's building untouched
    for fld, val in cfg.extra_fields:
        if fld in out.columns:
            out = out.withColumn(
                fld, F.array_union(F.col(fld), F.array(F.lit(val)))
            )
        else:
            out = out.withColumn(fld, F.array(F.lit(val)))
    for facet in hierarchical_facets or []:
        if facet in out.columns:
            out = out.withColumn(facet, NZ.hierarchical_facet(F.col(facet)))
    return out
