"""Dictionary mapping & field rules — declarative column rewrites.

Behavioral spec (reference, NOT code):
- Utils/FieldMapper.php:145-300 — per-field value maps with types
  ``normal`` (exact key), ``regexp`` (first matching pattern wins),
  ``regexp-multi`` (all matching patterns contribute); sentinels
  ``##default`` (unmatched value replacement), ``##empty`` /
  ``##emptyarray`` (value when the field is empty), ``##mappedempty`` /
  ``##mappedemptyarray`` (value when mapping produced nothing);
  multi-level hierarchy values are mapped per level and joined with '/'.
- Utils/FieldMapper.php:310-351 — mapping file parser (``key = value``
  lines, ``key[] = value`` accumulates multiple replacement values).
- Solr/SolrUpdater.php:2440-2543 — field rules ``copy|move|delete src
  [dst] [match="..."] [default="..."]`` executed before mappings.

Spark-first: a mapping compiles ONCE (driver side) into a JVM Column
expression — a ``map()`` literal lookup for `normal`, a CASE chain of
``rlike``/``regexp_replace`` for the regexp types — so applying a mapping to
100 TB of rows is a narrow projection with no shuffle, no UDF, and no
broadcast table needed below thousands of entries (literal maps ship inside
the plan; use a broadcast-join variant beyond that).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SENTINELS = (
    "##default",
    "##empty",
    "##emptyarray",
    "##mappedempty",
    "##mappedemptyarray",
)


@dataclass
class Mapping:
    """One parsed mapping table (a ``mappings/*.map`` file equivalent)."""

    name: str
    type: str = "normal"  # normal | regexp | regexp-multi
    # insertion-ordered (pattern order is semantic for regexp types);
    # each key maps to the list of replacement values (key[] accumulates)
    entries: dict[str, list[str]] = field(default_factory=dict)
    # per-hierarchy-level overrides (mappingFile[$index] in the reference)
    sub_maps: list["Mapping"] = field(default_factory=list)

    def sentinel(self, name: str) -> list[str] | None:
        return self.entries.get(name)


def parse_map_file(name: str, text: str, type: str = "normal") -> Mapping:
    """Parse ``key = value`` lines (FieldMapper.php:310-351)."""
    m = Mapping(name=name, type=type)
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith(";") or line.startswith("#") and not line.startswith("##"):
            continue
        if "=" not in line:
            continue
        # ' = ' splits first so keys may themselves contain '='
        # ('fi=val4 = c' → key 'fi=val4'); bare '=' is the fallback
        # (FieldMapper.php readMappingFile)
        if " = " in line:
            key, _, value = line.partition(" = ")
        else:
            key, _, value = line.partition("=")
        key = key.strip()
        value = value.strip()
        if key.endswith("[]"):
            m.entries.setdefault(key[:-2], []).append(value)
        else:
            m.entries[key] = [value]
    return m


def _php_repl_to_java(repl: str) -> str:
    """PCRE replacement → Java: ``\\1`` becomes ``$1``; a literal ``$`` not
    followed by a digit is escaped (Java would reject it as a bad group ref).
    """
    out = re.sub(r"\\(\d)", r"$\1", repl)
    return re.sub(r"\$(?!\d)", r"\\$", out)


def _regexp_value_expr(v: Column, mapping: Mapping) -> Column:
    """Map one scalar value through a regexp/regexp-multi mapping → array."""
    pairs = [
        (pat, [_php_repl_to_java(r) for r in repls])
        for pat, repls in mapping.entries.items()
        if pat not in SENTINELS
    ]
    default = mapping.sentinel("##default")
    fallback = F.array(*[F.lit(d) for d in default]) if default else F.array(v)
    if mapping.type == "regexp-multi":
        parts = [
            F.when(
                v.rlike(pat),
                F.array(*[F.regexp_replace(v, pat, r) for r in repls]),
            ).otherwise(F.array())
            for pat, repls in pairs
        ]
        allm = F.concat(*parts) if parts else F.array()
        return F.when(F.size(allm) > 0, allm).otherwise(fallback)
    # regexp: first matching pattern wins
    expr = fallback
    for pat, repls in reversed(pairs):
        expr = F.when(
            v.rlike(pat), F.array(*[F.regexp_replace(v, pat, r) for r in repls])
        ).otherwise(expr)
    return expr


def _normal_value_expr(v: Column, mapping: Mapping) -> Column:
    """Exact-key lookup → array of replacement values."""
    pairs = [
        (k, vs) for k, vs in mapping.entries.items() if k not in SENTINELS
    ]
    if pairs:
        kv: list[Column] = []
        for k, vs in pairs:
            kv.append(F.lit(k))
            kv.append(F.array(*[F.lit(x) for x in vs]))
        lookup = F.create_map(*kv)[v]
    else:
        lookup = F.lit(None).cast(T.ArrayType(T.StringType()))
    default = mapping.sentinel("##default")
    fallback = F.array(*[F.lit(d) for d in default]) if default else F.array(v)
    return F.coalesce(lookup, fallback)


def map_value_expr(v: Column, mapping: Mapping) -> Column:
    """FieldMapper::mapValue for a scalar value: returns array<string>."""
    if mapping.type in ("regexp", "regexp-multi"):
        return _regexp_value_expr(v, mapping)
    return _normal_value_expr(v, mapping)


def map_array_column(col: Column, mapping: Mapping) -> Column:
    """FieldMapper::mapValues for one array<string> field.

    Maps every element, flattens multi-value replacements, drops empties,
    dedups, then applies the empty/mappedempty sentinels.
    """
    mapped = F.flatten(F.transform(col, lambda v: map_value_expr(v, mapping)))
    mapped = F.array_distinct(F.filter(mapped, lambda x: x != ""))
    me = mapping.sentinel("##mappedempty") or mapping.sentinel("##mappedemptyarray")
    if me:
        mapped = F.when(
            (F.size(col) > 0) & (F.size(mapped) == 0),
            F.array(*[F.lit(x) for x in me]),
        ).otherwise(mapped)
    empty = mapping.sentinel("##empty") or mapping.sentinel("##emptyarray")
    src_empty = col.isNull() | (F.size(col) == 0)
    if empty:
        return F.when(src_empty, F.array(*[F.lit(x) for x in empty])).otherwise(
            mapped
        )
    return F.when(src_empty, F.coalesce(col, F.array())).otherwise(mapped)


# ---------------------------------------------------------------------------
# Field rules (SolrUpdater.php:2440-2543)
# ---------------------------------------------------------------------------

_RULE_RE = re.compile(r'^(match|default)="([^"]*)"\s*')


@dataclass
class FieldRule:
    op: str  # copy | move | delete
    src: str
    dst: str | None = None
    match: str | None = None
    default: str | None = None


def parse_field_rule(rule_str: str) -> FieldRule:
    parts = rule_str.split(" ")
    op = parts.pop(0)
    if op not in ("copy", "move", "delete"):
        raise ValueError(f"Invalid field rule op: {rule_str!r}")
    if not parts:
        raise ValueError(f"Invalid field rule: {rule_str!r}")
    src = parts.pop(0)
    if op != "delete" and not parts:
        raise ValueError(f"Invalid field rule: {rule_str!r}")
    dst = parts.pop(0) if op != "delete" else None
    rule = FieldRule(op=op, src=src, dst=dst)
    params = " ".join(parts)
    offset = 0
    while True:
        m = _RULE_RE.match(params[offset:])
        if not m:
            break
        setattr(rule, m.group(1), m.group(2))
        offset += m.end()
    extra = params[offset:].strip()
    if extra:
        if rule.default is not None:
            raise ValueError(f"Could not parse field rule params: {rule_str!r}")
        rule.default = extra
    return rule


def _match_filter(values: Column, match: str) -> Column:
    is_re = match.startswith("/") and (match.endswith("/") or match.endswith("/i"))
    if is_re:
        pat = match[1 : match.rindex("/")]
        if match.endswith("/i"):
            pat = "(?i)" + pat
        return F.filter(values, lambda v: v.rlike(pat))
    return F.filter(values, lambda v: v == match)


def apply_field_rules(df: DataFrame, rules: list[str | FieldRule]) -> DataFrame:
    """Execute copy/move/delete rules over array<string> columns.

    Missing destination columns are created; a scalar string src/dst is
    handled as a 1-element array (the reference's ``(array)`` casts).
    Rules run strictly in order, each seeing the previous rule's output.
    """
    empty_arr = F.array().cast(T.ArrayType(T.StringType()))
    for rule in rules:
        if isinstance(rule, str):
            rule = parse_field_rule(rule)
        has_src = rule.src in df.columns
        if not has_src and rule.default is None:
            continue
        if has_src:
            src_dtype = df.schema[rule.src].dataType
            src_vals = (
                F.coalesce(F.col(rule.src), empty_arr)
                if isinstance(src_dtype, T.ArrayType)
                else F.when(
                    F.col(rule.src).isNotNull() & (F.col(rule.src) != ""),
                    F.array(F.col(rule.src)),
                ).otherwise(empty_arr)
            )
        else:
            src_vals = empty_arr
        matching = _match_filter(src_vals, rule.match) if rule.match else src_vals
        # default kicks in when there are no source values at all
        new_vals = (
            F.when(F.size(matching) > 0, matching).otherwise(
                F.array(F.lit(rule.default))
            )
            if rule.default is not None
            else matching
        )
        if rule.op in ("copy", "move") and rule.dst:
            if rule.dst in df.columns:
                dst_dtype = df.schema[rule.dst].dataType
                cur = (
                    F.coalesce(F.col(rule.dst), empty_arr)
                    if isinstance(dst_dtype, T.ArrayType)
                    else F.when(
                        F.col(rule.dst).isNotNull(), F.array(F.col(rule.dst))
                    ).otherwise(empty_arr)
                )
                df = df.withColumn(rule.dst, F.concat(cur, new_vals))
            else:
                df = df.withColumn(rule.dst, new_vals)
        if rule.op in ("move", "delete") and has_src:
            if rule.match:
                # only matching values are removed (array_diff)
                remaining = F.array_except(src_vals, matching)
                # when nothing matched, the rule is a no-op on src
                df = df.withColumn(
                    rule.src,
                    F.when(F.size(matching) > 0, remaining).otherwise(src_vals),
                )
            else:
                df = df.withColumn(rule.src, empty_arr)
    return df
