"""Final field normalization & synthesis (the pre-sink cleanup stage).

Behavioral spec (reference, NOT code):
- Solr/SolrUpdater.php:2300-2333 — hierarchical facet encoding
  ``a/b/c`` → ``0/a/``, ``1/a/b/``, ``2/a/b/c/``.
- Solr/SolrUpdater.php:2335-2358 — allfields synthesis: union of all field
  values minus control fields, case-insensitively uniqued
  (MetadataUtils::array_iunique).
- Solr/SolrUpdater.php:2399-2430 — per-field cleanup: Unicode
  normalization (NFKC by default), per-field length limits with wildcard
  keys, removal of configured non-indexed values, per-field dedup.
- Solr/SolrUpdater.php:2554-2600 — institution-in-building prefixing.
- Solr/SolrUpdater.php:2360-2367 — first/last_indexed ISO timestamps.

Spark-first: everything except the Unicode normal form is a JVM array
expression. NFKC has no Spark SQL builtin, so it is an Arrow-batched pandas
UDF applied only to columns that need it. Every value of such a column
crosses to Python; inside the UDF, pure-ASCII values (``str.isascii``,
for which NFKC is the identity) skip the normalization. A JVM-side guard
would not spare the crossing: Spark evaluates a Python UDF in a CASE
branch unconditionally (see ``_nfkc_one``).
"""

from __future__ import annotations

import unicodedata
from fnmatch import fnmatch

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..functions.keys import array_iunique


def hierarchical_facet_value(value: Column) -> Column:
    """One 'a/b/c' string → ['0/a/', '1/a/b/', '2/a/b/c/']."""
    parts = F.split(value, "/")
    return F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.concat(
            (i - 1).cast("string"),
            F.lit("/"),
            F.array_join(F.slice(parts, 1, i), "/"),
            F.lit("/"),
        ),
    )


def hierarchical_facet(col: Column) -> Column:
    """Array of path strings → flattened facet encodings ('' values skipped)."""
    return F.flatten(
        F.transform(
            F.filter(F.coalesce(col, F.array()), lambda v: v != ""),
            hierarchical_facet_value,
        )
    )


# Fields excluded from allfields (SolrUpdater.php:2343-2347)
ALLFIELDS_EXCLUDED = ("fullrecord", "thumbnail", "id", "recordtype", "record_format", "ctrlnum")


def allfields(df: DataFrame) -> Column:
    """Union of the values of every column outside ALLFIELDS_EXCLUDED,
    case-insensitively uniqued.

    Scalars contribute themselves; array columns contribute each element.
    """
    cols = [
        f.name for f in df.schema.fields if f.name not in ALLFIELDS_EXCLUDED
    ]
    parts = []
    for name in cols:
        dt = df.schema[name].dataType
        if isinstance(dt, T.ArrayType):
            parts.append(F.coalesce(F.col(name).cast(T.ArrayType(T.StringType())), F.array()))
        else:
            c = F.col(name).cast("string")
            parts.append(F.when(c.isNotNull(), F.array(c)).otherwise(F.array()))
    return array_iunique(F.concat(*parts))


def _nfkc_one(v):
    # str.isascii is a C-level check; NFKC is identity on ASCII, so the
    # fast path costs one flag test per string. (A JVM-side when/otherwise
    # guard would NOT help: Spark extracts Python UDFs out of CASE branches
    # and evaluates them unconditionally — and nesting them in conditional
    # branches can even fail codegen on complex inputs.)
    if isinstance(v, str) and not v.isascii():
        return unicodedata.normalize("NFKC", v)
    return v


@pandas_udf(T.StringType())
def _nfkc(values: pd.Series) -> pd.Series:
    return values.map(_nfkc_one)


@pandas_udf(T.ArrayType(T.StringType()))
def _nfkc_arr(values: pd.Series) -> pd.Series:
    return values.map(
        lambda arr: None if arr is None else [_nfkc_one(v) for v in arr]
    )


def normalize_unicode(col: Column) -> Column:
    """NFKC-normalize a string column (ASCII fast path inside the UDF)."""
    return _nfkc(col)


def normalize_unicode_array(col: Column) -> Column:
    """NFKC over array<string>. Python UDFs can't appear inside higher-order
    lambdas, so the UDF takes the whole array."""
    return _nfkc_arr(col)


def _limit_for(field: str, limits: dict[str, int]) -> int | None:
    """Per-field length limit with '*' wildcard keys and __default__."""
    if field in limits:
        return limits[field]
    for key, lim in limits.items():
        if key == "__default__":
            continue
        if "*" in key and fnmatch(field, key):
            return lim
    return limits.get("__default__")


def normalize_fields(
    df: DataFrame,
    limits: dict[str, int] | None = None,
    non_indexed: list[str] | None = None,
    barrier: bool = False,
) -> DataFrame:
    """The normalizeFields pass over string / array<string> columns.

    ``barrier=True`` inserts a streaming Arrow identity pass before the
    NFKC UDFs. Required when the input columns are *derived expressions*
    containing higher-order aggregates (e.g. straight off the MARC
    extractor without materializing): Spark cannot extract a Python UDF
    from a projection whose input subtree holds lambda functions, and
    fails with INTERNAL_ERROR at runtime. Plain table columns (the normal
    pre-sink case, where extraction was persisted first) don't need it.
    """
    if barrier:
        df = df.mapInArrow(lambda batches: batches, df.schema)
    limits = limits or {}
    non_indexed = non_indexed or []
    cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.StringType)
        or (
            isinstance(f.dataType, T.ArrayType)
            and isinstance(f.dataType.elementType, T.StringType)
        )
    ]
    updates: dict[str, Column] = {}
    for name in cols:
        if name == "fullrecord":
            continue
        lim = _limit_for(name, limits)
        dt = df.schema[name].dataType
        if isinstance(dt, T.ArrayType):
            c = normalize_unicode_array(F.col(name))
            if lim:
                c = F.transform(c, lambda v: F.substring(v, 1, lim))
            if non_indexed:
                c = F.array_except(c, F.array(*[F.lit(x) for x in non_indexed]))
            updates[name] = F.array_distinct(c)
        else:
            c = normalize_unicode(F.col(name))
            if lim:
                c = F.substring(c, 1, lim)
            if non_indexed:
                c = F.when(c.isin(non_indexed), F.lit(None)).otherwise(c)
            updates[name] = c
    return df.withColumns(updates)


def add_institution_to_building(
    df: DataFrame,
    institution: str,
    building_fields: list[str] | None = None,
) -> DataFrame:
    """Prepend 'institution/' to every building path (SolrUpdater:2554-2600).

    Empty values stay empty except in `building` itself, where they become
    the bare institution; a missing/empty `building` column becomes
    [institution].
    """
    building_fields = building_fields or ["building"]
    updates: dict[str, Column] = {}
    for name in building_fields:
        is_building = name == "building"
        if name not in df.columns:
            if is_building:
                updates[name] = F.array(F.lit(institution))
            continue
        col = F.coalesce(F.col(name), F.array())
        prefixed = F.transform(
            col,
            lambda b: F.when(b != "", F.concat(F.lit(institution + "/"), b)).otherwise(
                F.lit(institution) if is_building else b
            ),
        )
        if is_building:
            updates[name] = F.when(F.size(col) > 0, prefixed).otherwise(
                F.array(F.lit(institution))
            )
        else:
            updates[name] = prefixed
    return df.withColumns(updates)


def indexed_timestamps(df: DataFrame, created: str = "created", date: str = "date") -> DataFrame:
    """first_indexed/last_indexed as ISO-8601 Zulu strings (formatTimestamp)."""
    fmt = "yyyy-MM-dd'T'HH:mm:ss'Z'"
    return df.withColumns(
        {
            "first_indexed": F.date_format(F.col(created), fmt),
            "last_indexed": F.date_format(F.col(date), fmt),
        }
    )
