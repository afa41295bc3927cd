"""Load extractor spec modules against the SQL-text algebra.

The fieldspec/normalization specs (``extractors/marc.py``,
``extractors/format_calculator.py``, ``functions/keys.py``,
``functions/geo.py``) are written once, against the ``pyspark.sql.
functions`` API. This module re-executes their UNMODIFIED source with
the ``F`` global (and the few cross-module spec imports) rebound to
:mod:`recordmanager_spark.sqlalg`, producing "twin" modules whose
functions emit SQL text instead of py4j Column trees.

Rebinding works because Python functions resolve module globals at CALL
time: the module body executes normally (real imports, real pandas_udf
decorators — those objects are simply never invoked through the twin),
and afterwards the names the spec functions look up (``F``, ``K``,
``GEOF``, ``format_col``, ``try_element_at``) are swapped for their
SQL-text counterparts.

The twins are built lazily and cached; building one costs a few ms of
pure Python. ``extractors/marc.py`` consults :func:`marc_twin` to
compile each Solr column / work-key tree as ONE ``F.expr`` call —
turning ~25k py4j round trips of plan construction into one parse.
"""

from __future__ import annotations

import importlib.util
import types

from . import sqlalg as S

_CACHE: dict[str, types.ModuleType] = {}


def _load(modname: str, overrides: dict) -> types.ModuleType:
    if modname in _CACHE:
        return _CACHE[modname]
    spec = importlib.util.find_spec(modname)
    src = spec.loader.get_source(modname)
    mod = types.ModuleType(modname + "_sqltwin")
    mod.__package__ = modname.rpartition(".")[0]
    mod.__file__ = spec.origin or (modname + "_sqltwin")
    exec(compile(src, mod.__file__, "exec"), mod.__dict__)
    mod.__dict__.update(overrides)
    _CACHE[modname] = mod
    return mod


def keys_twin() -> types.ModuleType:
    return _load(
        "recordmanager_spark.functions.keys",
        {"F": S, "try_element_at": S.try_element_at},
    )


def geo_twin() -> types.ModuleType:
    return _load("recordmanager_spark.functions.geo", {"F": S})


def format_calculator_twin() -> types.ModuleType:
    return _load(
        "recordmanager_spark.extractors.format_calculator", {"F": S}
    )


def dedup_twin() -> types.ModuleType:
    """operators/dedup re-executed against the SQL-text algebra.

    Only the pure expression builders are meaningful through this twin
    (``_match_condition_from`` / ``match_condition`` — the matchRecords
    verify tree); the DataFrame-shaping functions still reference the
    real pyspark DataFrame API and must not be called on the twin."""
    kt = keys_twin()
    return _load(
        "recordmanager_spark.operators.dedup",
        {
            "F": S,
            "try_element_at": S.try_element_at,
            "author_match_expr": kt.author_match_expr,
            "normalize_key": kt.normalize_key,
        },
    )


def marc_twin() -> types.ModuleType:
    return _load(
        "recordmanager_spark.extractors.marc",
        {
            "F": S,
            "K": keys_twin(),
            "GEOF": geo_twin(),
            "format_col": format_calculator_twin().format_col,
            "try_element_at": S.try_element_at,
            "_IS_SQL_TWIN": True,
        },
    )
