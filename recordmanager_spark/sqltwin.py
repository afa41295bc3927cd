"""Load extractor spec modules against the SQL-text algebra.

The fieldspec/normalization specs (``extractors/marc.py``,
``extractors/format_calculator.py``, ``functions/keys.py``,
``functions/geo.py``, the matchRecords tree in ``operators/dedup.py``)
are written once, against the ``pyspark.sql.functions`` API, and never
branch on which algebra they run under. This module re-executes their
UNMODIFIED source with the ``F`` global (and the few cross-module spec
imports) rebound to :mod:`recordmanager_spark.sqlalg`, producing "twin"
modules whose functions emit SQL text instead of py4j Column trees.

Rebinding works because Python functions resolve module globals at CALL
time: the module body executes normally (real imports, real pandas_udf
decorators — those objects are simply never invoked through the twin),
and afterwards the names the spec functions look up (``F``, ``K``,
``GEOF``, ``format_col``, ``try_element_at``, ``author_match_expr``)
are swapped for their SQL-text counterparts. ``K`` carries
``keys.let1``, the one helper the specs bind a repeated value with.

The twins are built lazily and cached; building one costs a few ms of
pure Python. The production entry points take a column NAME and compile
each big tree through a twin as ONE ``F.expr`` call — turning ~25k py4j
round trips of plan construction into one parse: ``marc.to_solr_columns``,
``marc.work_keys``, ``marc.marc_callnumber_columns``, the renormalize
derivations, ``dedup.match_columns`` and the dedup key columns.
Running a spec on real Columns remains the parity reference in
``tests/test_sqltwin.py`` and ``tests/test_dedup.py``.
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
    return _load(
        "recordmanager_spark.functions.geo", {"F": S, "K": keys_twin()}
    )


def format_calculator_twin() -> types.ModuleType:
    return _load(
        "recordmanager_spark.extractors.format_calculator",
        {"F": S, "K": keys_twin()},
    )


def dedup_twin() -> types.ModuleType:
    """operators/dedup re-executed against the SQL-text algebra.

    Only ``_match_parts`` (the matchRecords verify trees over
    the pre-normalized ``__nk_title`` / ``__nk_author`` keys) is
    meaningful through this twin; the DataFrame-shaping functions still
    reference the real pyspark DataFrame API and must not be called on
    the twin."""
    return _load(
        "recordmanager_spark.operators.dedup",
        {
            "F": S,
            "try_element_at": S.try_element_at,
            "author_match_expr": keys_twin().author_match_expr,
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
        },
    )
