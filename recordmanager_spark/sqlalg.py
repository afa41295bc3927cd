"""SQL-text expression algebra — a py4j-free twin of the ``pyspark.sql.
functions`` subset the extractor specs use.

Why this exists: building a deep MARC fieldspec tree through the
element-wise Column API costs one py4j round trip per expression node —
the round-5 construction census measured ~25k round trips (~11 s) just
to BUILD ``work_keys_marc``'s plan, pure driver latency before a single
task runs. Every expression here is instead composed as a **SQL string**
in plain Python (microseconds) and crosses into the JVM exactly once,
via ``F.expr(text)`` at the plan boundary — the same remedy that fixed
the hyperplane sign tables and the kana fold map (PERFORMANCE.md,
"construction census").

How it is used: :mod:`recordmanager_spark.sqltwin` re-executes the
UNMODIFIED extractor spec modules (``extractors/marc.py``,
``functions/keys.py``, …) with their ``F`` global rebound to this
module, so the reference-parity logic exists exactly once; this module
only has to mirror the call surface those specs use. ``X`` mirrors
``Column`` operator semantics (``==`` builds an equality expression,
``&``/``|``/``~`` build boolean ops, etc.). Every composite is
parenthesized defensively so operator precedence can never differ from
the Column tree.

Parser-conf requirement (ADVICE r6): ``lit(str)``'s escaping assumes
the DEFAULT ``spark.sql.parser.escapedStringLiterals=false``. Under
the legacy conf every twin-compiled literal containing backslashes
(all the regex patterns) would silently change meaning. The canonical
session factory (``recordmanager_spark.session.get_spark``) pins the
conf to false; a deployment building its own SparkSession must do the
same before parsing any twin-compiled expression, or call
:func:`assert_parser_conf` once to fail fast.

Semantics notes (kept in lockstep with Column behavior):
- ``lit(str)`` escapes backslashes, quotes, and control chars so the
  SQL parser reconstructs the exact Python string (regex patterns
  survive verbatim);
- ``lit(float)`` renders as ``CAST(.. AS DOUBLE)`` — a bare SQL decimal
  literal would type as DECIMAL, unlike ``F.lit``;
- ``when(...)`` chains render one CASE WHEN, like ``F.when``;
- lambda arguments get globally unique variable names, so nested
  higher-order functions can never capture each other's variables.

A pytest parity sweep (tests/test_sqltwin.py) pins byte-identical
results between the twin-built ``F.expr`` plans and the original
Column-built plans on adversarial MARC fixtures.
"""

from __future__ import annotations

import inspect
import itertools
from typing import Callable, Iterable

_ctr = itertools.count()


def assert_parser_conf(spark) -> None:
    """Fail fast if the session's parser mode would mis-read the twin's
    escaped string literals (see the module docstring). One cheap conf
    read — call it once per foreign-built SparkSession."""
    v = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    if str(v).lower() != "false":
        raise RuntimeError(
            "spark.sql.parser.escapedStringLiterals is enabled: the "
            "SQL-text twin's literal escaping (sqlalg.lit) assumes the "
            "default parser mode — twin-compiled regex patterns would "
            "silently change meaning. Set the conf to false (the "
            "recordmanager_spark.session.get_spark factory pins it)."
        )


def _fresh() -> str:
    return f"V{next(_ctr)}"


def _esc(s: str) -> str:
    out = []
    for ch in s:
        o = ord(ch)
        if ch == "\\":
            out.append("\\\\")
        elif ch == "'":
            out.append("\\'")
        elif o < 0x20 or o == 0x7F:
            out.append(f"\\u{o:04X}")
        else:
            out.append(ch)
    return "".join(out)


def _x(v) -> str:
    """Render a value (X or Python scalar) to SQL text."""
    if isinstance(v, X):
        return v._render()
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v in (float("inf"), float("-inf")):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"CAST({v!r} AS DOUBLE)"
    if isinstance(v, str):
        return f"'{_esc(v)}'"
    raise TypeError(f"cannot render {type(v).__name__} as SQL")


class X:
    """A SQL expression fragment with Column-compatible operators."""

    __slots__ = ("_sql", "_name")

    def __init__(self, sql: str, name: str | None = None):
        self._sql = sql
        self._name = name

    def _render(self) -> str:
        return self._sql

    def __str__(self) -> str:
        return self._render()

    def __repr__(self) -> str:
        return f"X({self._render()!r})"

    def __bool__(self):
        raise ValueError(
            "Cannot convert SQL expression to bool (same rule as Column)"
        )

    def alias(self, name: str) -> "X":
        return X(self._render(), name)

    # --- binary / unary operators -------------------------------------
    def _bin(self, op: str, other, swap: bool = False) -> "X":
        a, b = _x(self), _x(other)
        if swap:
            a, b = b, a
        return X(f"({a} {op} {b})")

    def __eq__(self, other):  # type: ignore[override]
        return self._bin("=", other)

    def __ne__(self, other):  # type: ignore[override]
        return self._bin("<>", other)

    def __gt__(self, other):
        return self._bin(">", other)

    def __ge__(self, other):
        return self._bin(">=", other)

    def __lt__(self, other):
        return self._bin("<", other)

    def __le__(self, other):
        return self._bin("<=", other)

    def __and__(self, other):
        return self._bin("AND", other)

    def __rand__(self, other):
        return self._bin("AND", other, swap=True)

    def __or__(self, other):
        return self._bin("OR", other)

    def __ror__(self, other):
        return self._bin("OR", other, swap=True)

    def __invert__(self):
        return X(f"(NOT {_x(self)})")

    def __add__(self, other):
        return self._bin("+", other)

    def __radd__(self, other):
        return self._bin("+", other, swap=True)

    def __sub__(self, other):
        return self._bin("-", other)

    def __rsub__(self, other):
        return self._bin("-", other, swap=True)

    def __mul__(self, other):
        return self._bin("*", other)

    def __rmul__(self, other):
        return self._bin("*", other, swap=True)

    def __truediv__(self, other):
        return self._bin("/", other)

    def __mod__(self, other):
        return self._bin("%", other)

    def __neg__(self):
        return X(f"(- {_x(self)})")

    # --- Column methods ------------------------------------------------
    def __getitem__(self, key):
        if isinstance(key, str):
            return X(f"{_x(self)}.{key}")
        return X(f"{_x(self)}[{_x(key)}]")

    def isin(self, *vals) -> "X":
        flat = []
        for v in vals:
            if isinstance(v, (list, tuple, set)):
                flat.extend(v)
            else:
                flat.append(v)
        return X(f"({_x(self)} IN ({', '.join(_x(v) for v in flat)}))")

    def isNull(self) -> "X":
        return X(f"({_x(self)} IS NULL)")

    def isNotNull(self) -> "X":
        return X(f"({_x(self)} IS NOT NULL)")

    def cast(self, dtype: str) -> "X":
        return X(f"CAST({_x(self)} AS {dtype})")

    def try_cast(self, dtype: str) -> "X":
        return X(f"TRY_CAST({_x(self)} AS {dtype})")

    def rlike(self, pattern: str) -> "X":
        return X(f"({_x(self)} RLIKE {_x(pattern)})")

    def startswith(self, other) -> "X":
        return X(f"startswith({_x(self)}, {_x(other)})")

    def endswith(self, other) -> "X":
        return X(f"endswith({_x(self)}, {_x(other)})")

    def contains(self, other) -> "X":
        return X(f"contains({_x(self)}, {_x(other)})")

    def substr(self, pos, length) -> "X":
        return X(f"substring({_x(self)}, {_x(pos)}, {_x(length)})")

    def eqNullSafe(self, other) -> "X":
        return self._bin("<=>", other)

    def bitwiseXOR(self, other) -> "X":
        return X(f"({_x(self)} ^ {_x(other)})")

    def __hash__(self):  # X overrides __eq__; keep it usable in sets
        return hash(self._render())


class CaseX(X):
    """A CASE WHEN chain under construction (F.when semantics)."""

    __slots__ = ("_parts", "_else")

    def __init__(self, parts, else_=None):
        self._parts = parts
        self._else = else_
        super().__init__("", None)

    def _render(self) -> str:
        body = " ".join(
            f"WHEN {_x(c)} THEN {_x(v)}" for c, v in self._parts
        )
        tail = f" ELSE {_x(self._else)}" if self._else is not None else ""
        return f"(CASE {body}{tail} END)"

    def when(self, cond, value) -> "CaseX":
        return CaseX(self._parts + [(cond, value)], self._else)

    def otherwise(self, value) -> X:
        if value is None:
            # F.when(...).otherwise(None) keeps NULL else — same as no ELSE
            return X(self._render())
        return X(CaseX(self._parts, value)._render())


# ---------------------------------------------------------------------------
# Function namespace (the F twin)
# ---------------------------------------------------------------------------


def col(name) -> X:
    if isinstance(name, X):
        return name
    if not name.replace("_", "").replace(".", "").isalnum():
        parts = name.split(".")
        return X(".".join(f"`{p}`" for p in parts))
    return X(name)


column = col


def lit(v) -> X:
    return X(_x(v))


def expr(sql: str) -> X:
    return X(f"({sql})")


def _lam(fn: Callable) -> str:
    try:
        n = len(inspect.signature(fn).parameters)
    except (TypeError, ValueError):
        n = 1
    n = min(n, 2)
    vs = [X(_fresh()) for _ in range(n)]
    body = fn(*vs)
    if n == 1:
        return f"{vs[0]._render()} -> {_x(body)}"
    return f"({', '.join(v._render() for v in vs)}) -> {_x(body)}"


def _fn(name: str, *args) -> X:
    return X(f"{name}({', '.join(_x(a) for a in args)})")


def filter(arr, fn) -> X:  # noqa: A001 — mirrors F.filter
    return X(f"filter({_x(arr)}, {_lam(fn)})")


def transform(arr, fn) -> X:
    return X(f"transform({_x(arr)}, {_lam(fn)})")


def exists(arr, fn) -> X:
    return X(f"exists({_x(arr)}, {_lam(fn)})")


def forall(arr, fn) -> X:
    return X(f"forall({_x(arr)}, {_lam(fn)})")


def aggregate(arr, init, merge, finish=None) -> X:
    base = f"aggregate({_x(arr)}, {_x(init)}, {_lam(merge)}"
    if finish is not None:
        return X(base + f", {_lam(finish)})")
    return X(base + ")")


def zip_with(a, b, fn) -> X:
    return X(f"zip_with({_x(a)}, {_x(b)}, {_lam(fn)})")


def when(cond, value) -> CaseX:
    return CaseX([(cond, value)])


def coalesce(*args) -> X:
    return _fn("coalesce", *args)


def concat(*args) -> X:
    return _fn("concat", *args)


def concat_ws(sep, *args) -> X:
    return _fn("concat_ws", sep, *args)


def array(*args) -> X:
    if not args:
        return X("array()")
    return _fn("array", *args)


def array_contains(arr, v) -> X:
    return _fn("array_contains", arr, v)


def array_join(arr, delim, null_replacement=None) -> X:
    if null_replacement is not None:
        return _fn("array_join", arr, delim, null_replacement)
    return _fn("array_join", arr, delim)


def array_distinct(arr) -> X:
    return _fn("array_distinct", arr)


def array_intersect(a, b) -> X:
    return _fn("array_intersect", a, b)


def array_union(a, b) -> X:
    return _fn("array_union", a, b)


def array_sort(arr) -> X:
    return _fn("array_sort", arr)


def array_min(arr) -> X:
    return _fn("array_min", arr)


def array_max(arr) -> X:
    return _fn("array_max", arr)


def flatten(arr) -> X:
    return _fn("flatten", arr)


def slice(arr, start, length) -> X:  # noqa: A001 — mirrors F.slice
    return _fn("slice", arr, start, length)


def size(arr) -> X:
    return _fn("size", arr)


def element_at(arr, i) -> X:
    return _fn("element_at", arr, i)


def try_element_at(arr, i) -> X:
    return _fn("try_element_at", arr, i)


def get(arr, i) -> X:
    return _fn("get", arr, i)


def split(c, pattern, limit=None) -> X:
    if limit is not None:
        return _fn("split", c, pattern, limit)
    return _fn("split", c, pattern)


def substring(c, pos, length) -> X:
    return _fn("substring", c, pos, length)


def substring_index(c, delim, count) -> X:
    return _fn("substring_index", c, delim, count)


def substr(c, pos, length) -> X:
    return _fn("substring", c, pos, length)


def lower(c) -> X:
    return _fn("lower", c)


def upper(c) -> X:
    return _fn("upper", c)


def trim(c) -> X:
    return _fn("trim", c)


def ltrim(c) -> X:
    return _fn("ltrim", c)


def rtrim(c) -> X:
    return _fn("rtrim", c)


def length(c) -> X:
    return _fn("length", c)


def regexp_extract(c, pattern, idx) -> X:
    return _fn("regexp_extract", c, pattern, idx)


def regexp_replace(c, pattern, replacement) -> X:
    return _fn("regexp_replace", c, pattern, replacement)


def instr(c, sub) -> X:
    return _fn("instr", c, sub)


def nullif(a, b) -> X:
    return _fn("nullif", a, b)


def nvl(a, b) -> X:
    return _fn("nvl", a, b)


def least(*args) -> X:
    return _fn("least", *args)


def greatest(*args) -> X:
    return _fn("greatest", *args)


def sequence(a, b, step=None) -> X:
    if step is not None:
        return _fn("sequence", a, b, step)
    return _fn("sequence", a, b)


def isnan(c) -> X:
    return _fn("isnan", c)


def url_decode(c) -> X:
    return _fn("url_decode", c)


def to_json(c) -> X:
    return _fn("to_json", c)


def translate(c, src, dst) -> X:
    return _fn("translate", c, src, dst)


def replace(c, find, repl) -> X:
    return _fn("replace", c, find, repl)


def reverse(c) -> X:
    return _fn("reverse", c)


def abs(c) -> X:  # noqa: A001 — mirrors F.abs
    return _fn("abs", c)


def round(c, scale=0) -> X:  # noqa: A001 — mirrors F.round
    return _fn("round", c, scale)


def floor(c) -> X:
    return _fn("floor", c)


def ceil(c) -> X:
    return _fn("ceil", c)


def call_function(name: str, *args) -> X:
    """Mirror of F.call_function — any builtin by name (the Column path
    uses it for SQL-only signatures like 3-arg banded levenshtein)."""
    return _fn(name, *args)


def format_string(fmt, *args) -> X:
    return _fn("format_string", fmt, *args)


def struct(*fields) -> X:
    parts = []
    for i, f in enumerate(fields):
        name = f._name if isinstance(f, X) and f._name else f"col{i + 1}"
        parts.append(f"{_x(name)}, {_x(f)}")
    return X(f"named_struct({', '.join(parts)})")


def posexplode(*_a, **_k):  # pragma: no cover - guard
    raise NotImplementedError(
        "generator functions have no scalar SQL-text form; keep them on "
        "the Column path"
    )


explode = posexplode
pandas_udf = None  # sentinel: spec modules must not reach a UDF in twin mode
