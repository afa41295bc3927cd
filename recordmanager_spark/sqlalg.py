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
``&``/``|``/``~`` build boolean ops, etc.).

Parentheses: every ``X`` carries the precedence level of its top
operator, and an operand is parenthesized only where Spark's grammar
(``SqlBaseParser.g4``) would otherwise group it differently, so the
parsed tree equals the Column tree. The one deliberate extra: the left
operand of AND/OR keeps its parentheses when it is the same operator,
because ``AstBuilder.visitLogicalBinary`` re-balances an unparenthesized
chain into a different tree. Fewer parentheses matter for speed, not
looks: ANTLR builds its prediction DFA for the lookahead after every
``(``, and that cold build was most of the cost of parsing the MARC
trees (PERFORMANCE.md, "Twin SQL parenthesization").

Spellings for short lookahead: Spark's parser first predicts in ANTLR's
SLL mode, and a decision reads as many tokens as it needs to rule out
the other alternatives. Some spellings made it read to the end of the
construct, which for nested trees means thousands of tokens
(``format``: 10,926). The grammar has keyword forms ``TRIM(x FROM y)``
and ``SUBSTRING(x FROM p FOR n)``, so at ``trim(`` / ``substring(`` the
parser reads the whole first argument looking for ``FROM``; :func:`_fn`
writes these names quoted (`` `trim`( ``), which parses to the same
tree as the plain call. A searched ``CASE WHEN c`` is read to its
``END``; :class:`CaseX` writes the simple form ``CASE true WHEN c``,
whose ``true = c`` the optimizer removes, leaving the same ``CaseWhen``
plan. A bare ``map(`` as a call argument is read to its ``)`` too, so
``keys``' kana fold map, the one such call, is written `` `map`( ``.
ANTLR keeps the DFA it builds for a lookahead in a static cache
for the life of the JVM, so a long lookahead costs retained heap as
well as parse time. ``tests/test_sqltwin.py`` caps the longest
lookahead of every production tree (PERFORMANCE.md, "Short-lookahead
spellings").

Parser-conf requirement (ADVICE r6): ``lit(str)``'s escaping assumes
the DEFAULT ``spark.sql.parser.escapedStringLiterals=false``. Under
the legacy conf every twin-compiled literal containing backslashes
(all the regex patterns) would silently change meaning. The canonical
session factory (``recordmanager_spark.session.get_spark``) pins the
conf to false; a deployment building its own SparkSession must do the
same before parsing any twin-compiled expression.

Semantics notes (kept in lockstep with Column behavior):
- ``lit(str)`` escapes backslashes, quotes, and control chars so the
  SQL parser reconstructs the exact Python string (regex patterns
  survive verbatim);
- ``lit(float)`` renders as ``CAST(.. AS DOUBLE)`` — a bare SQL decimal
  literal would type as DECIMAL, unlike ``F.lit``;
- ``when(...)`` chains render one ``CASE true WHEN``, which
  optimizes to the ``CaseWhen`` of ``F.when``: ``true = c`` is NULL
  where ``c`` is, and a NULL condition falls through in both forms;
- lambda arguments get globally unique variable names, so nested
  higher-order functions can never capture each other's variables.

A pytest parity sweep (tests/test_sqltwin.py) pins byte-identical
results between the twin-built ``F.expr`` plans and the original
Column-built plans on adversarial MARC fixtures.
"""

from __future__ import annotations

import inspect
import itertools
from typing import Callable

_ctr = itertools.count()


# Precedence levels of Spark's expression grammar, loosest first: the
# booleanExpression alternatives (OR, AND, NOT, then the predicate
# suffixes IS [NOT] NULL / IN / RLIKE) and the valueExpression ones
# (comparison, ^, + -, * / %, unary minus), then primaryExpression
# (literals, names, calls, CAST, CASE, ``x.f``, ``x[i]``, parentheses).
_OR, _AND, _NOT, _PRED, _CMP, _XOR, _ADD, _MUL, _UNARY, _PRIMARY = range(10)

_BIN_LEVEL = {
    "OR": _OR, "AND": _AND,
    "=": _CMP, "<>": _CMP, "<": _CMP, "<=": _CMP, ">": _CMP, ">=": _CMP,
    "<=>": _CMP, "^": _XOR, "+": _ADD, "-": _ADD, "*": _MUL, "/": _MUL,
    "%": _MUL,
}


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


def _arg(v, level: int) -> str:
    """Render ``v`` as an operand that must bind at least as tightly as
    ``level``; Python scalars render as literals, which are primary."""
    text = _x(v)
    if isinstance(v, X) and v._prec < level:
        return f"({text})"
    return text


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

    __slots__ = ("_sql", "_name", "_prec")

    def __init__(
        self, sql: str, name: str | None = None, prec: int = _PRIMARY
    ):
        self._sql = sql
        self._name = name
        self._prec = prec

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
        return X(self._render(), name, self._prec)

    # --- binary / unary operators -------------------------------------
    def _bin(self, op: str, other, swap: bool = False) -> "X":
        a, b = (other, self) if swap else (self, other)
        level = _BIN_LEVEL[op]
        # left-associative: only the right operand needs a parenthesis
        # at its own level -- except under AND/OR, whose unparenthesized
        # same-operator chains the parser re-balances
        left = level + 1 if level in (_AND, _OR) else level
        return X(f"{_arg(a, left)} {op} {_arg(b, level + 1)}", prec=level)

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
        return X(f"NOT {_arg(self, _NOT)}", prec=_NOT)

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
        # the space keeps ``- -1`` from lexing as a ``--`` comment
        return X(f"- {_arg(self, _UNARY)}", prec=_UNARY)

    # --- Column methods ------------------------------------------------
    def __getitem__(self, key):
        if isinstance(key, str):
            return X(f"{_arg(self, _PRIMARY)}.{key}")
        return X(f"{_arg(self, _PRIMARY)}[{_arg(key, _CMP)}]")

    def isin(self, *vals) -> "X":
        flat = []
        for v in vals:
            if isinstance(v, (list, tuple, set)):
                flat.extend(v)
            else:
                flat.append(v)
        items = ", ".join(_x(v) for v in flat)
        return X(f"{_arg(self, _CMP)} IN ({items})", prec=_PRED)

    def isNull(self) -> "X":
        return X(f"{_arg(self, _CMP)} IS NULL", prec=_PRED)

    def isNotNull(self) -> "X":
        return X(f"{_arg(self, _CMP)} IS NOT NULL", prec=_PRED)

    def cast(self, dtype: str) -> "X":
        return X(f"CAST({_x(self)} AS {dtype})")

    def try_cast(self, dtype: str) -> "X":
        return X(f"TRY_CAST({_x(self)} AS {dtype})")

    def rlike(self, pattern: str) -> "X":
        return X(
            f"{_arg(self, _CMP)} RLIKE {_arg(pattern, _CMP)}", prec=_PRED
        )

    def startswith(self, other) -> "X":
        return X(f"startswith({_x(self)}, {_x(other)})")

    def endswith(self, other) -> "X":
        return X(f"endswith({_x(self)}, {_x(other)})")

    def contains(self, other) -> "X":
        return X(f"contains({_x(self)}, {_x(other)})")

    def substr(self, pos, length) -> "X":
        return _fn("substring", self, pos, length)

    def eqNullSafe(self, other) -> "X":
        return self._bin("<=>", other)

    def bitwiseXOR(self, other) -> "X":
        return self._bin("^", other)

    def __hash__(self):  # X overrides __eq__; keep it usable in sets
        return hash(self._render())


class CaseX(X):
    """A CASE chain under construction (F.when semantics), rendered as
    ``CASE true WHEN c THEN v … END`` so the parser need not read to
    ``END`` to tell it from the searched form (module docstring)."""

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
        return f"CASE true {body}{tail} END"

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
    if isinstance(v, X):  # F.lit(Column) passes the column through
        return v
    return X(_x(v))


def expr(sql: str) -> X:
    # loosest level: _arg parenthesizes the text only under an operator
    return X(sql, prec=_OR)


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


# Names with a keyword form in Spark's grammar (``TRIM(x FROM y)``,
# ``SUBSTRING(x FROM p FOR n)``): quoted, they parse as the plain call
# without SLL reading the whole first argument to rule the form out.
_KEYWORD_FORM = frozenset({"trim", "substring"})


def _fn(name: str, *args) -> X:
    if name in _KEYWORD_FORM:
        name = f"`{name}`"
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


def array_join(arr, delim) -> X:
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


def least(*args) -> X:
    return _fn("least", *args)


def greatest(*args) -> X:
    return _fn("greatest", *args)


def sequence(a, b) -> X:
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
