"""XPath 1.0 subset: tokenizer, parser, evaluator (stdlib-only).

Implements the expression language needed by the reference's shipped
stylesheets (see ``recordmanager_spark.xsl``): location paths over the
child / descendant / parent / ancestor / sibling / self / attribute
axes, predicates with positional semantics (including reverse axes),
unions, the full operator grammar (or/and/=/!=/relational/additive/
multiplicative with XPath's node-set comparison rules), variables, and
the core function library (string/number/boolean conversions, concat,
substring*, contains, starts-with, translate, normalize-space,
string-length, count, position, last, name, local-name, namespace-uri,
not, floor, ceiling, round, generate-id).

The node model is a parent-linked tree (``XNode``) built from an
ElementTree parse; namespace prefix maps are captured per element so
prefixed name tests resolve the way a conformant processor would.
"""

from __future__ import annotations

import math
import re
import xml.etree.ElementTree as ET
from typing import Callable, Iterable


class XPathError(ValueError):
    pass


ROOT, ELEM, TEXT, ATTR, COMMENT, PI = range(6)


class XNode:
    """One node of the parent-linked document tree."""

    __slots__ = (
        "kind", "name", "ns", "prefix", "value",
        "attrs", "children", "parent", "order", "nsmap",
    )

    def __init__(self, kind, name="", ns="", value="", parent=None):
        self.kind = kind
        self.name = name
        self.ns = ns
        self.prefix = ""
        self.value = value
        self.attrs: list[XNode] = []
        self.children: list[XNode] = []
        self.parent = parent
        self.order = 0
        self.nsmap: dict[str, str] = {}

    def string_value(self) -> str:
        if self.kind in (TEXT, ATTR, COMMENT, PI):
            return self.value
        parts: list[str] = []
        stack = list(reversed(self.children))
        while stack:
            n = stack.pop()
            if n.kind == TEXT:
                parts.append(n.value)
            elif n.kind == ELEM:
                stack.extend(reversed(n.children))
        return "".join(parts)

    def qname(self) -> str:
        return f"{self.prefix}:{self.name}" if self.prefix else self.name

    def __repr__(self):  # pragma: no cover - debug aid
        k = "RETACPI"[self.kind]
        return f"<XNode {k} {self.qname()!r} @{self.order}>"


def _split_tag(tag: str) -> tuple[str, str]:
    if tag.startswith("{"):
        uri, _, local = tag[1:].partition("}")
        return uri, local
    return "", tag


def parse_xml(text: str) -> XNode:
    """Parse an XML string into an ``XNode`` tree with per-element nsmaps."""
    parser = ET.XMLPullParser(events=("start", "end", "start-ns", "end-ns"))
    parser.feed(text)
    parser.close()
    root = XNode(ROOT)
    cur = root
    pending: list[tuple[str, str]] = []
    counter = [0]

    def nxt() -> int:
        counter[0] += 1
        return counter[0]

    for ev, obj in parser.read_events():
        if ev == "start-ns":
            pending.append(obj)
        elif ev == "start":
            uri, local = _split_tag(obj.tag)
            node = XNode(ELEM, local, uri, parent=cur)
            node.nsmap = dict(cur.nsmap) if cur.kind == ELEM else {}
            for p, u in pending:
                node.nsmap[p] = u
            pending = []
            for p, u in node.nsmap.items():
                if u == uri:
                    node.prefix = p
                    if p == "":
                        break
            if node.prefix and node.nsmap.get("") == uri:
                node.prefix = ""
            node.order = nxt()
            for aname, aval in obj.attrib.items():
                auri, alocal = _split_tag(aname)
                a = XNode(ATTR, alocal, auri, aval, parent=node)
                a.order = nxt()
                if auri:
                    for p, u in node.nsmap.items():
                        if u == auri and p:
                            a.prefix = p
                            break
                node.attrs.append(a)
            cur.children.append(node)
            cur = node
        elif ev == "end":
            # obj.text/tail are final once the element closes
            uri, local = _split_tag(obj.tag)
            if obj.text:
                t = XNode(TEXT, value=obj.text, parent=cur)
                t.order = cur.order  # between start and first child: good enough
                cur.children.insert(0, t)
            cur = cur.parent
            if obj.tail and cur is not None:
                t = XNode(TEXT, value=obj.tail, parent=cur)
                t.order = nxt()
                cur.children.append(t)
    _renumber(root)
    return root


def _renumber(root: XNode) -> None:
    i = 0
    stack = [root]
    while stack:
        n = stack.pop()
        n.order = i
        i += 1
        for a in n.attrs:
            a.order = i
            i += 1
        stack.extend(reversed(n.children))


# ---------------------------------------------------------------------------
# Tokenizer

_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<num>\d+(?:\.\d*)?|\.\d+)
    | (?P<lit>'[^']*'|"[^"]*")
    | (?P<dslash>//)
    | (?P<dcolon>::)
    | (?P<ddot>\.\.)
    | (?P<op><=|>=|!=|[=<>|/+\-*,()\[\]@$])
    | (?P<dot>\.)
    | (?P<name>[A-Za-z_][A-Za-z0-9_.\-]*
        (?::(?!:)(?:[A-Za-z_][A-Za-z0-9_.\-]*|\*))?)
    )""",
    re.X,
)

_NODE_TYPES = {"node", "text", "comment", "processing-instruction"}
_OPERATOR_NAMES = {"and", "or", "div", "mod"}
# tokens after which '*' is a wildcard and 'and'/'or' are names
_PRE_OPERAND = {
    None, "@", "::", "(", "[", ",", "and", "or", "div", "mod",
    "*", "/", "//", "|", "+", "-", "=", "!=", "<", "<=", ">", ">=", "$",
}


def _tokenize(s: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    pos = 0
    prev: str | None = None
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if not m or m.end() == m.start():
            if s[pos:].strip() == "":
                break
            raise XPathError(f"bad token at {s[pos:pos+20]!r} in {s!r}")
        pos = m.end()
        kind = m.lastgroup
        text = m.group(kind)
        if kind == "num":
            out.append(("num", text))
            prev = "num"
        elif kind == "lit":
            out.append(("lit", text[1:-1]))
            prev = "lit"
        elif kind == "dslash":
            out.append(("op", "//"))
            prev = "//"
        elif kind == "dcolon":
            out.append(("op", "::"))
            prev = "::"
        elif kind == "ddot":
            out.append(("ddot", ".."))
            prev = ".."
        elif kind == "dot":
            out.append(("dot", "."))
            prev = "."
        elif kind == "op":
            out.append(("op", text))
            prev = text
        else:  # name
            if text in _OPERATOR_NAMES and prev not in _PRE_OPERAND:
                out.append(("op", text))
                prev = text
            else:
                out.append(("name", text))
                prev = text
    return out


# ---------------------------------------------------------------------------
# Parser — produces a tuple AST

class _Parser:
    def __init__(self, tokens: list[tuple[str, str]], expr: str):
        self.toks = tokens
        self.i = 0
        self.expr = expr

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, val):
        k, v = self.next()
        if v != val:
            raise XPathError(f"expected {val!r}, got {v!r} in {self.expr!r}")

    def at_op(self, *vals):
        k, v = self.peek()
        return k == "op" and v in vals

    # Expr := OrExpr
    def parse(self):
        e = self.or_expr()
        if self.i != len(self.toks):
            raise XPathError(f"trailing tokens in {self.expr!r}")
        return e

    def or_expr(self):
        e = self.and_expr()
        while self.at_op("or"):
            self.next()
            e = ("or", e, self.and_expr())
        return e

    def and_expr(self):
        e = self.eq_expr()
        while self.at_op("and"):
            self.next()
            e = ("and", e, self.eq_expr())
        return e

    def eq_expr(self):
        e = self.rel_expr()
        while self.at_op("=", "!="):
            _, op = self.next()
            e = ("cmp", op, e, self.rel_expr())
        return e

    def rel_expr(self):
        e = self.add_expr()
        while self.at_op("<", "<=", ">", ">="):
            _, op = self.next()
            e = ("cmp", op, e, self.add_expr())
        return e

    def add_expr(self):
        e = self.mul_expr()
        while self.at_op("+", "-"):
            _, op = self.next()
            e = ("arith", op, e, self.mul_expr())
        return e

    def mul_expr(self):
        e = self.unary_expr()
        while self.at_op("*", "div", "mod"):
            # '*' here is multiplication only if we parsed an operand before
            _, op = self.next()
            e = ("arith", op, e, self.unary_expr())
        return e

    def unary_expr(self):
        if self.at_op("-"):
            self.next()
            return ("neg", self.unary_expr())
        return self.union_expr()

    def union_expr(self):
        e = self.path_expr()
        while self.at_op("|"):
            self.next()
            e = ("union", e, self.path_expr())
        return e

    def path_expr(self):
        k, v = self.peek()
        # FilterExpr: variable / literal / number / function-call / (expr)
        if k == "op" and v == "$":
            self.next()
            nk, nv = self.next()
            if nk != "name":
                raise XPathError(f"bad variable in {self.expr!r}")
            e = ("var", nv)
            return self._filter_tail(e)
        if k == "lit":
            self.next()
            return self._filter_tail(("lit", v))
        if k == "num":
            self.next()
            return self._filter_tail(("num", float(v)))
        if k == "op" and v == "(":
            self.next()
            e = self.or_expr()
            self.expect(")")
            return self._filter_tail(e)
        if k == "name" and v not in _NODE_TYPES:
            nk, nv = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else (None, None)
            if nv == "(":
                self.next()
                self.next()  # '('
                args = []
                if not self.at_op(")"):
                    args.append(self.or_expr())
                    while self.at_op(","):
                        self.next()
                        args.append(self.or_expr())
                self.expect(")")
                return self._filter_tail(("call", v, args))
        return self.location_path()

    def _filter_tail(self, e):
        while self.at_op("["):
            self.next()
            p = self.or_expr()
            self.expect("]")
            e = ("filter", e, p)
        if self.at_op("/", "//"):
            _, sep = self.next()
            rel = self.relative_path()
            e = ("pathcont", e, sep, rel)
        return e

    def location_path(self):
        k, v = self.peek()
        if k == "op" and v == "/":
            self.next()
            if self._starts_step():
                return ("abs", self.relative_path())
            return ("root",)
        if k == "op" and v == "//":
            self.next()
            return ("absdesc", self.relative_path())
        return ("rel", self.relative_path())

    def _starts_step(self):
        k, v = self.peek()
        if k in ("name", "dot", "ddot"):
            return True
        if k == "op" and v in ("@", "*"):
            return True
        return False

    def relative_path(self):
        steps = [self.step()]
        while self.at_op("/", "//"):
            _, sep = self.next()
            if sep == "//":
                steps.append(("step", "descendant-or-self", ("node",), []))
            steps.append(self.step())
        return steps

    def step(self):
        k, v = self.peek()
        if k == "dot":
            self.next()
            return ("step", "self", ("node",), self._predicates())
        if k == "ddot":
            self.next()
            return ("step", "parent", ("node",), self._predicates())
        axis = "child"
        if k == "op" and v == "@":
            self.next()
            axis = "attribute"
        elif k == "name":
            nk, nv = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else (None, None)
            if nv == "::":
                axis = v
                self.next()
                self.next()
        test = self.node_test(axis)
        return ("step", axis, test, self._predicates())

    def node_test(self, axis):
        k, v = self.peek()
        if k == "op" and v == "*":
            self.next()
            return ("anyname",)
        if k == "name":
            nk, nv = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else (None, None)
            if v in _NODE_TYPES and nv == "(":
                self.next()
                self.next()
                arg = None
                if not self.at_op(")"):
                    ak, av = self.next()
                    if ak != "lit":
                        raise XPathError(f"bad node-type arg in {self.expr!r}")
                    arg = av
                self.expect(")")
                return (v, arg) if v == "processing-instruction" else (v,)
            self.next()
            return ("name", v)
        raise XPathError(f"bad node test near {v!r} in {self.expr!r}")

    def _predicates(self):
        preds = []
        while self.at_op("["):
            self.next()
            preds.append(self.or_expr())
            self.expect("]")
        return preds


def _parse(expr: str):
    # prefixed names ('marc:record', 'ns:*') arrive as single name tokens —
    # the tokenizer's name pattern consumes one ':' (not '::') itself
    return _Parser(_tokenize(expr), expr).parse()


# ---------------------------------------------------------------------------
# Evaluator

class Context:
    __slots__ = ("node", "pos", "size", "vars", "nsmap", "extra")

    def __init__(self, node, pos=1, size=1, vars=None, nsmap=None, extra=None):
        self.node = node
        self.pos = pos
        self.size = size
        self.vars = vars or {}
        self.nsmap = nsmap or {}
        self.extra = extra or {}

    def with_node(self, node, pos, size):
        return Context(node, pos, size, self.vars, self.nsmap, self.extra)

    def with_vars(self, vars):
        return Context(self.node, self.pos, self.size, vars, self.nsmap, self.extra)


def xp_string(v) -> str:
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        if v == int(v):
            return str(int(v))
        return repr(v)
    if isinstance(v, list):
        return v[0].string_value() if v else ""
    if hasattr(v, "string_value"):  # XNode or an engine result-tree fragment
        return v.string_value()
    raise XPathError(f"cannot convert {type(v)} to string")


def xp_number(v) -> float:
    if isinstance(v, bool):
        return 1.0 if v else 0.0
    if isinstance(v, float):
        return v
    if isinstance(v, list) or hasattr(v, "string_value"):
        v = xp_string(v)
    try:
        return float(v.strip())
    except (ValueError, AttributeError):
        return float("nan")


def xp_boolean(v) -> bool:
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return bool(v) and not math.isnan(v)
    if isinstance(v, str):
        return v != ""
    if isinstance(v, list):
        return len(v) > 0
    if hasattr(v, "string_value"):  # XNode or result-tree fragment
        return True
    raise XPathError(f"cannot convert {type(v)} to boolean")


_REVERSE_AXES = {"ancestor", "ancestor-or-self", "preceding-sibling", "preceding"}


def _axis_nodes(node: XNode, axis: str) -> list[XNode]:
    if axis == "child":
        return list(node.children) if node.kind in (ELEM, ROOT) else []
    if axis == "attribute":
        return list(node.attrs) if node.kind == ELEM else []
    if axis == "self":
        return [node]
    if axis == "parent":
        return [node.parent] if node.parent is not None else []
    if axis in ("descendant", "descendant-or-self"):
        out = [node] if axis == "descendant-or-self" else []
        stack = list(reversed(node.children)) if node.kind in (ELEM, ROOT) else []
        while stack:
            n = stack.pop()
            out.append(n)
            if n.kind == ELEM:
                stack.extend(reversed(n.children))
        return out
    if axis in ("ancestor", "ancestor-or-self"):
        out = [node] if axis == "ancestor-or-self" else []
        p = node.parent
        while p is not None:
            out.append(p)
            p = p.parent
        return out  # reverse doc order (nearest first)
    if axis == "following-sibling":
        if node.parent is None or node.kind == ATTR:
            return []
        sibs = node.parent.children
        try:
            i = sibs.index(node)
        except ValueError:
            return []
        return sibs[i + 1:]
    if axis == "preceding-sibling":
        if node.parent is None or node.kind == ATTR:
            return []
        sibs = node.parent.children
        try:
            i = sibs.index(node)
        except ValueError:
            return []
        return list(reversed(sibs[:i]))
    raise XPathError(f"unsupported axis {axis!r}")


class XPath:
    """A compiled XPath expression.

    ``nsmap`` maps prefixes to namespace URIs for prefixed name tests
    (taken from the stylesheet element that carried the expression).
    """

    def __init__(self, expr: str, nsmap: dict[str, str] | None = None):
        self.expr = expr
        self.ast = _parse(expr)
        self.nsmap = nsmap or {}

    def __repr__(self):  # pragma: no cover
        return f"XPath({self.expr!r})"

    # public entry points ---------------------------------------------------
    def evaluate(self, ctx: Context):
        if self.nsmap and not ctx.nsmap:
            ctx = Context(ctx.node, ctx.pos, ctx.size, ctx.vars, self.nsmap, ctx.extra)
        return self._eval(self.ast, ctx)

    def select(self, ctx: Context) -> list[XNode]:
        v = self.evaluate(ctx)
        if not isinstance(v, list):
            raise XPathError(f"{self.expr!r} is not a node-set (got {type(v).__name__})")
        return v

    # internals -------------------------------------------------------------
    def _eval(self, ast, ctx: Context):
        op = ast[0]
        if op == "lit":
            return ast[1]
        if op == "num":
            return ast[1]
        if op == "var":
            try:
                return ctx.vars[ast[1]]
            except KeyError:
                raise XPathError(f"undefined variable ${ast[1]}")
        if op == "or":
            return xp_boolean(self._eval(ast[1], ctx)) or xp_boolean(self._eval(ast[2], ctx))
        if op == "and":
            return xp_boolean(self._eval(ast[1], ctx)) and xp_boolean(self._eval(ast[2], ctx))
        if op == "cmp":
            return self._compare(ast[1], self._eval(ast[2], ctx), self._eval(ast[3], ctx))
        if op == "arith":
            a = xp_number(self._eval(ast[2], ctx))
            b = xp_number(self._eval(ast[3], ctx))
            o = ast[1]
            if o == "+":
                return a + b
            if o == "-":
                return a - b
            if o == "*":
                return a * b
            if o == "div":
                if b == 0:
                    return float("nan") if a == 0 else math.copysign(float("inf"), a)
                return a / b
            if o == "mod":
                if b == 0:
                    return float("nan")
                return math.fmod(a, b)
        if op == "neg":
            return -xp_number(self._eval(ast[1], ctx))
        if op == "union":
            a = self._eval(ast[1], ctx)
            b = self._eval(ast[2], ctx)
            if not isinstance(a, list) or not isinstance(b, list):
                raise XPathError(f"union over non-node-sets in {self.expr!r}")
            seen = {id(n) for n in a}
            merged = a + [n for n in b if id(n) not in seen]
            merged.sort(key=lambda n: n.order)
            return merged
        if op == "call":
            return self._call(ast[1], ast[2], ctx)
        if op == "filter":
            base = self._eval(ast[1], ctx)
            if not isinstance(base, list):
                raise XPathError(f"predicate over non-node-set in {self.expr!r}")
            return self._apply_predicate(base, ast[2], ctx, reverse=False)
        if op == "pathcont":
            base = self._eval(ast[1], ctx)
            if not isinstance(base, list):
                raise XPathError(f"path over non-node-set in {self.expr!r}")
            steps = ast[3]
            if ast[2] == "//":
                steps = [("step", "descendant-or-self", ("node",), [])] + steps
            return self._walk(base, steps, ctx)
        if op == "root":
            return [self._root(ctx.node)]
        if op == "abs":
            return self._walk([self._root(ctx.node)], ast[1], ctx)
        if op == "absdesc":
            steps = [("step", "descendant-or-self", ("node",), [])] + ast[1]
            return self._walk([self._root(ctx.node)], steps, ctx)
        if op == "rel":
            return self._walk([ctx.node], ast[1], ctx)
        raise XPathError(f"bad AST node {op!r}")

    @staticmethod
    def _root(node: XNode) -> XNode:
        while node.parent is not None:
            node = node.parent
        return node

    def _walk(self, start: list[XNode], steps, ctx: Context) -> list[XNode]:
        current = start
        for step in steps:
            _, axis, test, preds = step
            gathered: list[XNode] = []
            seen: set[int] = set()
            for node in current:
                cand = [n for n in _axis_nodes(node, axis) if self._test(n, test, axis, ctx)]
                for p in preds:
                    cand = self._apply_predicate(cand, p, ctx, reverse=axis in _REVERSE_AXES)
                for n in cand:
                    if id(n) not in seen:
                        seen.add(id(n))
                        gathered.append(n)
            gathered.sort(key=lambda n: n.order)
            current = gathered
        return current

    def _apply_predicate(self, nodes, pred, ctx, reverse):
        out = []
        size = len(nodes)
        for i, n in enumerate(nodes):
            sub = ctx.with_node(n, i + 1, size)
            v = self._eval(pred, sub)
            if isinstance(v, float):
                if v == i + 1:
                    out.append(n)
            elif xp_boolean(v):
                out.append(n)
        return out

    def _test(self, node: XNode, test, axis: str, ctx: Context) -> bool:
        principal = ATTR if axis == "attribute" else ELEM
        t = test[0]
        if t == "node":
            return True
        if t == "text":
            return node.kind == TEXT
        if t == "comment":
            return node.kind == COMMENT
        if t == "processing-instruction":
            return node.kind == PI and (len(test) < 2 or test[1] is None or node.name == test[1])
        if t == "anyname":
            return node.kind == principal
        if t == "name":
            if node.kind != principal:
                return False
            name = test[1]
            if ":" in name:
                prefix, local = name.split(":", 1)
                uri = ctx.nsmap.get(prefix) or self.nsmap.get(prefix)
                if uri is None:
                    raise XPathError(f"unbound prefix {prefix!r} in {self.expr!r}")
                if local == "*":
                    return node.ns == uri
                return node.ns == uri and node.name == local
            # XPath 1.0: unprefixed name test = null namespace…  but the
            # overwhelmingly common authoring idiom in the reference corpus
            # (helmet.xsl, EadSplit.xsl) addresses default-namespaced
            # documents with unprefixed tests the way XSLT 2.0's
            # xpath-default-namespace would. Accept a match when the
            # element's namespace equals the stylesheet's default target
            # namespace hint, if one was provided.
            if node.name != name:
                return False
            if node.ns == "":
                return True
            dflt = ctx.extra.get("default_ns_hint") if ctx.extra else None
            return node.ns == dflt
        raise XPathError(f"bad node test {test!r}")

    # comparisons -----------------------------------------------------------
    def _compare(self, op, a, b):
        def cmp_vals(x, y):
            if op == "=":
                return x == y
            if op == "!=":
                return x != y
            x, y = xp_number(x), xp_number(y)
            if op == "<":
                return x < y
            if op == "<=":
                return x <= y
            if op == ">":
                return x > y
            return x >= y

        a_set = isinstance(a, list)
        b_set = isinstance(b, list)
        if a_set and b_set:
            bs = [n.string_value() for n in b]
            return any(cmp_vals(n.string_value(), s) for n in a for s in bs)
        if a_set or b_set:
            nodes, other, flip = (a, b, False) if a_set else (b, a, True)
            if isinstance(other, bool):
                x, y = xp_boolean(nodes), other
                return cmp_vals(x, y) if not flip else cmp_vals(y, x)
            for n in nodes:
                sv = n.string_value()
                if isinstance(other, float) or op in ("<", "<=", ">", ">="):
                    l, r = xp_number(sv), xp_number(other)
                else:
                    l, r = sv, xp_string(other)
                if cmp_vals(l, r) if not flip else cmp_vals(r, l):
                    return True
            return False
        if op in ("=", "!="):
            if isinstance(a, bool) or isinstance(b, bool):
                a, b = xp_boolean(a), xp_boolean(b)
            elif isinstance(a, float) or isinstance(b, float):
                a, b = xp_number(a), xp_number(b)
            else:
                a, b = xp_string(a), xp_string(b)
        return cmp_vals(a, b)

    # function library ------------------------------------------------------
    def _call(self, name, args, ctx: Context):
        ev = lambda i: self._eval(args[i], ctx)  # noqa: E731
        n = len(args)
        if name == "string":
            return xp_string(ev(0)) if n else ctx.node.string_value()
        if name == "number":
            return xp_number(ev(0)) if n else xp_number(ctx.node.string_value())
        if name == "boolean":
            return xp_boolean(ev(0))
        if name == "true":
            return True
        if name == "false":
            return False
        if name == "not":
            return not xp_boolean(ev(0))
        if name == "concat":
            return "".join(xp_string(ev(i)) for i in range(n))
        if name == "contains":
            return xp_string(ev(1)) in xp_string(ev(0))
        if name == "starts-with":
            return xp_string(ev(0)).startswith(xp_string(ev(1)))
        if name == "substring-before":
            s, sep = xp_string(ev(0)), xp_string(ev(1))
            i = s.find(sep)
            return s[:i] if i >= 0 else ""
        if name == "substring-after":
            s, sep = xp_string(ev(0)), xp_string(ev(1))
            i = s.find(sep)
            return s[i + len(sep):] if i >= 0 else ""
        if name == "substring":
            s = xp_string(ev(0))
            start = xp_number(ev(1))
            if math.isnan(start):
                return ""
            rs = math.floor(start + 0.5)  # XPath round()
            if n >= 3:
                length = xp_number(ev(2))
                if math.isnan(length):
                    return ""
                re_ = rs + math.floor(length + 0.5)
            else:
                re_ = float("inf")
            lo = max(1, rs)
            hi = min(len(s) + 1, re_)
            if hi <= lo:
                return ""
            return s[int(lo) - 1: int(hi) - 1]
        if name == "string-length":
            return float(len(xp_string(ev(0)) if n else ctx.node.string_value()))
        if name == "normalize-space":
            s = xp_string(ev(0)) if n else ctx.node.string_value()
            return " ".join(s.split())
        if name == "translate":
            s, frm, to = xp_string(ev(0)), xp_string(ev(1)), xp_string(ev(2))
            table = {}
            for i, c in enumerate(frm):
                if c not in table:
                    table[c] = to[i] if i < len(to) else None
            return "".join(
                table.get(c, c) for c in s if table.get(c, c) is not None
            )
        if name == "count":
            v = ev(0)
            if not isinstance(v, list):
                raise XPathError("count() needs a node-set")
            return float(len(v))
        if name == "position":
            return float(ctx.pos)
        if name == "last":
            return float(ctx.size)
        if name == "local-name":
            node = self._first_or_ctx(args, ctx)
            return node.name if node is not None else ""
        if name == "name":
            node = self._first_or_ctx(args, ctx)
            return node.qname() if node is not None else ""
        if name == "namespace-uri":
            node = self._first_or_ctx(args, ctx)
            return node.ns if node is not None else ""
        if name == "floor":
            return float(math.floor(xp_number(ev(0))))
        if name == "ceiling":
            return float(math.ceil(xp_number(ev(0))))
        if name == "round":
            v = xp_number(ev(0))
            if math.isnan(v) or math.isinf(v):
                return v
            return float(math.floor(v + 0.5))
        if name == "sum":
            v = ev(0)
            if not isinstance(v, list):
                raise XPathError("sum() needs a node-set")
            return float(sum(xp_number(x.string_value()) for x in v))
        if name == "generate-id":
            node = self._first_or_ctx(args, ctx)
            return f"id{node.order}" if node is not None else ""
        if name == "lang":
            node = ctx.node
            while node is not None:
                for a in getattr(node, "attrs", []):
                    if a.name == "lang" and a.ns == "http://www.w3.org/XML/1998/namespace":
                        val = a.value.lower()
                        want = xp_string(ev(0)).lower()
                        return val == want or val.startswith(want + "-")
                node = node.parent
            return False
        # host-provided extension functions (the XSLT engine registers
        # key() and current() here via Context.extra)
        fns = ctx.extra.get("functions") if ctx.extra else None
        if fns and name in fns:
            return fns[name](ctx, [self._eval(a, ctx) for a in args])
        raise XPathError(f"unsupported function {name}() in {self.expr!r}")

    def _first_or_ctx(self, args, ctx: Context) -> XNode | None:
        if args:
            v = self._eval(args[0], ctx)
            if not isinstance(v, list):
                raise XPathError("node function needs a node-set argument")
            return v[0] if v else None
        return ctx.node
