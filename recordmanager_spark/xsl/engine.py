"""XSLT 1.0 subset engine over :mod:`recordmanager_spark.xsl.xpath1`.

Behavioral spec (reference, NOT code): Utils/XslTransformation.php:74-186 —
per-source stylesheets with ini-configured global parameters applied to
record XML. The supported instruction set is exactly what the reference's
shipped ``transformations/*.xsl`` use:

    template (match/name/mode), apply-templates (select/mode/with-param/
    sort), call-template, param, variable (select or RTF body), value-of,
    text, element, attribute, copy, copy-of, if, choose/when/otherwise,
    for-each (with sort), sort (text/number, asc/desc, multi-key),
    key + the key()/current() functions, number (value or level
    single/any/multiple with count/from; formats 1/01/a/A/i/I),
    strip-space/preserve-space, message, import, include, output — plus
    literal result elements with attribute value templates, and
    document() through a caller-injected resolver (the engine stays
    network/filesystem-free by default; see MiniXSLT.__init__).

    Round-4 additions beyond the corpus: attribute-set /
    use-attribute-sets, decimal-format + format-number(), fallback
    (no-op under supported instructions), apply-imports, and
    namespace-alias.

    Round-5 additions beyond the corpus: document()'s two-argument
    base-URI form (the base travels to the injected resolver as a second
    argument) and xsl:sort lang through an optional injected collator —
    both keep the engine dependency- and network-free by default. Since
    round 8, xsl:sort lang without an injected collator defaults to the
    system ICU collator (PyICU or the ctypes libicui18n binding in
    functions/icu_ctypes.py — the reference's XSLTProcessor collation)
    and raises :class:`XsltError` only when neither can load.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from xml.sax.saxutils import escape, quoteattr

from .xpath1 import (
    ATTR, COMMENT, ELEM, PI, ROOT, TEXT,
    Context, XNode, XPath, XPathError, xp_boolean, xp_number, xp_string,
)

XSL_NS = "http://www.w3.org/1999/XSL/Transform"


class XsltError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Result tree

class ONode:
    """Output tree node: element ('elem'), text ('text'), comment, or PI."""

    __slots__ = ("kind", "name", "ns", "attrs", "children", "value")

    def __init__(self, kind, name="", ns="", value=""):
        self.kind = kind
        self.name = name
        self.ns = ns
        self.attrs: list[tuple[str, str, str]] = []  # (ns, name, value)
        self.children: list[ONode] = []
        self.value = value

    def string_value(self) -> str:
        if self.kind == "text":
            return self.value
        return "".join(c.string_value() for c in self.children)


class RTF:
    """Result tree fragment — a variable bound to a template body."""

    __slots__ = ("nodes",)

    def __init__(self, nodes: list[ONode]):
        self.nodes = nodes

    def string_value(self) -> str:
        return "".join(n.string_value() for n in self.nodes)


def _rtf_aware_string(v) -> str:
    if isinstance(v, RTF):
        return v.string_value()
    return xp_string(v)


# ---------------------------------------------------------------------------
# Stylesheet compilation

class Template:
    __slots__ = (
        "pattern", "alternatives", "mode", "name", "priority",
        "body", "nsmap", "import_depth", "index",
    )

    def __init__(self, elem, nsmap, import_depth, index):
        self.pattern = elem.get("match")
        self.mode = elem.get("mode")
        self.name = elem.get("name")
        self.nsmap = nsmap
        self.import_depth = import_depth
        self.index = index
        self.body = elem
        self.alternatives = []
        if self.pattern is not None:
            for alt in self._split_union(self.pattern):
                steps = XPath(alt, nsmap).ast
                prio = elem.get("priority")
                self.alternatives.append(
                    (steps, float(prio) if prio is not None else _default_priority(alt))
                )

    @staticmethod
    def _split_union(pattern: str) -> list[str]:
        # split on '|' outside brackets/quotes
        parts, depth, cur, quote = [], 0, [], None
        for ch in pattern:
            if quote:
                cur.append(ch)
                if ch == quote:
                    quote = None
                continue
            if ch in "'\"":
                quote = ch
                cur.append(ch)
            elif ch == "[":
                depth += 1
                cur.append(ch)
            elif ch == "]":
                depth -= 1
                cur.append(ch)
            elif ch == "|" and depth == 0:
                parts.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        parts.append("".join(cur).strip())
        return [p for p in parts if p]


def _default_priority(pattern: str) -> float:
    p = pattern.strip()
    if p in ("*", "@*", "node()", "text()", "comment()", "processing-instruction()"):
        return -0.5
    if re.fullmatch(r"[A-Za-z_][\w.\-]*:\*", p):
        return -0.25
    if re.fullmatch(r"@?[A-Za-z_][\w.\-]*(:[A-Za-z_][\w.\-]*)?", p):
        return 0.0
    return 0.5


# every top-level element the corpus and the XSLT 1.0 core use is now
# handled; unknown xsl:* top-level elements are ignored like real
# processors ignore future-version elements
_UNSUPPORTED: set = set()


def _default_icu_collator(lang: str):
    """Locale collation key factory for ``xsl:sort lang=`` when no
    collator was injected — the reference transforms under PHP's
    XSLTProcessor, whose sorting is ICU collation. Tries PyICU, then
    the in-repo ctypes binding over the system libicui18n
    (functions/icu_ctypes.py); raises :class:`XsltError` only when
    neither can load, preserving the injectable seam for exotic
    collations."""
    try:
        import icu

        return icu.Collator.createInstance(icu.Locale(lang)).getSortKey
    except Exception:
        pass
    try:
        from recordmanager_spark.functions.icu_ctypes import Collator

        return Collator.createInstance(lang).key()
    except Exception as exc:
        raise XsltError(
            f"xsl:sort lang={lang!r} needs a collator: PyICU and the "
            f"system libicui18n are both unavailable ({exc}); inject "
            "MiniXSLT(source, collator=...)"
        )


class MiniXSLT:
    """Compile once, transform many — mirrors XSLTProcessor's lifecycle."""

    def __init__(
        self, source: str, resolver=None, document_resolver=None,
        extensions=None, collator=None, _depth: int = 0
    ):
        """``resolver(href) -> str`` loads imported stylesheets.

        ``extensions`` maps function NAMES to Python callables exposed to
        the stylesheet's XPath expressions — the analogue of the
        reference's ``php_function`` registration
        (Utils/XslTransformation.php:86-109). Each callable receives its
        arguments converted to strings and returns a string.

        ``document_resolver`` serves ``document()`` calls — the same
        injectable fetch-boundary pattern as the uriCache enrichment
        (operators/enrich.py): the engine itself never touches the
        network or filesystem; the caller decides what an href means
        (including XSLT's ``document('')`` = the stylesheet itself).
        Signature ``(href) -> str``, or ``(href, base) -> str`` to also
        receive the base href for document()'s two-argument form (the
        href the base node's own document was loaded from; '' for the
        source document). Without a resolver, evaluating ``document()``
        raises :class:`XsltError`.

        ``collator(lang) -> (str) -> sort_key`` overrides ``xsl:sort
        lang`` locale collation; inject e.g. PyICU's
        ``lambda lang: icu.Collator.createInstance(icu.Locale(lang))
        .getSortKey`` for exotic collations. Without one, a sort spec
        with ``lang`` uses the system ICU collator (PyICU if importable,
        else the ctypes libicui18n binding) and raises
        :class:`XsltError` only when neither can load.
        """
        self.resolver = resolver
        self.document_resolver = document_resolver
        self.collator = collator
        self.extensions = dict(extensions or {})
        self.templates: list[Template] = []
        self.globals: list[tuple[str, str | None, ET.Element, dict, bool]] = []
        # xsl:key definitions: (name, [pattern asts], use expr, nsmap)
        self.keys: list[tuple[str, list, str, dict]] = []
        # xsl:strip-space / preserve-space element name tests: (ns, local)
        # with '*' wildcards, resolved against the stylesheet nsmap
        self.strip_names: set[tuple[str, str]] = set()
        self.preserve_names: set[tuple[str, str]] = set()
        # xsl:attribute-set name -> [definition elements] (merged in
        # declaration order; later definitions win per XSLT 1.0)
        self.attr_sets: dict[str, list] = {}
        # xsl:decimal-format name ('' = default) -> attribute dict
        self.decimal_formats: dict[str, dict] = {}
        # xsl:namespace-alias stylesheet URI -> result URI
        self.ns_alias: dict[str, str] = {}
        self.output_method = "xml"
        self.default_ns_hint: str | None = None
        self._counter = [0]
        self._compile(source, _depth)
        # name -> template (last definition wins within a precedence level)
        self.named: dict[str, Template] = {}
        for t in sorted(self.templates, key=lambda t: (-t.import_depth, t.index)):
            if t.name:
                self.named[t.name] = t

    # compilation -----------------------------------------------------------
    def _compile(self, source: str, depth: int):
        try:
            root, nsmaps = _parse_stylesheet(source)
        except ET.ParseError as e:
            raise XsltError(f"stylesheet parse error: {e}") from e
        if root.tag not in (f"{{{XSL_NS}}}stylesheet", f"{{{XSL_NS}}}transform"):
            raise XsltError(f"not a stylesheet: {root.tag}")
        sheet_nsmap = nsmaps[id(root)]
        if depth == 0 and "" in sheet_nsmap:
            # default xmlns on the stylesheet: literal result elements land
            # in this namespace; also used as the unprefixed-name-test hint
            # for documents in that namespace (see xpath1._test).
            self.default_ns_hint = sheet_nsmap[""]
        self._nsmaps = getattr(self, "_nsmaps", {})
        self._nsmaps.update(nsmaps)

        for child in root:
            tag = child.tag
            if not tag.startswith(f"{{{XSL_NS}}}"):
                continue
            local = tag.split("}", 1)[1]
            if local in ("import", "include"):
                href = child.get("href")
                if not self.resolver:
                    raise XsltError(f"xsl:{local} {href!r} needs a resolver")
                # include keeps the including sheet's precedence level
                self._compile(
                    self.resolver(href), depth + (1 if local == "import" else 0)
                )
            elif local == "key":
                name = child.get("name")
                match = child.get("match")
                use = child.get("use")
                if not (name and match and use):
                    raise XsltError("xsl:key needs name, match and use")
                nsmap = nsmaps[id(child)]
                asts = [
                    XPath(alt, nsmap).ast
                    for alt in Template._split_union(match)
                ]
                self.keys.append((name, asts, use, nsmap))
            elif local in ("strip-space", "preserve-space"):
                target = (
                    self.strip_names
                    if local == "strip-space"
                    else self.preserve_names
                )
                nsmap = nsmaps[id(child)]
                for name in (child.get("elements") or "").split():
                    if name == "*":
                        target.add(("*", "*"))
                    elif ":" in name:
                        prefix, loc = name.split(":", 1)
                        target.add((nsmap.get(prefix, ""), loc))
                    else:
                        target.add(("", name))
            elif local == "template":
                self._counter[0] += 1
                self.templates.append(
                    Template(child, nsmaps[id(child)], depth, self._counter[0])
                )
            elif local in ("param", "variable"):
                name = child.get("name")
                if not name:
                    raise XsltError(f"xsl:{local} without name")
                self.globals.append(
                    (name, child.get("select"), child, nsmaps[id(child)], local == "param")
                )
            elif local == "attribute-set":
                name = child.get("name")
                if not name:
                    raise XsltError("xsl:attribute-set without name")
                self.attr_sets.setdefault(name, []).append(
                    (child, nsmaps[id(child)])
                )
            elif local == "decimal-format":
                self.decimal_formats[child.get("name") or ""] = dict(
                    child.attrib
                )
            elif local == "namespace-alias":
                nsmap = nsmaps[id(child)]

                def _uri_of(prefix):
                    return nsmap.get("" if prefix == "#default" else prefix, "")

                self.ns_alias[_uri_of(child.get("stylesheet-prefix"))] = (
                    _uri_of(child.get("result-prefix"))
                )
            elif local == "output":
                self.output_method = child.get("method", "xml")
            elif local == "message":
                pass
            elif local in _UNSUPPORTED:
                raise XsltError(f"unsupported top-level xsl:{local}")
            # xsl:output attributes beyond method are serialization hints
            # (indent/encoding) this engine does not act on.

    # transformation --------------------------------------------------------
    def transform(self, xml: str, params: dict[str, object] | None = None) -> str:
        """Transform an XML string; returns serialized XML (no declaration)."""
        nodes = self.transform_to_nodes(xml, params)
        return "".join(_serialize(n, {}) for n in nodes)

    def transform_to_nodes(self, xml: str, params=None) -> list[ONode]:
        from .xpath1 import parse_xml

        doc = parse_xml(xml)
        if self.strip_names:
            _strip_space(doc, self.strip_names, self.preserve_names)
        run = _Run(self, params or {})
        out: list[ONode] = []
        run.apply_templates([doc], None, Context(doc, 1, 1, run.globals,
                                                 extra=run.extra), out, {})
        return out

    def transform_to_fields(self, xml: str, params=None) -> list[tuple[str, str]]:
        """transformToSolrArray analogue: collect <field name=..>text</field>."""
        nodes = self.transform_to_nodes(xml, params)
        fields: list[tuple[str, str]] = []

        def walk(n: ONode):
            if n.kind == "elem" and n.name == "field":
                fname = next((v for (_, a, v) in n.attrs if a == "name"), None)
                if fname:
                    fields.append((fname, n.string_value()))
            for c in n.children:
                walk(c)

        for n in nodes:
            walk(n)
        return fields


def _parse_stylesheet(source: str):
    parser = ET.XMLPullParser(events=("start", "end", "start-ns"))
    parser.feed(source)
    parser.close()
    nsmaps: dict[int, dict[str, str]] = {}
    stack: list[dict[str, str]] = []
    pending: list[tuple[str, str]] = []
    root = None
    for ev, obj in parser.read_events():
        if ev == "start-ns":
            pending.append(obj)
        elif ev == "start":
            cur = dict(stack[-1]) if stack else {}
            for p, u in pending:
                cur[p] = u
            pending = []
            nsmaps[id(obj)] = cur
            stack.append(cur)
            if root is None:
                root = obj
        else:
            stack.pop()
    return root, nsmaps


# ---------------------------------------------------------------------------
# Execution

_AVT_RE = re.compile(r"\{([^{}]*)\}|\{\{|\}\}")


def _format_number(value: float, picture: str, fmt: dict) -> str:
    """XSLT 1.0 format-number(): the JDK DecimalFormat subset real
    stylesheets use — grouping, min/max fraction digits, min integer
    digits, prefix/suffix, percent/per-mille, a negative subpattern, and
    xsl:decimal-format overrides for every special character."""
    import math

    dec = fmt.get("decimal-separator", ".")
    grp = fmt.get("grouping-separator", ",")
    minus = fmt.get("minus-sign", "-")
    nan = fmt.get("NaN", "NaN")
    inf = fmt.get("infinity", "Infinity")
    percent = fmt.get("percent", "%")
    permille = fmt.get("per-mille", "\u2030")
    zero = fmt.get("zero-digit", "0")
    digit = fmt.get("digit", "#")
    patsep = fmt.get("pattern-separator", ";")

    if math.isnan(value):
        return nan

    subs = picture.split(patsep, 1)
    neg = value < 0 or (value == 0 and math.copysign(1, value) < 0)
    if neg and len(subs) == 2:
        sub, prefix_sign = subs[1], ""
    else:
        sub, prefix_sign = subs[0], (minus if neg else "")
    value = abs(value)

    mult = 1
    if percent in sub:
        mult = 100
    elif permille in sub:
        mult = 1000

    # split prefix / number pattern / suffix
    special = set(zero + digit + dec + grp)
    i = 0
    while i < len(sub) and sub[i] not in special:
        i += 1
    j = len(sub)
    while j > i and sub[j - 1] not in special:
        j -= 1
    prefix, num_pat, suffix = sub[:i], sub[i:j], sub[j:]

    int_pat, _, frac_pat = num_pat.partition(dec)
    min_int = int_pat.count(zero) or (0 if frac_pat else 1)
    min_frac = frac_pat.count(zero)
    max_frac = min_frac + frac_pat.count(digit)
    # grouping size: digits right of the LAST grouping separator
    group_size = 0
    if grp in int_pat:
        group_size = len(int_pat) - int_pat.rindex(grp) - 1

    if math.isinf(value):
        return prefix_sign + prefix + inf + suffix

    scaled = value * mult
    q = round(scaled, max_frac)  # bankers' rounding, like DecimalFormat
    int_part = int(q)
    int_str = str(int_part).rjust(min_int, "0") if int_part or min_int else ""
    if group_size:
        out = []
        for k, ch in enumerate(reversed(int_str)):
            if k and k % group_size == 0:
                out.append(grp)
            out.append(ch)
        int_str = "".join(reversed(out))
    frac_str = ""
    if max_frac:
        frac_str = f"{q - int_part:.{max_frac}f}"[2:].rstrip("0")
        frac_str = frac_str.ljust(min_frac, "0")
    if zero != "0":
        delta = ord(zero) - ord("0")
        tr = {ord(str(d)): chr(ord(str(d)) + delta) for d in range(10)}
        int_str = int_str.translate(tr)
        frac_str = frac_str.translate(tr)
    body = int_str + (dec + frac_str if frac_str else "")
    return prefix_sign + prefix + body + suffix


def _strip_space(doc: XNode, strip, preserve) -> None:
    """Remove whitespace-only text children of elements named by
    xsl:strip-space (minus preserve-space exceptions)."""

    def matches(el, names) -> bool:
        # XSLT 1.0 NameTest semantics: `*`, `prefix:*` (any local name in
        # that namespace), `prefix:local`, or unprefixed `local` — which
        # matches NULL-namespace elements only (XPath 1.0 NameTests never
        # apply the default namespace), so ('', name) entries compare
        # against (el.ns, el.name) like any other.
        return (
            ("*", "*") in names
            or (el.ns, el.name) in names
            or (el.ns, "*") in names
        )

    stack = [doc]
    while stack:
        el = stack.pop()
        if el.kind == ELEM and matches(el, strip) and not matches(el, preserve):
            el.children = [
                c
                for c in el.children
                if not (c.kind == TEXT and not c.value.strip())
            ]
        stack.extend(c for c in el.children if c.kind in (ELEM, ROOT))


class _Run:
    def __init__(self, sheet: MiniXSLT, params: dict[str, object]):
        self.sheet = sheet
        self.nsmaps = sheet._nsmaps
        self.extra = {
            "default_ns_hint": sheet.default_ns_hint,
            "functions": {
                **{
                    name: self._wrap_extension(fn)
                    for name, fn in sheet.extensions.items()
                },
                "key": self._fn_key,
                "current": self._fn_current,
                "document": self._fn_document,
                "format-number": self._fn_format_number,
            },
        }
        # document() cache: (href, base) -> parsed XNode root (per run)
        self._documents: dict[tuple[str, str], object] = {}
        # document root id -> the href it was loaded from ('' = source
        # document); feeds the base of document()'s two-argument form
        self._doc_base: dict[int, str] = {}
        # (template, mode) frames for xsl:apply-imports
        self._tmpl_stack: list[tuple] = []
        # xsl:key indexes built lazily per (document root, key name)
        self._key_indexes: dict[tuple[int, str], dict[str, list]] = {}
        self._current_node = None
        self.messages: list[str] = []
        self._xpath_cache: dict[tuple[str, int], XPath] = {}
        # global params/variables evaluate lazily against the document? The
        # corpus only binds literals/strings — evaluate eagerly with an
        # empty context; document-dependent globals are not in the subset.
        self.globals: dict[str, object] = {}
        for name, select, elem, nsmap, is_param in sheet.globals:
            if is_param and name in params:
                self.globals[name] = params[name]
            elif select is not None:
                dummy = XNode(ROOT)
                self.globals[name] = self._xp(select, nsmap).evaluate(
                    Context(dummy, 1, 1, self.globals, nsmap, self.extra)
                )
            else:
                body: list[ONode] = []
                self.instructions(
                    elem, Context(XNode(ROOT), 1, 1, self.globals, nsmap, self.extra),
                    body, {},
                )
                self.globals[name] = RTF(body)
        for name, val in params.items():
            self.globals.setdefault(name, val)

    def _xp(self, expr: str, nsmap: dict[str, str]) -> XPath:
        key = (expr, id(nsmap))
        xp = self._xpath_cache.get(key)
        if xp is None:
            xp = XPath(expr, nsmap)
            self._xpath_cache[key] = xp
        return xp

    # key() / current() / document() extension functions ---------------------
    def _node_base(self, node) -> str:
        """The href the node's own document was loaded from ('' for the
        source document / RTFs) — document()'s base-URI notion, with the
        caller-injected resolver owning actual URI semantics."""
        cur = node
        while getattr(cur, "parent", None) is not None:
            cur = cur.parent
        return self._doc_base.get(id(cur), "")

    def _fn_document(self, ctx: Context, args):
        """XSLT 1.0 ``document()``: the href (a string, or a node-set
        whose each node's string value is an href) is resolved through
        the injected ``document_resolver``; returns the root node(s) of
        the parsed document(s). The two-argument form passes the BASE
        href along — per §12.1 the base of the first node in the
        second-argument node-set (or, for document(node-set) one-arg
        calls, of each href node itself) — to a two-parameter resolver;
        a one-parameter resolver receives only the href (relative
        resolution stays the caller's job either way)."""
        import inspect

        from .xpath1 import parse_xml

        if len(args) not in (1, 2):
            raise XsltError("document() takes 1 or 2 arguments")
        if isinstance(args[0], list):
            href_base = [
                (n.string_value(), self._node_base(n)) for n in args[0]
            ]
        else:
            href_base = [(_rtf_aware_string(args[0]), "")]
        if len(args) == 2:
            if not isinstance(args[1], list):
                raise XsltError(
                    "document()'s second argument must be a node-set"
                )
            base = self._node_base(args[1][0]) if args[1] else ""
            href_base = [(h, base) for h, _ in href_base]
        resolve = self.sheet.document_resolver
        takes_base = None
        out = []
        for href, base in href_base:
            root = self._documents.get((href, base))
            if root is None:
                if resolve is None:
                    raise XsltError(
                        "document() requires a document_resolver "
                        "(MiniXSLT(source, document_resolver=...))"
                    )
                if takes_base is None:
                    try:
                        sig = inspect.signature(resolve)
                        takes_base = len(sig.parameters) >= 2
                    except (TypeError, ValueError):
                        takes_base = False
                body = resolve(href, base) if takes_base else resolve(href)
                root = parse_xml(body)
                if self.sheet.strip_names:
                    _strip_space(
                        root, self.sheet.strip_names, self.sheet.preserve_names
                    )
                self._documents[(href, base)] = root
                self._doc_base[id(root)] = href
            out.append(root)
        return out

    @staticmethod
    def _wrap_extension(fn):
        # registered extension functions see string arguments and return
        # strings, like the reference's registerPHPFunctions surface
        def call(ctx, args):
            return str(fn(*[_rtf_aware_string(a) for a in args]))

        return call

    def _fn_format_number(self, ctx: Context, args):
        if len(args) not in (2, 3):
            raise XsltError("format-number() takes 2 or 3 arguments")
        value = xp_number(args[0])
        picture = _rtf_aware_string(args[1])
        name = _rtf_aware_string(args[2]) if len(args) == 3 else ""
        fmt = self.sheet.decimal_formats.get(name)
        if fmt is None and name:
            raise XsltError(
                f"format-number() references undeclared decimal-format {name!r}"
            )
        return _format_number(value, picture, fmt or {})

    def _fn_current(self, ctx: Context, args):
        node = self.extra.get("current_node") or ctx.node
        return [node]

    def _fn_key(self, ctx: Context, args):
        if len(args) != 2:
            raise XsltError("key() takes exactly 2 arguments")
        name = xp_string(args[0])
        root = ctx.node
        while root.parent is not None:
            root = root.parent
        idx = self._key_index(root, name)
        values = (
            [n.string_value() for n in args[1]]
            if isinstance(args[1], list)
            else [_rtf_aware_string(args[1])]
        )
        out, seen = [], set()
        for v in values:
            for n in idx.get(v, ()):
                if id(n) not in seen:
                    seen.add(id(n))
                    out.append(n)
        out.sort(key=lambda n: n.order)
        return out

    def _key_index(self, root, name: str) -> dict[str, list]:
        ck = (id(root), name)
        cached = self._key_indexes.get(ck)
        if cached is not None:
            return cached
        defs = [d for d in self.sheet.keys if d[0] == name]
        if not defs:
            raise XsltError(f"key() references undeclared key {name!r}")
        idx: dict[str, list] = {}

        def walk(n):
            yield n
            for a in n.attrs:
                yield a
            for c in n.children:
                yield from walk(c)

        for node in walk(root):
            for _, asts, use, nsmap in defs:
                if not any(self.matches(node, a, nsmap) for a in asts):
                    continue
                v = self._xp(use, nsmap).evaluate(
                    Context(node, 1, 1, self.globals, nsmap, self.extra)
                )
                vals = (
                    [n.string_value() for n in v]
                    if isinstance(v, list)
                    else [_rtf_aware_string(v)]
                )
                for s in vals:
                    idx.setdefault(s, []).append(node)
        self._key_indexes[ck] = idx
        return idx

    # xsl:sort ---------------------------------------------------------------
    def _sorted(self, elem, nodes, ctx: Context):
        """Apply child xsl:sort specs (multi-key, text/number, asc/desc,
        lang via the injected collator)."""
        specs = [c for c in elem if c.tag == f"{{{XSL_NS}}}sort"]
        if not specs or not nodes:
            return nodes
        # lang is an AVT (XSLT 1.0 §10); resolve each spec's collation
        # key function once per sort, against the SORTING context
        key_funcs = []
        for s in specs:
            lang_avt = s.get("lang")
            if lang_avt is None:
                key_funcs.append(None)
                continue
            lang = self.avt(lang_avt, ctx, self.nsmaps.get(id(s), {}))
            if self.sheet.collator is not None:
                key_funcs.append(self.sheet.collator(lang))
            else:
                key_funcs.append(_default_icu_collator(lang))
        size = len(nodes)
        keyed = []
        for i, node in enumerate(nodes):
            sub = ctx.with_node(node, i + 1, size)
            keys = []
            for s, key_fn in zip(specs, key_funcs):
                v = self._eval(s, s.get("select") or ".", sub)
                sv = _rtf_aware_string(v)
                if key_fn is not None and s.get("data-type") != "number":
                    keys.append((key_fn(sv), sv))
                elif s.get("data-type") == "number":
                    num = xp_number(sv)
                    # NaN sorts before every number in ascending order
                    keys.append((-1, 0.0) if num != num else (0, num))
                elif s.get("case-order") in ("upper-first", "lower-first"):
                    # XSLT 1.0 §10: case is a TIE-BREAK on otherwise
                    # case-equal strings, in the requested direction
                    first_upper = s.get("case-order") == "upper-first"
                    keys.append(
                        (
                            sv.casefold(),
                            tuple(
                                (0 if ch.isupper() else 1)
                                if first_upper
                                else (0 if ch.islower() else 1)
                                for ch in sv
                            ),
                            sv,
                        )
                    )
                else:
                    keys.append(sv)
            keyed.append((keys, node))
        # stable multi-key: apply specs last-to-first
        for si in range(len(specs) - 1, -1, -1):
            desc = specs[si].get("order") == "descending"
            keyed.sort(key=lambda t, si=si: t[0][si], reverse=desc)
        return [t[1] for t in keyed]

    # template dispatch -----------------------------------------------------
    def find_template(
        self, node: XNode, mode: str | None, min_depth: int = 0
    ) -> Template | None:
        best = None
        best_key = None
        for t in self.sheet.templates:
            if t.pattern is None or t.mode != mode:
                continue
            if t.import_depth < min_depth:
                continue
            for ast, prio in t.alternatives:
                if self.matches(node, ast, t.nsmap):
                    key = (-t.import_depth, prio, t.index)
                    if best_key is None or key > best_key:
                        best, best_key = t, key
        return best

    def matches(self, node: XNode, ast, nsmap) -> bool:
        return _match_pattern(self, node, ast, nsmap)

    def apply_templates(self, nodes, mode, ctx: Context, out, _params):
        size = len(nodes)
        for i, node in enumerate(nodes):
            sub = ctx.with_node(node, i + 1, size)
            t = self.find_template(node, mode)
            if t is not None:
                self.invoke(t, sub, out, _params, mode)
            else:
                self.builtin(node, mode, sub, out)

    def builtin(self, node: XNode, mode, ctx: Context, out):
        if node.kind in (ELEM, ROOT):
            kids = list(node.children)
            self.apply_templates(kids, mode, ctx, out, {})
        elif node.kind in (TEXT, ATTR):
            if node.value:
                out.append(ONode("text", value=node.value))
        # comments/PIs: nothing

    def invoke(self, t: Template, ctx: Context, out, params: dict, mode=None):
        # template-local frame starts from globals; xsl:param picks passed-in
        frame = dict(self.globals)
        body_ctx = Context(ctx.node, ctx.pos, ctx.size, frame, t.nsmap, self.extra)
        self._tmpl_stack.append((t, mode))
        try:
            self.instructions(t.body, body_ctx, out, params)
        finally:
            self._tmpl_stack.pop()

    # instruction interpreter ----------------------------------------------
    def instructions(self, parent_elem, ctx: Context, out, params: dict):
        """Execute the children of ``parent_elem`` into ``out``.

        ``params`` feeds xsl:param instructions at the top of the body.
        """
        if parent_elem.text and parent_elem.text.strip():
            out.append(ONode("text", value=parent_elem.text))
        for child in parent_elem:
            self.one(child, ctx, out, params)

    def one(self, elem, ctx: Context, out, params: dict):
        tag = elem.tag
        if callable(tag):  # comment/PI nodes in the stylesheet tree
            return
        if tag.startswith(f"{{{XSL_NS}}}"):
            local = tag.split("}", 1)[1]
            handler = getattr(self, "i_" + local.replace("-", "_"), None)
            if handler is None:
                raise XsltError(f"unsupported instruction xsl:{local}")
            handler(elem, ctx, out, params)
            self._tail(elem, out)
            return
        # literal result element
        uri, local = _split(tag)
        uri = self.sheet.ns_alias.get(uri, uri)
        nsmap = self.nsmaps.get(id(elem), {})
        node = ONode("elem", local, uri)
        use = elem.attrib.get(f"{{{XSL_NS}}}use-attribute-sets")
        if use:
            # set attrs land first so the element's OWN attributes win
            node.attrs.extend(self._attr_set_attrs(use, ctx))
        for aname, aval in elem.attrib.items():
            if aname == f"{{{XSL_NS}}}use-attribute-sets":
                continue
            auri, alocal = _split(aname)
            auri = self.sheet.ns_alias.get(auri, auri)
            node.attrs.append((auri, alocal, self.avt(aval, ctx, nsmap)))
        if elem.text and elem.text.strip():
            node.children.append(ONode("text", value=elem.text))
        inner_params: dict = {}
        body_ctx = ctx.with_vars(dict(ctx.vars))
        for c in elem:
            self.one(c, body_ctx, node.children, inner_params)
        _fold_attr_markers(node)
        out.append(node)
        self._tail(elem, out)

    def _tail(self, elem, out):
        if elem.tail and elem.tail.strip():
            out.append(ONode("text", value=elem.tail))

    def avt(self, value: str, ctx: Context, nsmap) -> str:
        def sub(m):
            if m.group(0) == "{{":
                return "{"
            if m.group(0) == "}}":
                return "}"
            self.extra["current_node"] = ctx.node
            v = self._xp(m.group(1), nsmap).evaluate(
                Context(ctx.node, ctx.pos, ctx.size, ctx.vars, nsmap, self.extra)
            )
            return _rtf_aware_string(v)

        return _AVT_RE.sub(sub, value)

    def _eval(self, elem, expr: str, ctx: Context):
        nsmap = self.nsmaps.get(id(elem), {})
        # XSLT current(): the node the innermost template/for-each is
        # processing — stays fixed while predicates rebind the context node
        self.extra["current_node"] = ctx.node
        v = self._xp(expr, nsmap).evaluate(
            Context(ctx.node, ctx.pos, ctx.size, ctx.vars, nsmap, self.extra)
        )
        return v

    def _select_nodes(self, elem, expr: str, ctx: Context):
        v = self._eval(elem, expr, ctx)
        if isinstance(v, RTF):
            raise XsltError(
                f"select={expr!r} produced a result tree fragment where a "
                "node-set is required (XSLT 1.0 restriction)"
            )
        if not isinstance(v, list):
            raise XsltError(f"select={expr!r} is not a node-set")
        return v

    # --- instructions ------------------------------------------------------
    def i_apply_templates(self, elem, ctx, out, params):
        mode = elem.get("mode")
        sel = elem.get("select")
        if sel:
            nodes = self._select_nodes(elem, sel, ctx)
        else:
            nodes = list(ctx.node.children)
        nodes = self._sorted(elem, nodes, ctx)
        passed = self._with_params(elem, ctx)
        self.apply_templates(nodes, mode, ctx, out, passed)

    def i_call_template(self, elem, ctx, out, params):
        name = elem.get("name")
        t = self.sheet.named.get(name)
        if t is None:
            raise XsltError(f"call-template: no template named {name!r}")
        passed = self._with_params(elem, ctx)
        cur_mode = self._tmpl_stack[-1][1] if self._tmpl_stack else None
        self.invoke(t, ctx, out, passed, cur_mode)

    def _with_params(self, elem, ctx) -> dict:
        passed = {}
        for c in elem:
            if c.tag == f"{{{XSL_NS}}}with-param":
                name = c.get("name")
                sel = c.get("select")
                if sel is not None:
                    passed[name] = self._eval(c, sel, ctx)
                else:
                    body: list[ONode] = []
                    inner: dict = {}
                    for cc in c:
                        self.one(cc, ctx, body, inner)
                    if c.text and c.text.strip():
                        body.insert(0, ONode("text", value=c.text))
                    passed[name] = RTF(body)
        return passed

    def i_param(self, elem, ctx, out, params):
        name = elem.get("name")
        if name in params:
            ctx.vars[name] = params[name]
        elif elem.get("select") is not None:
            ctx.vars[name] = self._eval(elem, elem.get("select"), ctx)
        else:
            body: list[ONode] = []
            self.instructions(elem, ctx, body, {})
            if elem.text and elem.text.strip():
                body.insert(0, ONode("text", value=elem.text))
            ctx.vars[name] = RTF(body) if body else ""

    def i_variable(self, elem, ctx, out, params):
        name = elem.get("name")
        sel = elem.get("select")
        if sel is not None:
            ctx.vars[name] = self._eval(elem, sel, ctx)
        else:
            body: list[ONode] = []
            inner: dict = {}
            if elem.text and elem.text.strip():
                body.append(ONode("text", value=elem.text))
            for c in elem:
                self.one(c, ctx, body, inner)
            ctx.vars[name] = RTF(body) if body else ""

    def i_value_of(self, elem, ctx, out, params):
        v = self._eval(elem, elem.get("select"), ctx)
        s = _rtf_aware_string(v)
        if s:
            out.append(ONode("text", value=s))

    def i_text(self, elem, ctx, out, params):
        if elem.text:
            out.append(ONode("text", value=elem.text))

    def i_fallback(self, elem, ctx, out, params):
        # xsl:fallback executes only when its PARENT instruction is
        # unsupported; every instruction this engine dispatches is
        # supported, so fallback bodies are skipped (XSLT 1.0 §15)
        return

    def i_apply_imports(self, elem, ctx, out, params):
        if not self._tmpl_stack:
            raise XsltError("xsl:apply-imports outside a template")
        cur_t, mode = self._tmpl_stack[-1]
        t = self.find_template(
            ctx.node, mode, min_depth=cur_t.import_depth + 1
        )
        if t is not None:
            self.invoke(t, ctx, out, {}, mode)
        else:
            self.builtin(ctx.node, mode, ctx, out)

    def _attr_set_attrs(self, names: str, ctx, _seen=frozenset()):
        """Evaluate the named xsl:attribute-set definitions (recursively
        honoring their use-attribute-sets) into (ns, name, value) attrs."""
        tmp = ONode("elem")
        for name in names.split():
            if name in _seen:
                raise XsltError(f"attribute-set {name!r} is circular")
            defs = self.sheet.attr_sets.get(name)
            if defs is None:
                raise XsltError(
                    f"use-attribute-sets references undeclared "
                    f"attribute-set {name!r}"
                )
            for d, _nsmap in defs:
                nested = d.get("use-attribute-sets")
                if nested:
                    tmp.attrs.extend(
                        self._attr_set_attrs(nested, ctx, _seen | {name})
                    )
                for c in d:
                    if c.tag == f"{{{XSL_NS}}}attribute":
                        self.one(c, ctx, tmp.children, {})
        _fold_attr_markers(tmp)
        return tmp.attrs

    def i_element(self, elem, ctx, out, params):
        nsmap = self.nsmaps.get(id(elem), {})
        qname = self.avt(elem.get("name", ""), ctx, nsmap)
        ns_attr = elem.get("namespace")
        if ns_attr is not None:
            uri = self.avt(ns_attr, ctx, nsmap)
            local = qname.split(":", 1)[-1]
        elif ":" in qname:
            prefix, local = qname.split(":", 1)
            uri = nsmap.get(prefix, "")
        else:
            local = qname
            uri = nsmap.get("", "")
        node = ONode("elem", local, uri)
        use = elem.get("use-attribute-sets")
        if use:
            node.attrs.extend(self._attr_set_attrs(use, ctx))
        if elem.text and elem.text.strip():
            node.children.append(ONode("text", value=elem.text))
        inner: dict = {}
        body_ctx = ctx.with_vars(dict(ctx.vars))
        for c in elem:
            self.one(c, body_ctx, node.children, inner)
        _fold_attr_markers(node)
        out.append(node)

    def i_attribute(self, elem, ctx, out, params):
        nsmap = self.nsmaps.get(id(elem), {})
        qname = self.avt(elem.get("name", ""), ctx, nsmap)
        ns_attr = elem.get("namespace")
        body: list[ONode] = []
        if elem.text and elem.text.strip():
            body.append(ONode("text", value=elem.text))
        inner: dict = {}
        for c in elem:
            self.one(c, ctx, body, inner)
        value = "".join(n.string_value() for n in body)
        if ns_attr is not None:
            uri = self.avt(ns_attr, ctx, nsmap)
            local = qname.split(":", 1)[-1]
        elif ":" in qname:
            prefix, local = qname.split(":", 1)
            uri = nsmap.get(prefix, "")
        else:
            uri, local = "", qname
        # emit an attribute MARKER; the enclosing element builder (or the
        # serializer, as a last resort) folds leading markers into attrs
        out.append(ONode("attr", local, uri, value=value))

    def i_copy(self, elem, ctx, out, params):
        node = ctx.node
        if node.kind == ELEM:
            o = ONode("elem", node.name, node.ns)
            use = elem.get("use-attribute-sets")
            if use:
                o.attrs.extend(self._attr_set_attrs(use, ctx))
            inner: dict = {}
            if elem.text and elem.text.strip():
                o.children.append(ONode("text", value=elem.text))
            body_ctx = ctx.with_vars(dict(ctx.vars))
            for c in elem:
                self.one(c, body_ctx, o.children, inner)
            _fold_attr_markers(o)
            out.append(o)
        elif node.kind in (TEXT, ATTR):
            if node.kind == ATTR:
                marker = ONode("attr", node.name, node.ns, value=node.value)
                out.append(marker)
            else:
                out.append(ONode("text", value=node.value))
        elif node.kind == ROOT:
            inner = {}
            for c in elem:
                self.one(c, ctx, out, inner)
        elif node.kind == COMMENT:
            out.append(ONode("comment", value=node.value))
        elif node.kind == PI:
            out.append(ONode("pi", node.name, value=node.value))

    def i_copy_of(self, elem, ctx, out, params):
        v = self._eval(elem, elem.get("select"), ctx)
        if isinstance(v, RTF):
            out.extend(_deep_copy_onodes(v.nodes))
        elif isinstance(v, list):
            for n in v:
                out.append(_xnode_to_onode(n))
        else:
            s = xp_string(v)
            if s:
                out.append(ONode("text", value=s))

    def i_if(self, elem, ctx, out, params):
        v = self._eval(elem, elem.get("test"), ctx)
        if _rtf_bool(v):
            if elem.text and elem.text.strip():
                out.append(ONode("text", value=elem.text))
            inner: dict = {}
            for c in elem:
                self.one(c, ctx, out, inner)

    def i_choose(self, elem, ctx, out, params):
        for c in elem:
            if c.tag == f"{{{XSL_NS}}}when":
                if _rtf_bool(self._eval(c, c.get("test"), ctx)):
                    if c.text and c.text.strip():
                        out.append(ONode("text", value=c.text))
                    inner: dict = {}
                    for cc in c:
                        self.one(cc, ctx, out, inner)
                    return
            elif c.tag == f"{{{XSL_NS}}}otherwise":
                if c.text and c.text.strip():
                    out.append(ONode("text", value=c.text))
                inner = {}
                for cc in c:
                    self.one(cc, ctx, out, inner)
                return

    def i_sort(self, elem, ctx, out, params):
        pass  # consumed by the parent for-each / apply-templates

    def i_for_each(self, elem, ctx, out, params):
        nodes = self._select_nodes(elem, elem.get("select"), ctx)
        nodes = self._sorted(elem, nodes, ctx)
        size = len(nodes)
        for i, n in enumerate(nodes):
            sub = ctx.with_node(n, i + 1, size)
            sub = sub.with_vars(dict(ctx.vars))
            if elem.text and elem.text.strip():
                out.append(ONode("text", value=elem.text))
            inner: dict = {}
            for c in elem:
                self.one(c, sub, out, inner)

    def i_message(self, elem, ctx, out, params):
        body: list[ONode] = []
        inner: dict = {}
        if elem.text and elem.text.strip():
            body.append(ONode("text", value=elem.text))
        for c in elem:
            self.one(c, ctx, body, inner)
        self.messages.append("".join(n.string_value() for n in body))

    def i_comment(self, elem, ctx, out, params):
        body: list[ONode] = []
        inner: dict = {}
        for c in elem:
            self.one(c, ctx, body, inner)
        text = (elem.text or "") + "".join(n.string_value() for n in body)
        out.append(ONode("comment", value=text))

    def i_output(self, elem, ctx, out, params):
        pass

    def i_number(self, elem, ctx, out, params):
        """xsl:number — value expr, or level single/any/multiple with
        count/from patterns; format tokens 1, 01, a, A, i, I."""
        fmt = elem.get("format", "1")
        if elem.get("value") is not None:
            n = xp_number(
                _rtf_aware_string(self._eval(elem, elem.get("value"), ctx))
            )
            if n != n:  # NaN
                out.append(ONode("text", value="NaN"))
            else:
                out.append(
                    ONode(
                        "text",
                        value=_format_number_list([int(n + 0.5)], fmt),
                    )
                )
            return
        level = elem.get("level", "single")
        nsmap = self.nsmaps.get(id(elem), {})
        node = ctx.node

        def compile_pattern(pat):
            asts = [
                XPath(alt, nsmap).ast for alt in Template._split_union(pat)
            ]
            return lambda n: any(self.matches(n, a, nsmap) for a in asts)

        if elem.get("count"):
            cmatch = compile_pattern(elem.get("count"))
        else:
            kind, name, ns = node.kind, node.name, node.ns

            def cmatch(n):
                return n.kind == kind and n.name == name and n.ns == ns

        fmatch = compile_pattern(elem.get("from")) if elem.get("from") else None

        if level == "any":
            root = node
            while root.parent is not None:
                root = root.parent

            def walk(n):
                yield n
                for c in n.children:
                    yield from walk(c)

            cnt = 0
            for n in walk(root):
                if fmatch is not None and fmatch(n):
                    cnt = 0
                if cmatch(n):
                    cnt += 1
                if n is node:
                    break
            nums = [cnt] if cnt else []
        else:
            levels: list[int] = []
            anc = node
            while anc is not None and not (fmatch is not None and fmatch(anc)):
                if cmatch(anc):
                    c = 1
                    if anc.parent is not None:
                        for sib in anc.parent.children:
                            if sib is anc:
                                break
                            if cmatch(sib):
                                c += 1
                    levels.append(c)
                    if level == "single":
                        break
                anc = anc.parent
            nums = list(reversed(levels)) if level == "multiple" else levels[:1]
        out.append(ONode("text", value=_format_number_list(nums, fmt)))


def _to_alpha(n: int, upper: bool) -> str:
    # 1 -> a, 26 -> z, 27 -> aa (bijective base 26)
    s = ""
    while n > 0:
        n, r = divmod(n - 1, 26)
        s = chr(ord("a") + r) + s
    return s.upper() if upper else s


_ROMAN = (
    (1000, "m"), (900, "cm"), (500, "d"), (400, "cd"), (100, "c"),
    (90, "xc"), (50, "l"), (40, "xl"), (10, "x"), (9, "ix"),
    (5, "v"), (4, "iv"), (1, "i"),
)


def _to_roman(n: int, upper: bool) -> str:
    if n <= 0:
        return str(n)
    s = ""
    for val, sym in _ROMAN:
        while n >= val:
            s += sym
            n -= val
    return s.upper() if upper else s


def _format_one(n: int, token: str) -> str:
    if token == "a":
        return _to_alpha(n, False)
    if token == "A":
        return _to_alpha(n, True)
    if token == "i":
        return _to_roman(n, False)
    if token == "I":
        return _to_roman(n, True)
    if token.isdigit():  # '1', '01', '001' -> zero-padded width
        return str(n).zfill(len(token))
    return str(n)


def _format_number_list(nums: list[int], fmt: str) -> str:
    if not nums:
        return ""
    parts = re.findall(r"[0-9A-Za-z]+|[^0-9A-Za-z]+", fmt)
    tokens: list[str] = []
    seps: list[str] = []  # seps[i] precedes tokens[i]
    prefix = suffix = ""
    if parts and not parts[0][0].isalnum():
        prefix = parts.pop(0)
    if parts and not parts[-1][0].isalnum():
        suffix = parts.pop()
    for p in parts:
        if p[0].isalnum():
            tokens.append(p)
        else:
            seps.append(p)
    if not tokens:
        tokens = ["1"]
    out = [prefix]
    for i, n in enumerate(nums):
        if i > 0:
            out.append(seps[i - 1] if i - 1 < len(seps) else (seps[-1] if seps else "."))
        out.append(_format_one(n, tokens[min(i, len(tokens) - 1)]))
    out.append(suffix)
    return "".join(out)


def _fold_attr_markers(node: ONode) -> None:
    """Fold leading attribute-marker children into the element's attrs.

    XSLT 1.0: adding an attribute REPLACES an existing attribute with the
    same expanded name — later definitions win.
    """
    kept: list[ONode] = []
    lead = True
    for c in node.children:
        if c.kind == "attr" and lead:
            node.attrs.append((c.ns, c.name, c.value))
        else:
            if c.kind == "attr":
                continue  # attributes after content start are discarded
            if not (c.kind == "text" and c.value.strip() == "" and lead):
                lead = False
            kept.append(c)
    node.children = kept
    seen: dict[tuple[str, str], int] = {}
    deduped: list[tuple[str, str, str]] = []
    for ns, name, value in node.attrs:
        key = (ns, name)
        if key in seen:
            deduped[seen[key]] = (ns, name, value)
        else:
            seen[key] = len(deduped)
            deduped.append((ns, name, value))
    node.attrs = deduped


def _rtf_bool(v) -> bool:
    if isinstance(v, RTF):
        return True  # a fragment is a non-empty "node-set" for boolean()
    return xp_boolean(v)


def _split(tag: str) -> tuple[str, str]:
    if tag.startswith("{"):
        uri, _, local = tag[1:].partition("}")
        return uri, local
    return "", tag


def _xnode_to_onode(n: XNode) -> ONode:
    if n.kind == ELEM:
        o = ONode("elem", n.name, n.ns)
        for a in n.attrs:
            o.attrs.append((a.ns, a.name, a.value))
        for c in n.children:
            o.children.append(_xnode_to_onode(c))
        return o
    if n.kind == TEXT:
        return ONode("text", value=n.value)
    if n.kind == ATTR:
        return ONode("attr", n.name, n.ns, value=n.value)
    if n.kind == COMMENT:
        return ONode("comment", value=n.value)
    if n.kind == PI:
        return ONode("pi", n.name, value=n.value)
    # ROOT: wrap children
    o = ONode("elem", "#root", "")
    for c in n.children:
        o.children.append(_xnode_to_onode(c))
    return o


def _deep_copy_onodes(nodes: list[ONode]) -> list[ONode]:
    out = []
    for n in nodes:
        o = ONode(n.kind, n.name, n.ns, n.value)
        o.attrs = list(n.attrs)
        o.children = _deep_copy_onodes(n.children)
        out.append(o)
    return out


# ---------------------------------------------------------------------------
# Pattern matching

def _match_pattern(run: _Run, node: XNode, ast, nsmap) -> bool:
    """Does ``node`` match the compiled pattern AST?"""
    op = ast[0]
    if op == "union":
        return _match_pattern(run, node, ast[1], nsmap) or _match_pattern(
            run, node, ast[2], nsmap
        )
    if op == "root":
        return node.kind == ROOT
    if op == "rel":
        return _match_steps(run, node, ast[1], nsmap, anchored=False)
    if op == "abs":
        return _match_steps(run, node, ast[1], nsmap, anchored=True)
    if op == "absdesc":
        return _match_steps(run, node, ast[1], nsmap, anchored=False)
    raise XsltError(f"unsupported match pattern AST {op!r}")


def _match_steps(run: _Run, node: XNode, steps, nsmap, anchored: bool) -> bool:
    """Match right-to-left: node must match the last step, each preceding
    step must match on the parent chain ('/' = parent, '//' = any ancestor
    gap). ``anchored`` requires the chain to terminate at the root."""
    xp = XPath(".", nsmap)  # evaluator carrier for _test / predicates

    def step_matches(n: XNode, step) -> bool:
        _, axis, test, preds = step
        if axis == "descendant-or-self" and test == ("node",) and not preds:
            return True  # the '//' separator pseudo-step
        if axis == "attribute":
            ok = n.kind == ATTR and xp._test(
                n, test, "attribute",
                Context(n, 1, 1, run.globals, nsmap, run.extra),
            )
        elif axis == "child":
            ok = n.kind != ATTR and xp._test(
                n, test, "child", Context(n, 1, 1, run.globals, nsmap, run.extra)
            )
        else:
            raise XsltError(f"unsupported pattern axis {axis!r}")
        if not ok:
            return False
        for p in preds:
            # positional predicates: position among like-named siblings
            sibs = (
                [s for s in n.parent.children if xp._test(
                    s, test, "child",
                    Context(s, 1, 1, run.globals, nsmap, run.extra))]
                if n.parent is not None else [n]
            )
            try:
                pos = sibs.index(n) + 1
            except ValueError:
                pos = 1
            c = Context(n, pos, len(sibs), run.globals, nsmap, run.extra)
            v = xp._eval(p, c)
            if isinstance(v, float):
                if v != pos:
                    return False
            elif not xp_boolean(v):
                return False
        return True

    i = len(steps) - 1
    cur: XNode | None = node
    # the last step must match the node itself
    if not step_matches(cur, steps[i]):
        return False
    i -= 1
    cur = cur.parent
    while i >= 0:
        step = steps[i]
        _, axis, test, preds = step
        if axis == "descendant-or-self" and test == ("node",) and not preds:
            # '//': the next outer step may match any ancestor
            i -= 1
            if i < 0:
                break
            outer = steps[i]
            while cur is not None and not step_matches(cur, outer):
                cur = cur.parent
            if cur is None:
                return False
            i -= 1
            cur = cur.parent
            continue
        if cur is None or not step_matches(cur, step):
            return False
        i -= 1
        cur = cur.parent
    if anchored:
        return cur is not None and cur.kind == ROOT
    return True


# ---------------------------------------------------------------------------
# Serialization

def _serialize(node: ONode, in_scope: dict[str, str]) -> str:
    if node.kind == "text":
        return escape(node.value)
    if node.kind == "comment":
        return f"<!--{node.value}-->"
    if node.kind == "pi":
        return f"<?{node.name} {node.value}?>"
    if node.kind == "attr":
        return ""  # dangling attribute marker outside an element: drop
    # element: fold any remaining attr-marker children (elements built by
    # xsl:copy-of of raw node-sets skip _fold_attr_markers), last wins
    _fold_attr_markers(node)
    attrs = node.attrs
    children = node.children
    scope = dict(in_scope)
    decls = []
    if (scope.get("") or "") != node.ns:
        decls.append((None, node.ns))
        scope[""] = node.ns
    parts = [f"<{node.name}"]
    pcount = 0
    for auri, aname, aval in attrs:
        if auri:
            prefix = next((p for p, u in scope.items() if u == auri and p), None)
            if prefix is None:
                pcount += 1
                prefix = f"ns{pcount}"
                scope[prefix] = auri
                decls.append((prefix, auri))
            parts.append(f" {prefix}:{aname}={quoteattr(aval)}")
        else:
            parts.append(f" {aname}={quoteattr(aval)}")
    for prefix, uri in decls:
        if prefix is None:
            if uri:
                parts.append(f' xmlns={quoteattr(uri)}')
            elif in_scope.get(""):
                parts.append(' xmlns=""')
        else:
            parts.append(f" xmlns:{prefix}={quoteattr(uri)}")
    if not children:
        parts.append("/>")
        return "".join(parts)
    parts.append(">")
    for c in children:
        parts.append(_serialize(c, scope))
    parts.append(f"</{node.name}>")
    return "".join(parts)
