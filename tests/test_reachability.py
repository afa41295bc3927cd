"""Every package module, top-level definition and defaulted parameter
must be used from an entry point.

The entry points (roots) are the console commands (``cli.py``,
``__main__.py``), the driver contract (``__spark_entry__.py``), the
benchmark (``perfbench/*.py``) and the tools (``tools/*.py``).

- Modules: the import statements (anywhere in a file, since commands
  import lazily inside their functions) are followed from the roots.
- Package ``__init__.py`` files import nothing, so a module is reached
  only through an import of it, never by sitting beside a re-export.
- Definitions: a top-level function, class or constant is used when
  used code names it, as a variable or an attribute. A module's other
  top-level statements run on import, so what they name is used too.
  Names match by spelling, not by module, so the check errs toward
  keeping code: it can miss dead code, and it flags only code that
  nothing used names.
- Parameters: a defaulted parameter of a top-level package function is
  an option only if some call in the repo (tests included) passes it,
  by keyword or by position. One that nothing sets is a constant.

Code that no root uses is code no command runs: wire it into a command
or delete it. Each allowlist entry names its reason. A "floor test"
entry is a definition that no root uses but that a test in the suite's
pinned passing set still checks; it goes when that test goes.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "recordmanager_spark"

DEFINITION_ALLOWLIST = {
    f"{PKG}.__version__": "package metadata",
    f"{PKG}.functions.bpe.word_frequencies":
        "floor test: test_bpe::test_word_frequencies",
    f"{PKG}.sinks.solr.SolrPusher": "floor test: test_solr_pusher",
    f"{PKG}.sinks.solr.push_dataframe":
        "floor test: test_solr_pusher::test_push_dataframe_end_to_end",
}

PARAMETER_ALLOWLIST = {
    f"{PKG}.examples.log_sender.make_smtp_mailer(sender=)":
        "deployment setting: the report sender's mail address",
}


@functools.cache
def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


@functools.cache
def _scan(path: Path) -> tuple[list[ast.stmt], list[ast.Call]]:
    """One pass over a file: its import statements and its calls."""
    imports, calls = [], []
    for n in ast.walk(_tree(path)):
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            imports.append(n)
        elif isinstance(n, ast.Call):
            calls.append(n)
    return imports, calls


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _package_of(name: str, path: Path) -> str:
    return name if path.name == "__init__.py" else name.rpartition(".")[0]


def _roots() -> list[tuple[str, Path]]:
    return [
        (f"{PKG}.cli", ROOT / PKG / "cli.py"),
        (f"{PKG}.__main__", ROOT / PKG / "__main__.py"),
        ("__spark_entry__", ROOT / "__spark_entry__.py"),
    ] + [
        (p.stem, p)
        for d in ("perfbench", "tools")
        for p in sorted((ROOT / d).glob("*.py"))
    ]


def _imported(name: str, path: Path) -> set[str]:
    """Package modules named by the import statements in ``path``,
    with every parent package of each (importing ``a.b.c`` runs
    ``a/__init__`` and ``a/b/__init__`` too)."""
    out: set[str] = set()
    for node in _scan(path)[0]:
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        else:
            base = node.module or ""
            if node.level:
                pkg = _package_of(name, path).split(".")
                anchor = ".".join(pkg[: len(pkg) - node.level + 1])
                base = f"{anchor}.{base}" if base else anchor
            # ``from pkg import mod`` names a submodule when one exists
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        for t in targets:
            if t.split(".")[0] != PKG or _module_file(t) is None:
                continue
            parts = t.split(".")
            out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def _reached() -> set[str]:
    roots = _roots()
    seen = {name for name, _ in roots}
    todo = list(roots)
    while todo:
        name, path = todo.pop()
        for mod in _imported(name, path) - seen:
            seen.add(mod)
            todo.append((mod, _module_file(mod)))
    return seen


def _package_modules() -> dict[str, Path]:
    out = {}
    for p in (ROOT / PKG).rglob("*.py"):
        parts = p.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = p
    return out


def _names(node: ast.AST) -> set[str]:
    """Every variable and attribute name ``node`` mentions."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    """The names a top-level statement defines: a function, a class, or
    constants bound to plain names."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = (
        stmt.targets if isinstance(stmt, ast.Assign)
        else [stmt.target] if isinstance(stmt, ast.AnnAssign)
        else []
    )
    if targets and all(isinstance(t, ast.Name) for t in targets):
        return [t.id for t in targets]
    return []


def _unused_definitions() -> list[str]:
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    aliases: dict[str, set[str]] = {}  # ``import x as y``: y -> {x}
    used: set[str] = set()
    outside = [p for name, p in _roots() if not name.startswith(PKG)]
    for path in outside:
        used |= _names(_tree(path))
    for mod, path in _package_modules().items():
        for stmt in _tree(path).body:
            names = _defined(stmt)
            for name in names:
                defs.setdefault(name, []).append((mod, stmt))
            if not names and not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                used |= _names(stmt)
    for path in outside + list(_package_modules().values()):
        for node in _scan(path)[0]:
            for a in node.names:
                if a.asname:
                    aliases.setdefault(a.asname, set()).add(a.name)
    reached: set[int] = set()
    todo = list(used)
    while todo:
        name = todo.pop()
        new = set(aliases.get(name, ()))
        for _, stmt in defs.get(name, ()):
            if id(stmt) not in reached:
                reached.add(id(stmt))
                new |= _names(stmt)
        new -= used
        used |= new
        todo.extend(new)
    return sorted(
        f"{mod}.{name}"
        for name, sites in defs.items()
        for mod, stmt in sites
        if id(stmt) not in reached
    )


def _callee(func: ast.expr) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls() -> dict[str, list[tuple[list[ast.expr], list[ast.keyword]]]]:
    """Every call in the repo by callee name, as (positional args,
    keywords). ``partial(f, ...)`` and an executor's ``submit(f, ...)``
    count as calls of ``f``."""
    files = set(_package_modules().values()) | {p for _, p in _roots()}
    for d in ("tests", "perfbench"):
        files |= set((ROOT / d).rglob("*.py"))
    out: dict[str, list] = {}
    for path in files:
        for n in _scan(path)[1]:
            name = _callee(n.func)
            out.setdefault(name, []).append((n.args, n.keywords))
            if name in ("partial", "submit") and n.args:
                inner = _callee(n.args[0])
                out.setdefault(inner, []).append((n.args[1:], n.keywords))
    return out


def _unset_parameters() -> list[str]:
    calls = _calls()
    out = []
    for mod, path in _package_modules().items():
        for fn in _tree(path).body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            defaulted = [
                (i, p.arg) for i, p in enumerate(pos)
                if i >= len(pos) - len(a.defaults)
            ] + [
                (None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            ]
            for i, param in defaulted:
                if not any(
                    any(k.arg in (param, None) for k in kws)
                    or i is not None and (
                        len(args) > i
                        or any(isinstance(x, ast.Starred) for x in args)
                    )
                    for args, kws in calls.get(fn.name, ())
                ):
                    out.append(f"{mod}.{fn.name}({param}=)")
    return sorted(out)


def test_every_package_module_is_reached():
    unreached = sorted(set(_package_modules()) - _reached())
    assert not unreached, f"no entry point imports: {unreached}"


def test_package_init_files_import_nothing():
    importing = sorted(
        str(p.relative_to(ROOT))
        for p in (ROOT / PKG).rglob("__init__.py")
        if _scan(p)[0]
    )
    assert not importing, f"import the submodule itself, not via: {importing}"


def test_every_top_level_definition_is_used():
    unused = [d for d in _unused_definitions() if d not in DEFINITION_ALLOWLIST]
    assert not unused, f"no entry point uses: {unused}"


def test_every_defaulted_parameter_is_set_by_some_call():
    unset = [p for p in _unset_parameters() if p not in PARAMETER_ALLOWLIST]
    assert not unset, f"no call sets (make each a constant): {unset}"


def test_allowlists_name_live_entries():
    assert set(DEFINITION_ALLOWLIST) <= set(_unused_definitions())
    assert set(PARAMETER_ALLOWLIST) <= set(_unset_parameters())
