"""Every package module must be reachable from an entry point.

Walks the import statements (anywhere in a file, since commands import
lazily inside their functions) from the console commands
(``cli.py``, ``__main__.py``), the driver contract (``__spark_entry__.py``)
and the benchmark (``perfbench/*.py``). A module that no entry point
reaches is code no command runs: wire it into a command or delete it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "recordmanager_spark"


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _package_of(name: str, path: Path) -> str:
    return name if path.name == "__init__.py" else name.rpartition(".")[0]


def _imported(name: str, path: Path) -> set[str]:
    """Package modules named by the import statements in ``path``,
    with every parent package of each (importing ``a.b.c`` runs
    ``a/__init__`` and ``a/b/__init__`` too)."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = _package_of(name, path).split(".")
                anchor = ".".join(pkg[: len(pkg) - node.level + 1])
                base = f"{anchor}.{base}" if base else anchor
            # ``from pkg import mod`` names a submodule when one exists
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            if t.split(".")[0] != PKG or _module_file(t) is None:
                continue
            parts = t.split(".")
            out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def _reached() -> set[str]:
    roots = [
        (f"{PKG}.cli", ROOT / PKG / "cli.py"),
        (f"{PKG}.__main__", ROOT / PKG / "__main__.py"),
        ("__spark_entry__", ROOT / "__spark_entry__.py"),
    ] + [(p.stem, p) for p in sorted((ROOT / "perfbench").glob("*.py"))]
    seen = {name for name, _ in roots}
    todo = list(roots)
    while todo:
        name, path = todo.pop()
        for mod in _imported(name, path) - seen:
            seen.add(mod)
            todo.append((mod, _module_file(mod)))
    return seen


def _package_modules() -> set[str]:
    out = set()
    for p in (ROOT / PKG).rglob("*.py"):
        parts = p.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out.add(".".join(parts))
    return out


def test_every_package_module_is_reached():
    unreached = sorted(_package_modules() - _reached())
    assert not unreached, f"no entry point imports: {unreached}"
