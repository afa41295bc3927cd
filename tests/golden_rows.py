"""Frozen extractor output: one short sha256 per row, kept in a JSON file.

Every XML extractor used to carry a second, xpath-based engine, and the
lattice sweep and the ``*_engines_agree`` tests compared the two engines
row by row. The digests in ``extractor_rows.json`` were taken where both
engines agreed on every row and column (except dc ``allfields``, which
follows the struct parse's schema order and is pinned as such), so
comparing against them keeps the checks the second engine provided.

A digest is the first 16 hex digits of the sha256 of the row as
canonical sorted-key JSON. A test's key folds in a hash of its sorted
column list, so adding or dropping an output column fails loudly. The
file is never rewritten by the tests.

Rebuilding a key after a deliberate change to an extractor's output:
take the ``pairs`` the test passes to ``assert_golden`` (the same
``collect_rows(...)`` call) and store, by hand,

    stored[golden_key(name, sorted(pairs[0][1]))] = [
        row_digest(row) for _, row in pairs
    ]

then write ``extractor_rows.json`` back with ``json.dumps(stored,
indent=1, sort_keys=True)``. A digest hides what the row became, so a
change that regenerates digests lists each changed row in CHANGES.md:
its test, row index and new row, the text the failing assertion prints
as ``actual row``.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

GOLDEN = Path(__file__).with_name("extractor_rows.json")


def _sha(text: str, n: int) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()[:n]


def row_digest(row: dict) -> str:
    return _sha(json.dumps(row, sort_keys=True, ensure_ascii=False, default=str), 16)


def golden_key(name: str, columns: list[str]) -> str:
    return f"{name}@{_sha(','.join(sorted(columns)), 12)}"


def collect_rows(out, xml_col: str, order_by: str, drop=()) -> list[tuple[str, dict]]:
    """(input xml, output row without the input and ``drop`` columns) per
    row of ``out`` in ``order_by`` order."""
    pairs = []
    for r in out.orderBy(order_by).collect():
        row = r.asDict(recursive=True)
        xml = row.pop(xml_col)
        for c in drop:
            row.pop(c, None)
        pairs.append((xml, row))
    return pairs


def assert_golden(name: str, pairs: list[tuple[str, dict]]) -> None:
    """Compare each row's digest with the stored one for ``name``."""
    columns = sorted(pairs[0][1]) if pairs else []
    stored = json.loads(GOLDEN.read_text())
    key = golden_key(name, columns)
    assert key in stored, (
        f"{name}: no stored digests for columns {columns}; stored keys: "
        f"{sorted(k for k in stored if k.split('@')[0] == name)}"
    )
    want = stored[key]
    assert len(pairs) == len(want), f"{name}: {len(pairs)} rows, {len(want)} stored"
    for i, ((xml, row), digest) in enumerate(zip(pairs, want)):
        assert row_digest(row) == digest, (
            f"{name}: row {i} differs from its stored digest\n"
            f"input xml: {xml}\nactual row: {row}"
        )
