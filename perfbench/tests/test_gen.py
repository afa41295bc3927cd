"""The input generator is a pure function of (workload, seed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    """Relative path -> bytes, with the output directory itself (which
    config files name) replaced by a placeholder."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read().replace(
                    os.path.abspath(root).encode(), b"<out>")
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(workload, 7, a)
    gen.generate(workload, 7, b)
    gen.generate(workload, 8, c)
    ta, tb, tc = _tree(a), _tree(b), _tree(c)
    assert ta and ta == tb
    assert set(ta) == set(tc)
    assert ta != tc


def test_catalog_truth_covers_every_record(tmp_path):
    info = gen.generate("catalog_build", 3, str(tmp_path))
    import json

    truth = json.load(open(tmp_path / "truth.json"))
    assert len(truth) == info["records"]
    held = {}
    for rid, work in truth.items():
        held.setdefault(work, set()).add(rid.split(".", 1)[0])
    multi = sum(1 for s in held.values() if len(s) > 1) / len(held)
    assert 0.3 < multi < 0.5  # ~40% of works held by >= 2 sources
    deleted = json.load(open(tmp_path / "deleted.json"))
    indexed = [r for r in truth if r.startswith(gen.SOURCES[0] + ".")]
    assert deleted and set(deleted) <= set(indexed)
    assert len(deleted) < 0.05 * len(indexed)
