"""Property: the MARC-in-JSON serializer round-trips the parsed struct
bit-exact through the storage parser (_parse_one), over randomized
field shapes — control/data fields, missing indicators, empty and
unicode subfield values (Marc/Serialization/MarcInJson.php)."""

from __future__ import annotations

import json

from hypothesis import given, settings, strategies as st

from recordmanager_spark.extractors.marc import _parse_one, _serialize_one

tags = st.from_regex(r"[0-9]{3}", fullmatch=True)
codes = st.from_regex(r"[a-z0-9]", fullmatch=True)
texts = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",), max_codepoint=0x2FFF
    ),
    max_size=24,
)
inds = st.one_of(st.just(" "), st.from_regex(r"[0-9a-z ]", fullmatch=True))

control = st.tuples(tags, texts).map(
    lambda t: (t[0], None, None, t[1], None)
)
data = st.tuples(
    tags, inds, inds,
    st.lists(st.tuples(codes, texts), min_size=0, max_size=4),
).map(lambda t: (t[0], t[1], t[2], None, [(c, v) for c, v in t[3]]))

parsed = st.tuples(
    texts,  # leader
    st.lists(st.one_of(control, data), max_size=8),
)


@settings(max_examples=300, deadline=None)
@given(parsed)
def test_serialize_parse_roundtrip(p):
    leader, fields = p
    ser = _serialize_one(p)
    back = _parse_one(ser)
    assert back is not None
    b_leader, b_fields = back
    assert (b_leader or "") == (leader or "")
    assert b_fields == fields


@settings(max_examples=150, deadline=None)
@given(parsed)
def test_serialize_is_canonical_fixed_point(p):
    """serialize(parse(serialize(x))) == serialize(x): the writer is a
    canonical form, so unchanged records compare '' reliably."""
    s1 = _serialize_one(p)
    s2 = _serialize_one(_parse_one(s1))
    assert s1 == s2
    json.loads(s1)  # always valid JSON
