"""WARC source: framing edge cases (pure parser goldens) + the
distributed mapInPandas path."""

from __future__ import annotations

from recordmanager_spark.sources.warc import parse_warc_text, warc_records


def _rec(wtype, uri, body, ctype="text/plain", extra=""):
    block = body
    if wtype == "response":
        ctype = "application/http; msgtype=response"
        block = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    return (
        "WARC/1.0\r\n"
        f"WARC-Type: {wtype}\r\n"
        f"WARC-Record-ID: <urn:uuid:{uri}-id>\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        "WARC-Date: 2026-01-01T00:00:00Z\r\n"
        f"Content-Type: {ctype}\r\n"
        f"Content-Length: {len(block)}\r\n"
        f"{extra}\r\n"
        + block
        + "\r\n\r\n"
    )


def test_parse_basic_records():
    text = _rec("warcinfo", "meta", "software: test") + _rec(
        "response", "http://a.example/", "<html><body>hello</body></html>"
    )
    rows = parse_warc_text("f1", text)
    assert [r[2] for r in rows] == ["warcinfo", "response"]
    assert rows[1][4] == "http://a.example/"
    # HTTP envelope stripped from the response payload
    assert rows[1][8] == "<html><body>hello</body></html>"
    assert rows[0][8] == "software: test"
    assert [r[1] for r in rows] == [0, 1]


def test_payload_containing_warc_marker_is_not_a_boundary():
    tricky = "before WARC/1.0\r\nWARC-Type: fake\r\n\r\n after"
    text = _rec("resource", "u1", tricky) + _rec("resource", "u2", "tail")
    rows = parse_warc_text("f", text)
    assert len(rows) == 2
    assert rows[0][8] == tricky  # Content-Length wins over the marker
    assert rows[1][8] == "tail"


def test_bare_lf_and_truncated_tail():
    text = (
        "WARC/1.0\n"
        "WARC-Type: resource\n"
        "WARC-Target-URI: u\n"
        "Content-Length: 100\n"
        "\n"
        "short"  # EOF before Content-Length octets
    )
    rows = parse_warc_text("f", text)
    assert len(rows) == 1
    assert rows[0][8] == "short"
    assert rows[0][7] == 100


def test_unframed_garbage_skipped():
    text = "WARC/1.0\r\nNo-Length: x\r\n\r\njunk" + _rec(
        "resource", "ok", "good"
    )
    rows = parse_warc_text("f", text)
    assert [r[4] for r in rows] == ["ok"]


def test_warc_records_distributed(spark):
    f1 = _rec("response", "http://a/", "<p>one</p>") + _rec(
        "resource", "http://b/", "raw bytes"
    )
    f2 = _rec("response", "http://c/", "<p>two</p>")
    df = spark.createDataFrame(
        [("seg-1.warc", f1), ("seg-2.warc", f2)], ["path", "value"]
    )
    out = warc_records(df).collect()
    got = {(r["warc_file"], r["record_ord"]): r for r in out}
    assert len(out) == 3
    assert got[("seg-1.warc", 0)]["payload"] == "<p>one</p>"
    assert got[("seg-1.warc", 1)]["warc_type"] == "resource"
    assert got[("seg-2.warc", 0)]["target_uri"] == "http://c/"
    # scan-stage: no exchange in the plan
    import io
    import re
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        warc_records(df).explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_gunzip_members_multi_member_and_passthrough():
    import gzip

    from recordmanager_spark.sources.warc import gunzip_members

    a = gzip.compress(b"first record ")
    b = gzip.compress(b"second record")
    assert gunzip_members(a + b) == b"first record second record"
    assert gunzip_members(b"plain text") == b"plain text"
    assert gunzip_members(b"") == b""
    # truncated second member: first member still decodes
    assert gunzip_members(a + b[: len(b) // 2]).startswith(b"first record ")
    # CORRUPT second member (flipped deflate bytes, intact header):
    # lenient like truncation — earlier members survive, no zlib.error
    bad = bytearray(b)
    for i in range(12, min(len(bad), 20)):
        bad[i] ^= 0xFF
    assert gunzip_members(a + bytes(bad)) == b"first record "
    # corruption mid-stream with a third member after it: parsing stops
    # at the damage (conservative — later members need resync logic)
    c = gzip.compress(b"third")
    assert gunzip_members(a + bytes(bad) + c) == b"first record "


def test_gunzip_members_drops_gzip_bomb(monkeypatch):
    """A ~200 KB gzip of zeros (~200 MB inflated) between good members
    is dropped without inflating past the cap, and every record around
    it still parses. Every inflate call gets at most one input slice,
    so neither draining the bomb nor stepping from member to member
    copies the rest of the ~4 MB segment (which made time grow with
    bomb size x segment size)."""
    import gzip
    import random
    import time
    import zlib

    from recordmanager_spark.sources.warc import (
        _IN_CHUNK,
        _MAX_MEMBER_BYTES,
        gunzip_members,
        parse_warc_bytes,
    )

    fed = []
    real = zlib.decompressobj

    class Recording:
        def __init__(self, *a, **k):
            self._d = real(*a, **k)

        def decompress(self, data, max_length=0):
            fed.append(len(data))
            return self._d.decompress(data, max_length)

        def __getattr__(self, name):
            return getattr(self._d, name)

    z = zlib.compressobj(9, zlib.DEFLATED, zlib.MAX_WBITS | 16)
    bomb = b"".join(z.compress(bytes(1 << 20)) for _ in range(200)) + z.flush()
    assert len(bomb) < 256 * 1024
    rnd = random.Random(7)
    bodies = ["a"] + [rnd.randbytes(3500).hex() for _ in range(1000)]
    good = [
        gzip.compress(_rec("resource", f"http://r{i}/", t).encode())
        for i, t in enumerate(bodies)
    ]
    seg = good[0] + bomb + b"".join(good[1:])
    assert len(seg) > 4 << 20
    monkeypatch.setattr(zlib, "decompressobj", Recording)
    t0 = time.perf_counter()
    out = gunzip_members(seg)
    elapsed = time.perf_counter() - t0
    assert len(out) < _MAX_MEMBER_BYTES
    assert max(fed) <= _IN_CHUNK
    rows = parse_warc_bytes("seg.warc.gz", out)
    assert [r[8] for r in rows] == bodies
    assert rows[0][4] == "http://r0/"
    assert elapsed < 30, elapsed


def test_warc_records_gz_binary_content(spark):
    import gzip

    f1 = _rec("response", "http://a/", "<p>one</p>")
    f2 = _rec("resource", "http://b/", "raw")
    # Common Crawl layout: one gzip member per record, concatenated
    blob = gzip.compress(f1.encode()) + gzip.compress(f2.encode())
    df = spark.createDataFrame(
        [("seg.warc.gz", bytearray(blob))], "path string, value binary"
    )
    out = {r["target_uri"]: r for r in warc_records(df).collect()}
    assert out["http://a/"]["payload"] == "<p>one</p>"
    assert out["http://b/"]["payload"] == "raw"
    assert out["http://a/"]["record_ord"] == 0
    assert out["http://b/"]["record_ord"] == 1


def test_content_length_counts_octets_not_chars():
    """A multibyte payload: the byte cursor stays aligned where a
    char cursor would desync into the next record's headers."""
    from recordmanager_spark.sources.warc import parse_warc_bytes

    body = "café — naïve"  # 12 chars, 16 utf-8 octets
    rec1 = (
        "WARC/1.0\r\nWARC-Type: resource\r\nWARC-Target-URI: u1\r\n"
        f"Content-Length: {len(body.encode('utf-8'))}\r\n\r\n"
    ).encode() + body.encode() + b"\r\n\r\n"
    rec2 = (
        "WARC/1.0\r\nWARC-Type: resource\r\nWARC-Target-URI: u2\r\n"
        "Content-Length: 4\r\n\r\ntail\r\n\r\n"
    ).encode()
    rows = parse_warc_bytes("f", rec1 + rec2)
    assert [(r[4], r[8]) for r in rows] == [("u1", body), ("u2", "tail")]
    assert rows[0][7] == len(body.encode("utf-8")) != len(body)
