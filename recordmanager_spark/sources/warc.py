"""WARC (ISO 28500) record source: the input format 100 TB web corpora
actually arrive in (Common Crawl WARC/WET segments).

The reference ingests via per-source harvesters into an XML landing
zone (``sources/files.py`` / ``splitter.py`` — behavioral spec:
`src/RecordManager/Base/Splitter/File.php`); a crawl-scale corpus
skips that hop and reads WARC segments directly. This module parses
them with the same split-per-landed-file shape the XML splitter uses:

- **One WARC file per input row** (``spark.read.text(...,
  wholetext=True)`` or ``binaryFile``) — segments are the natural unit
  of parallelism (Common Crawl ships ~1 GB gzip members), so a task
  parses whole records and never needs cross-partition reassembly.
- **Parsing is mapInPandas** (Arrow-batched): WARC framing is
  Content-Length-delimited — a record's payload may legally contain
  ``WARC/1.0`` — so correct parsing is an imperative cursor walk, not
  a regex split. This is exactly the "genuinely can't express in SQL"
  case the engine reserves Python for; it stays scan-stage (zero
  shuffles), and downstream everything is ordinary columns.
- HTTP ``response`` records additionally split the HTTP envelope from
  the body (the WET-extraction step pairs with
  ``functions/html.html_to_text``).

Output schema per record: (warc_file, record_ord, warc_type,
record_id, target_uri, warc_date, content_type, content_length,
payload) — ``payload`` is the HTTP BODY for response records (headers
dropped), the raw block otherwise.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401 (callers compose)
from pyspark.sql import types as T

__all__ = [
    "WARC_SCHEMA",
    "gunzip_members",
    "parse_warc_bytes",
    "parse_warc_text",
    "warc_documents",
    "warc_records",
]

WARC_SCHEMA = T.StructType(
    [
        T.StructField("warc_file", T.StringType()),
        T.StructField("record_ord", T.IntegerType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("payload", T.StringType()),
        # raw HTTP header text for response records (the envelope the
        # body split removes) — crawl-tier gates read X-Robots-Tag etc.
        # from here; None for non-HTTP records
        T.StructField("http_headers", T.StringType()),
    ]
)


def parse_warc_bytes(name: str, data: bytes) -> list[tuple]:
    """Cursor-walk one WARC file's records (driver/worker-side helper;
    pure function so the golden tests pin framing edge cases directly).

    Framing per ISO 28500: ``WARC/<ver>CRLF``, header lines until a
    blank line, ``Content-Length`` OCTETS of block, then CRLF CRLF —
    so the walk runs over BYTES (a char-based cursor desyncs on the
    first multibyte payload; golden-pinned) and payloads decode
    utf-8-replace only after slicing. Lenient where real crawls are:
    bare-LF line endings accepted, whitespace around header values
    trimmed, unknown headers ignored, a missing/short final separator
    tolerated at EOF. A payload containing ``WARC/1.0`` is NOT a
    record boundary — only the cursor position after Content-Length
    octets is.
    """
    out: list[tuple] = []
    i, ord_ = 0, 0
    n = len(data)
    while True:
        start = data.find(b"WARC/", i)
        if start < 0:
            break
        # headers end at the first blank line
        he_crlf = data.find(b"\r\n\r\n", start)
        he_lf = data.find(b"\n\n", start)
        if he_crlf < 0 and he_lf < 0:
            break
        if he_crlf >= 0 and (he_lf < 0 or he_crlf + 1 <= he_lf):
            hend, bstart = he_crlf, he_crlf + 4
        else:
            hend, bstart = he_lf, he_lf + 2
        headers: dict[str, str] = {}
        htext = data[start:hend].decode("utf-8", errors="replace")
        for line in htext.splitlines()[1:]:
            k, _, v = line.partition(":")
            if _:
                headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            # unframed record: skip to the next candidate marker
            i = start + 5
            continue
        block = data[bstart : min(bstart + clen, n)]
        wtype = headers.get("warc-type", "")
        ctype = headers.get("content-type", "")
        payload = block
        http_headers = None
        if wtype == "response" and ctype.startswith("application/http"):
            # split the HTTP envelope from the body; the body is what
            # curation consumes, the envelope is kept for header-level
            # gates (X-Robots-Tag opt-out, content negotiation)
            for sep in (b"\r\n\r\n", b"\n\n"):
                j = block.find(sep)
                if j >= 0:
                    payload = block[j + len(sep) :]
                    http_headers = block[:j].decode(
                        "utf-8", errors="replace"
                    )
                    break
        out.append(
            (
                name,
                ord_,
                wtype,
                headers.get("warc-record-id", ""),
                headers.get("warc-target-uri", ""),
                headers.get("warc-date", ""),
                ctype,
                clen,
                payload.decode("utf-8", errors="replace"),
                http_headers,
            )
        )
        ord_ += 1
        i = bstart + clen
    return out


def parse_warc_text(name: str, text: str) -> list[tuple]:
    """String-input convenience over :func:`parse_warc_bytes` — the
    text encodes to utf-8 first so Content-Length still counts octets
    (for ASCII fixtures the two are the same; for anything else only
    the byte walk is correct)."""
    return parse_warc_bytes(name, text.encode("utf-8"))


# Inflated-size cap for one gzip member, which is one WARC record in
# Common Crawl's layout. Crawlers truncate payloads at 1 MiB and the
# benchmark's records are a few KB, so a member past the cap is a
# decompression bomb (a 200 KB gzip of zeros inflates to 200 MB) or an
# absurd record: it is inflated to the end in bounded chunks that are
# thrown away and then dropped, and the members after it still parse.
_MAX_MEMBER_BYTES = 64 << 20
# Per inflate call: at most this much input in and output out. Input
# goes in as slices of the segment with the offset tracked here, so no
# call copies more than one slice — handing zlib the whole remaining
# segment would copy it into ``unconsumed_tail``/``unused_data`` once
# per call, making time grow with members (or bomb size) x segment size.
_IN_CHUNK = 64 << 10
_OUT_CHUNK = 1 << 20


def gunzip_members(data: bytes) -> bytes:
    """Decompress a (possibly multi-member) gzip blob — Common Crawl
    WARC segments are one gzip MEMBER PER RECORD concatenated, so a
    plain single-member gunzip would stop after the first record.
    Non-gzip input passes through unchanged. Corrupt members are
    handled like truncated ones — keep every member decoded before the
    damage and stop — because a real-crawl segment with one damaged
    record must not fail the whole task (the parser's lenient contract;
    the partial record ahead of the truncation parses or drops
    downstream). A member that inflates past ``_MAX_MEMBER_BYTES`` is
    dropped whole and parsing goes on after it, so one member never
    holds more than the cap in memory. Time is linear in the input and
    the inflated size."""
    import zlib

    if len(data) < 2 or data[:2] != b"\x1f\x8b":
        return data
    out = bytearray()
    view = memoryview(data)
    pos = 0
    while view[pos : pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        member, size = [], 0
        try:
            while not d.eof:
                chunk = view[pos : pos + _IN_CHUNK]
                piece = d.decompress(chunk, _OUT_CHUNK)
                left = d.unused_data if d.eof else d.unconsumed_tail
                used = len(chunk) - len(left)
                if not piece and not used:
                    break  # input exhausted: a truncated member
                pos += used
                size += len(piece)
                if size <= _MAX_MEMBER_BYTES:
                    member.append(piece)
                elif member:
                    member = []  # over the cap: drain, keep nothing
        except zlib.error:  # corrupt member: stop here
            break
        if size <= _MAX_MEMBER_BYTES:
            out += b"".join(member)
        if not d.eof:  # truncated final member: keep what decoded
            break
    return bytes(out)


def warc_records(
    files: DataFrame,
    name_col: str = "path",
    content_col: str = "value",
) -> DataFrame:
    """Parse a DataFrame of whole WARC files into one row per record.

    ``files`` is the landing-zone read — ``spark.read.text(dir,
    wholetext=True).withColumn("path", F.input_file_name())`` for plain
    segments, or ``spark.read.format("binaryFile")`` for ``.warc.gz``
    (the content column may be bytes: multi-member gzip — Common
    Crawl's one-member-per-record layout — decompresses in the same
    task via :func:`gunzip_members`; segment gzip is NOT splittable,
    which is fine because the segment file IS the parallelism unit).
    Scan-stage mapInPandas: zero shuffles, Arrow-batched.
    """
    import pandas as pd

    names = [name_col, content_col]

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cols = [f.name for f in WARC_SCHEMA.fields]
        for pdf in batches:
            rows: list[tuple] = []
            for name, content in zip(pdf[names[0]], pdf[names[1]]):
                if isinstance(content, (bytes, bytearray)):
                    rows.extend(
                        parse_warc_bytes(
                            name, gunzip_members(bytes(content))
                        )
                    )
                else:
                    rows.extend(parse_warc_text(name, content))
            yield pd.DataFrame(rows, columns=cols)

    return files.select(*names).mapInPandas(gen, WARC_SCHEMA)


def warc_documents(
    files: DataFrame,
    name_col: str = "path",
    content_col: str = "value",
    keep_types: tuple[str, ...] = ("response", "conversion"),
) -> DataFrame:
    """Crawl records as corpus DOCUMENTS: the bridge from a WARC
    landing zone to the corpus-curation pipeline
    (``corpus_config.apply_corpus_pipeline``).

    Keeps the content-bearing record types (HTTP ``response`` for WARC
    segments, ``conversion`` for WET) and maps them onto the document
    columns every downstream stage expects: ``doc_id`` = the target
    URI (falling back to the WARC record id — metadata-less test
    fixtures), ``source`` = the segment file, ``text`` = the payload
    (HTTP body for responses — callers chain
    ``functions.html.html_to_text`` / the ``strip_html`` config stage
    for WET-grade extraction). A ``lang`` column is NOT fabricated
    here: the pipeline derives it per-document (after hygiene, where
    language-ID belongs) when a language gate needs it.

    This is the reference's harvest-source -> pipeline architecture
    (conf/datasources.ini.sample:23-101 — sources are config entries)
    applied to the crawl tier: ``[corpus:x] source = warc:<dir>``
    compiles to exactly this chain. Same scan-stage shape as
    :func:`warc_records` — zero shuffles until the pipeline's own
    keyed stages.
    """
    recs = warc_records(files, name_col=name_col, content_col=content_col)
    return recs.where(F.col("warc_type").isin(*keep_types)).select(
        F.coalesce(F.col("target_uri"), F.col("record_id")).alias("doc_id"),
        F.col("warc_file").alias("source"),
        F.col("payload").alias("text"),
        # the HTTP envelope rides along for crawl-tier opt-out gates
        # ([corpus:] optout = true reads X-Robots-Tag from it); column
        # pruning drops it for pipelines that never look
        "http_headers",
    )
