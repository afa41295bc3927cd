"""Seeded input generator for the perfbench workloads.

Everything here is plain Python (plus pyarrow for one parquet file),
so the program under test receives only files.  The same seed gives
byte-identical files; ground truth (work ids for MARC records, cluster
ids for WARC documents) is written next to the inputs for the output
checks and never handed to the program.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import random
from xml.sax.saxutils import escape

SOURCES = ("lib1", "lib2", "lib3")
LANGS = ("eng", "fin", "swe")
# the previous index run: every generated record is newer
WATERMARK = dt.datetime(2025, 1, 1)

_SYLL = (
    "ka la mo ri su ne to vi pa da ke lu mi sa no ra te ho ju ve "
    "ar en il or us bel cor dan fer gal har kor lin mar nor pel ron "
    "sel tar val wen yor zan"
).split()
_DIACRITIC = {"a": "ä", "o": "ö", "e": "é", "u": "ü"}

# catalog shape: share of works held by 1, 2 and 3 sources (~40% multi)
_HOLDINGS = ((1, 0.60), (2, 0.25), (3, 0.15))
# an "Annual report"-style family whose members share one title key and
# span more records than the 101-candidate blocking cap
_POISON_FAMILIES = (("Annual report", "Finland, Ministry"),)
_POISON_WORKS = 100

# input sizes
CATALOG_WORKS = 2000  # plus the poison family: ~3.3k holdings
CATALOG_FILES_PER_SOURCE = 4
# share of the indexed source's records marked deleted after the build
CATALOG_DELETED = 0.02
CORPUS_DOCS = 1500
CORPUS_SEGMENTS = 4


def _vocab(rng: random.Random, n: int) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(_SYLL) for _ in range(rng.randint(2, 3)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_cum(n: int, s: float = 1.1) -> list[float]:
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += 1.0 / r**s
        out.append(acc)
    return out


class _Zipf:
    """Zipf-ranked draws from a word list."""

    def __init__(self, words: list[str], s: float = 1.1):
        self.words = words
        self.cum = _zipf_cum(len(words), s)

    def draw(self, rng: random.Random, k: int) -> list[str]:
        return rng.choices(self.words, cum_weights=self.cum, k=k)


def _isbn13(rng: random.Random) -> str:
    digits = [9, 7, 8] + [rng.randint(0, 9) for _ in range(9)]
    s = sum(d * (1 if i % 2 == 0 else 3) for i, d in enumerate(digits))
    return "".join(map(str, digits)) + str((10 - s % 10) % 10)


def _isbn10(isbn13: str) -> str:
    core = isbn13[3:12]
    s = sum((10 - i) * int(c) for i, c in enumerate(core))
    check = (11 - s % 11) % 11
    return core + ("X" if check == 10 else str(check))


# ---------------------------------------------------------------------------
# MARC catalog
# ---------------------------------------------------------------------------


def _works(rng: random.Random) -> list[dict]:
    """Bibliographic works: the ground-truth entities the holdings of
    different sources describe."""
    title_words = _Zipf(_vocab(rng, 400))
    subjects = _Zipf(_vocab(rng, 120), 1.0)
    surnames = _vocab(rng, 300)
    given = _vocab(rng, 60)
    works = []
    for w in range(CATALOG_WORKS):
        author = (
            None if rng.random() < 0.1
            else f"{rng.choice(surnames).title()}, {rng.choice(given).title()}"
        )
        works.append({
            "work": f"w{w}",
            "title": " ".join(title_words.draw(rng, rng.randint(2, 5))).capitalize(),
            "subtitle": (" ".join(title_words.draw(rng, rng.randint(1, 3)))
                         if rng.random() < 0.4 else None),
            "author": author,
            "year": rng.randint(1950, 2024),
            "pages": rng.randint(40, 900),
            "isbn": _isbn13(rng) if rng.random() < 0.7 else None,
            "subjects": sorted(set(subjects.draw(rng, rng.randint(1, 3)))),
            "lang": rng.choice(LANGS),
        })
    for fam, (title, author) in enumerate(_POISON_FAMILIES):
        for k in range(_POISON_WORKS):
            works.append({
                "work": f"p{fam}_{k}", "title": title, "subtitle": None,
                "author": author, "year": 1950 + k, "pages": 20 + k,
                "isbn": None, "subjects": ["reports"], "lang": "fin",
            })
    return works


def _holding_sources(rng: random.Random, sources: tuple[str, ...]) -> list[str]:
    r, acc = rng.random(), 0.0
    for n, p in _HOLDINGS:
        acc += p
        if r < acc:
            return sorted(rng.sample(sources, n))
    return list(sources)


def _variant_title(rng: random.Random, title: str) -> str:
    """Cataloguing variation between sources: case, diacritics,
    trailing ISBD punctuation."""
    r = rng.random()
    if r < 0.2:
        title = title.lower()
    elif r < 0.35:
        for plain, marked in _DIACRITIC.items():
            if plain in title:
                title = title.replace(plain, marked, 1)
                break
    elif r < 0.45:
        title = title.title()
    return title


def marc_record(local_id: str, w: dict, rng: random.Random) -> str:
    """One source's MARCXML <record> (no namespace) describing work
    ``w``, with that source's cataloguing variations."""
    title = _variant_title(rng, w["title"])
    pages = w["pages"] + rng.randint(-3, 3)
    author = w["author"]
    r = rng.random()
    if r < 0.08 and len(title) > 4:
        # a typo: only an ISBN can still match this holding
        i = rng.randrange(len(title) - 1)
        title = title[:i] + title[i + 1] + title[i] + title[i + 2:]
    elif r < 0.16:
        author = None  # main entry not recorded
    f = [
        "<record><leader>00000cam a2200000 a 4500</leader>",
        f'<controlfield tag="001">{local_id}</controlfield>',
        '<controlfield tag="008">240101s'
        f'{w["year"]}    fi {" " * 17}{w["lang"]} d</controlfield>',
    ]
    if w["isbn"] and rng.random() < 0.8:
        isbn = w["isbn"]
        form = rng.random()
        if form > 0.7:
            isbn = _isbn10(isbn)
        elif form > 0.4:
            isbn = f"{isbn[:3]}-{isbn[3:5]}-{isbn[5:9]}-{isbn[9:12]}-{isbn[12]}"
        f.append('<datafield tag="020" ind1=" " ind2=" ">'
                 f'<subfield code="a">{isbn}</subfield></datafield>')
    if author:
        f.append('<datafield tag="100" ind1="1" ind2=" ">'
                 f'<subfield code="a">{escape(author)}.</subfield>'
                 "</datafield>")
    sub = ""
    if w["subtitle"]:
        sub = f'<subfield code="b">{escape(w["subtitle"])}</subfield>'
        title += " :"
    elif rng.random() < 0.3:
        title += " /"
    f.append('<datafield tag="245" ind1="1" ind2="0">'
             f'<subfield code="a">{escape(title)}</subfield>{sub}</datafield>')
    f.append('<datafield tag="264" ind1=" " ind2="1">'
             '<subfield code="a">Helsinki :</subfield>'
             '<subfield code="b">Kustantamo,</subfield>'
             f'<subfield code="c">{w["year"]}.</subfield></datafield>')
    f.append('<datafield tag="300" ind1=" " ind2=" ">'
             f'<subfield code="a">{max(pages, 1)} s.</subfield></datafield>')
    for s in w["subjects"]:
        f.append('<datafield tag="650" ind1=" " ind2="7">'
                 f'<subfield code="a">{s}</subfield></datafield>')
    f.append("</record>")
    return "".join(f)


def _catalog_records(rng: random.Random) -> list[tuple[str, str, str, str]]:
    """(source, local_id, work_id, marcxml) for every holding."""
    out = []
    counters = {s: 0 for s in SOURCES}
    for w in _works(rng):
        for s in _holding_sources(rng, SOURCES):
            counters[s] += 1
            local = f"{s}-{counters[s]:06d}"
            out.append((s, local, w["work"], marc_record(local, w, rng)))
    return out


DATASOURCES_INI = """\
[{sid}]
institution = {inst}
format = marc
recordXPath = //record
format_mapping = formats.map
language_mapping = languages.map
fieldRules[] = "copy topic_facet subject_str_mv"
extraFields[] = sector_str_mv:library
"""

MAPPINGS = {
    "formats.map": "Book = Book\nBookSection = Book\n##default = Other\n",
    "languages.map": "eng = English\nfin = Finnish\nswe = Swedish\n"
                     "##default = Other\n",
}


def _write_config(out: str) -> None:
    os.makedirs(os.path.join(out, "mappings"), exist_ok=True)
    with open(os.path.join(out, "datasources.ini"), "w") as fh:
        for s in SOURCES:
            fh.write(DATASOURCES_INI.format(sid=s, inst=s.upper()) + "\n")
    for name, text in MAPPINGS.items():
        with open(os.path.join(out, "mappings", name), "w") as fh:
            fh.write(text)


def _write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, sort_keys=True, separators=(",", ":"))


def gen_catalog_build(seed: int, out: str) -> dict:
    """Multi-source MARCXML dumps (several files per source), the ids of
    the first source's records to mark deleted after the build, and the
    store-id -> work-id ground truth."""
    rng = random.Random(f"catalog_build/{seed}")
    recs = _catalog_records(rng)
    _write_config(out)
    for s in SOURCES:
        d = os.path.join(out, "dumps", s)
        os.makedirs(d, exist_ok=True)
        mine = [r for r in recs if r[0] == s]
        for p in range(CATALOG_FILES_PER_SOURCE):
            part = mine[p::CATALOG_FILES_PER_SOURCE]
            with open(os.path.join(d, f"part-{p:03d}.xml"), "w") as fh:
                fh.write("<collection>\n")
                fh.write("\n".join(r[3] for r in part))
                fh.write("\n</collection>\n")
    truth = {f"{s}.{local}": work for s, local, work, _ in recs}
    _write_json(os.path.join(out, "truth.json"), truth)
    first = sorted(r for r in truth if r.startswith(SOURCES[0] + "."))
    _write_json(os.path.join(out, "deleted.json"), sorted(rng.sample(
        first, max(1, round(CATALOG_DELETED * len(first))))))
    # the index watermark of the previous day's run: every imported
    # record is newer, so the watermark-driven update selects them all
    _write_json(os.path.join(out, "state.json"), {
        f"Last Index Update source {s}":
            int(WATERMARK.replace(tzinfo=dt.timezone.utc).timestamp())
        for s in SOURCES})
    return {"records": len(recs), "sources": list(SOURCES)}


# ---------------------------------------------------------------------------
# WARC corpus
# ---------------------------------------------------------------------------


def _warc_response(uri: str, body: str) -> bytes:
    block = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8"
             "\r\n\r\n" + body).encode("utf-8")
    head = ("WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:uuid:{uri.rsplit('/', 1)[-1]}>\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            "WARC-Date: 2026-01-01T00:00:00Z\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(block)}\r\n\r\n").encode("utf-8")
    return head + block + b"\r\n\r\n"


def _mutate(rng: random.Random, words: list[str], vocab: list[str]) -> list[str]:
    """A near duplicate: ~5% of tokens replaced."""
    out = list(words)
    for _ in range(max(1, len(out) // 20)):
        out[rng.randrange(len(out))] = rng.choice(vocab)
    return out


# audit searches over the curated corpus: term counts fixed, terms drawn
# Zipf-popular, so every seed's batch costs about the same
AUDIT_TERMS = (1, 1, 2, 2, 2, 3, 3, 3, 4, 4) * 2


def _write_queries(path: str, rng: random.Random, words: _Zipf) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [" ".join(words.draw(rng, n)) for n in AUDIT_TERMS]
    pq.write_table(pa.table(
        {"query_id": list(range(len(texts))), "query_text": texts},
        schema=pa.schema([("query_id", pa.int32()),
                          ("query_text", pa.string())])), path)


def gen_corpus_curate(seed: int, out: str) -> dict:
    """Multi-member gzip WARC segments of HTML pages: ~20% exact
    duplicates, ~15% minhash-visible near duplicates, some non-English,
    mojibake-damaged, blocklisted and too-short pages; plus a batch of
    audit queries for the curated corpus's search index."""
    rng = random.Random(f"corpus_curate/{seed}")
    vocab = _vocab(rng, 2000)
    en = _Zipf(["the", "of", "and", "to", "in", "is", "for", "that", "with",
                "on", "as", "are", "this", "by", "be", "from", "it", "was"]
               + vocab, 0.8)
    de = ["der", "die", "und", "ist", "nicht", "das", "ein", "mit", "auf",
          "für", "sich", "des", "dem", "eine", "werden", "wird", "auch"]
    docs: list[tuple[str, str, str]] = []  # (uri, cluster, text)
    eligible: list[str] = []  # English, long enough, not blocklisted
    originals: list[tuple[str, list[str]]] = []
    for i in range(CORPUS_DOCS):
        uri = f"https://site{i % 97}.example/page/{i}"
        r = rng.random()
        ok = True
        if originals and r < 0.20:
            cluster, words = rng.choice(originals)
        elif originals and r < 0.35:
            cluster, base = rng.choice(originals)
            words = _mutate(rng, base, vocab)
        elif r < 0.40:
            cluster, words, ok = f"c{i}", [rng.choice(de) for _ in range(60)], False
        elif r < 0.43:
            cluster, words, ok = f"c{i}", en.draw(rng, 3), False
        elif rng.random() < 0.03:
            cluster, words, ok = f"c{i}", en.draw(rng, 80), False
            words[rng.randrange(len(words))] = "casinospam"
        else:
            cluster, words = f"c{i}", en.draw(rng, rng.randint(60, 200))
            originals.append((cluster, words))
        if ok:
            eligible.append(uri)
        text = " ".join(words)
        if rng.random() < 0.05:
            # UTF-8 bytes read as cp1252: the mojibake the fixer repairs
            text = text.replace("a", "Ã¤", 1)
        docs.append((uri, cluster, text))
    seg_dir = os.path.join(out, "segments")
    os.makedirs(seg_dir, exist_ok=True)
    for s in range(CORPUS_SEGMENTS):
        with open(os.path.join(seg_dir, f"seg-{s:03d}.warc.gz"), "wb") as fh:
            for uri, _, text in docs[s::CORPUS_SEGMENTS]:
                body = (f"<html><head><title>{uri}</title></head><body>"
                        f"<nav><a href='/'>home</a></nav><p>{escape(text)}</p>"
                        "</body></html>")
                fh.write(gzip.compress(_warc_response(uri, body), mtime=0))
    _write_queries(os.path.join(out, "queries.parquet"), rng, en)
    with open(os.path.join(out, "blocklist.txt"), "w") as fh:
        fh.write("casinospam\n")
    with open(os.path.join(out, "corpus.ini"), "w") as fh:
        fh.write(
            "[corpus:web]\n"
            f"source = warc:{os.path.abspath(seg_dir)}\n"
            "strip_html = true\nfix_mojibake = true\nlanguages[] = en\n"
            f"blocklist = {os.path.abspath(os.path.join(out, 'blocklist.txt'))}\n"
            "dedup = minhash\nmin_tokens = 20\nsplit[] = 0.9\nsplit[] = 0.1\n"
            "keep_text = true\n"
        )
    _write_json(os.path.join(out, "truth.json"), {
        "clusters": {uri: cluster for uri, cluster, _ in docs},
        "eligible": eligible,
    })
    return {"records": len(docs)}


GENERATORS = {
    "catalog_build": gen_catalog_build,
    "corpus_curate": gen_corpus_curate,
}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out``."""
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](seed, out)
