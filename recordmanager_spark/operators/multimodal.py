"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
metadata struct (mime, width/height/duration, sha256). The Spark-side
plumbing — schema, batch shape, partition sizing, Arrow transfer — is
real and tested, and so are the decoders for every SELF-DESCRIBING
format a pure-stdlib parser can handle:

- container sniffing (magic bytes): PNG/JPEG/GIF/BMP/WebP/WAV/MP3/
  MP4/PDF — Python-side for the Arrow stages (``sniff_mime``);
- image dimensions without pixel decode: PNG IHDR, GIF logical screen,
  BMP BITMAPINFOHEADER, JPEG SOF marker walk (``png_dims`` /
  ``gif_dims`` / ``bmp_dims`` / ``jpeg_dims``);
- WAV: full RIFF chunk walk (channels, sample rate, bit depth, frame
  count, duration) plus real PCM16 RMS energy (``wav_meta`` /
  ``wav_rms``);
- uncompressed 24-bit BMP: full pixel decode to a numpy array
  (bottom-up rows, 4-byte stride padding) and an aHash perceptual
  fingerprint (8x8 average-pool vs mean) for image near-dup
  (``bmp_pixels`` / ``ahash64``).

Formats that need external codecs are not decoded here: JPEG pixel
data reaches :func:`resize_images` only through its injected
``decoder`` (e.g. PIL), and there is no video frame path.

Scale notes: binary payloads dominate row size, so these operators
(a) repartition by byte budget, not row count, before Python stages, and
(b) use mapInPandas (iterator form) so a partition streams through Arrow
batches without materializing fully in one pandas frame.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


FEATURE_SCHEMA = "id long, sha256 string, byte_len int, feature array<float>"


# (magic prefix hex, offset, mime) — longest prefixes first so WebP
# (RIFF....WEBP) wins over WAV's bare RIFF when both match.
_MAGIC = [
    ("89504E470D0A1A0A", 0, "image/png"),
    ("474946383761", 0, "image/gif"),
    ("474946383961", 0, "image/gif"),
    ("FFD8FF", 0, "image/jpeg"),
    ("424D", 0, "image/bmp"),
    ("57454250", 8, "image/webp"),
    ("57415645", 8, "audio/wav"),
    ("494433", 0, "audio/mpeg"),
    ("FFFB", 0, "audio/mpeg"),
    ("66747970", 4, "video/mp4"),
    ("25504446", 0, "application/pdf"),
]


def sniff_mime(payload: bytes | None) -> str | None:
    """Container MIME type from the payload's magic bytes, None when
    unrecognized."""
    if not payload:
        return None
    for hexpfx, off, mime in _MAGIC:
        pfx = bytes.fromhex(hexpfx)
        if payload[off:off + len(pfx)] == pfx:
            return mime
    return None


def png_dims(payload: bytes) -> tuple[int, int] | None:
    """PNG IHDR width/height (IHDR is required to be the first chunk)."""
    if len(payload) < 24 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    if payload[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", payload[16:24])
    return (w, h)


def gif_dims(payload: bytes) -> tuple[int, int] | None:
    """GIF logical-screen width/height (little-endian, bytes 6-10)."""
    if len(payload) < 10 or payload[:4] != b"GIF8":
        return None
    w, h = struct.unpack("<HH", payload[6:10])
    return (w, h)


def bmp_dims(payload: bytes) -> tuple[int, int] | None:
    """BMP BITMAPINFOHEADER width/height (height may be negative =
    top-down; returned as absolute)."""
    if len(payload) < 26 or payload[:2] != b"BM":
        return None
    hdr_size = struct.unpack("<I", payload[14:18])[0]
    if hdr_size < 40:  # BITMAPCOREHEADER (16-bit dims)
        w, h = struct.unpack("<HH", payload[18:22])
        return (w, h)
    w, h = struct.unpack("<ii", payload[18:26])
    return (w, abs(h))


def jpeg_dims(payload: bytes) -> tuple[int, int] | None:
    """JPEG dimensions via the marker walk to the first SOF segment
    (SOF0-15 excluding DHT/JPG/DAC), the standard libjpeg-free probe."""
    if len(payload) < 4 or payload[:3] != b"\xff\xd8\xff":
        return None
    i = 2
    n = len(payload)
    while i + 9 < n:
        if payload[i] != 0xFF:
            i += 1
            continue
        marker = payload[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xDA:  # start of scan — no SOF found
            return None
        seg_len = struct.unpack(">H", payload[i + 2:i + 4])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h, w = struct.unpack(">HH", payload[i + 5:i + 9])
            return (w, h)
        i += 2 + seg_len
    return None


def wav_meta(payload: bytes) -> dict | None:
    """RIFF/WAVE chunk walk: ``{channels, sample_rate, bits, n_frames,
    duration_ms}``. duration_ms uses integer floor so every engine
    reproduces it exactly."""
    if (
        len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WAVE"
    ):
        return None
    i, n = 12, len(payload)
    fmt = None
    data_len = None
    while i + 8 <= n:
        cid = payload[i:i + 4]
        clen = struct.unpack("<I", payload[i + 4:i + 8])[0]
        if cid == b"fmt " and i + 24 <= n:
            _, channels, rate = struct.unpack("<HHI", payload[i + 8:i + 16])
            bits = struct.unpack("<H", payload[i + 22:i + 24])[0]
            fmt = (channels, rate, bits)
        elif cid == b"data":
            data_len = clen
        i += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data_len is None:
        return None
    channels, rate, bits = fmt
    bytes_per_frame = max(1, channels * (bits // 8))
    n_frames = data_len // bytes_per_frame
    return {
        "channels": channels,
        "sample_rate": rate,
        "bits": bits,
        "n_frames": n_frames,
        "duration_ms": (n_frames * 1000) // max(1, rate),
    }


def wav_rms(payload: bytes) -> float | None:
    """Real RMS energy of a PCM16 WAV's samples (numpy, exact for the
    test vectors: identical |sample| values make sqrt(mean(s²)) = |s|)."""
    meta = wav_meta(payload)
    if meta is None or meta["bits"] != 16:
        return None
    i, n = 12, len(payload)
    while i + 8 <= n:
        cid = payload[i:i + 4]
        clen = struct.unpack("<I", payload[i + 4:i + 8])[0]
        if cid == b"data":
            raw = payload[i + 8:i + 8 + clen]
            samples = np.frombuffer(
                raw[: len(raw) - (len(raw) % 2)], dtype="<i2"
            )
            if samples.size == 0:
                return 0.0
            return float(np.sqrt(np.mean(samples.astype(np.float64) ** 2)))
        i += 8 + clen + (clen & 1)
    return None


def bmp_pixels(payload: bytes) -> "np.ndarray | None":
    """Full pixel decode of an uncompressed 24-bit BMP → (H, W, 3)
    uint8 RGB. Handles bottom-up vs top-down rows and the 4-byte row
    stride padding. Compressed/paletted BMPs return None (seam for a
    real imaging library)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    data_off = struct.unpack("<I", payload[10:14])[0]
    hdr_size = struct.unpack("<I", payload[14:18])[0]
    if hdr_size < 40:
        return None
    w, h = struct.unpack("<ii", payload[18:26])
    planes, bpp = struct.unpack("<HH", payload[26:30])
    compression = struct.unpack("<I", payload[30:34])[0]
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    need = data_off + stride * h
    if len(payload) < need:
        return None
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[..., ::-1].copy()  # BGR → RGB


def png_pixels(payload: bytes) -> "np.ndarray | None":
    """Full pixel decode of a non-interlaced 8-bit PNG → (H, W, 3) uint8
    RGB, pure stdlib: chunk walk → zlib inflate → per-row defilter (all
    5 filter types per the PNG spec §9: None/Sub/Up/Average/Paeth).
    Grayscale replicates to 3 channels; RGBA drops alpha. Paletted,
    16-bit, and interlaced PNGs return None (the documented seam for a
    real imaging library — this closes the one COMPRESSED format the
    container can decode without one).

    Performance note: None/Up-filtered rows defilter vectorized; Sub
    too (the x-recurrence ``rec[x] = (filt[x] + rec[x-ch]) & 0xFF`` is
    a per-channel running sum, so it is an exact int64 ``cumsum``
    mod 256). Average/Paeth are sequential in x by construction (each
    byte depends on the RECONSTRUCTED byte one pixel left through a
    non-linear predictor) and run as a Python-int loop (plain ints, not
    numpy scalar indexing — ~4x the throughput, same arithmetic); a
    real imaging library remains the production decoder for megapixel
    corpora.
    """
    if len(payload) < 8 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(payload):
        ln = struct.unpack(">I", payload[pos:pos + 4])[0]
        typ = payload[pos + 4:pos + 8]
        chunk = payload[pos + 8:pos + 8 + ln]
        if typ == b"IHDR":
            ihdr = chunk
        elif typ == b"IDAT":
            idat.append(chunk)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    if depth != 8 or comp or filt or interlace or color not in (0, 2, 6):
        return None
    if w == 0 or h == 0 or w * h > 64_000_000:
        return None
    ch = {0: 1, 2: 3, 6: 4}[color]
    import zlib

    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    stride = w * ch
    if len(raw) != (stride + 1) * h:
        return None
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        if f == 0:
            rec = line
        elif f == 2:
            rec = (line + prev) & 0xFF
        elif f == 1:
            # rec[x] = (filt[x] + rec[x-ch]) & 0xFF: a running sum per
            # channel lane; & 0xFF distributes over the cumsum (exact
            # int64 — identical bytes to the sequential loop)
            rec = np.empty(stride, dtype=np.int64)
            for c0 in range(ch):
                rec[c0::ch] = np.cumsum(line[c0::ch], dtype=np.int64)
            rec &= 0xFF
        elif f in (3, 4):
            # reconstructed-left dependency through a non-linear
            # predictor: sequential, but over plain Python ints (bytes
            # iteration) — numpy scalar indexing profiled ~4x slower
            line_b = raw[y * (stride + 1) + 1: y * (stride + 1) + 1 + stride]
            prev_l = prev.tolist()
            rec_l = [0] * stride
            if f == 3:
                for x in range(stride):
                    a = rec_l[x - ch] if x >= ch else 0
                    rec_l[x] = (line_b[x] + ((a + prev_l[x]) >> 1)) & 0xFF
            else:
                for x in range(stride):
                    a = rec_l[x - ch] if x >= ch else 0
                    b = prev_l[x]
                    c = prev_l[x - ch] if x >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec_l[x] = (line_b[x] + pr) & 0xFF
            rec = np.array(rec_l, dtype=np.int32)
        else:
            return None
        out[y] = rec.astype(np.uint8)
        prev = out[y].astype(np.int32)
    px = out.reshape(h, w, ch)
    if ch == 1:
        return np.repeat(px[:, :, None].reshape(h, w, 1), 3, axis=2)
    return px[..., :3].copy()


def webp_dims(payload: bytes) -> tuple[int, int] | None:
    """WebP dimensions from the container headers (no pixel decode):
    ``VP8 `` lossy (14-bit w/h in the frame header behind the 3-byte
    start code), ``VP8L`` lossless (14-bit w-1/h-1 packed after the
    0x2F signature), ``VP8X`` extended (24-bit canvas w-1/h-1)."""
    if len(payload) < 30 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        return None
    fourcc = payload[12:16]
    if fourcc == b"VP8 ":
        # key frame: 3-byte frame tag, then start code 9D 01 2A, then
        # 16-bit little-endian width/height (14 significant bits)
        if payload[23:26] != b"\x9d\x01\x2a":
            return None
        w = struct.unpack("<H", payload[26:28])[0] & 0x3FFF
        h = struct.unpack("<H", payload[28:30])[0] & 0x3FFF
        return (w, h) if w and h else None
    if fourcc == b"VP8L":
        if payload[20] != 0x2F:
            return None
        bits = struct.unpack("<I", payload[21:25])[0]
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        return (w, h)
    if fourcc == b"VP8X":
        w = int.from_bytes(payload[24:27], "little") + 1
        h = int.from_bytes(payload[27:30], "little") + 1
        return (w, h)
    return None


# MPEG-1/2 Layer III bitrate (kbps) and sample-rate tables, frame header
# spec (ISO/IEC 11172-3 §2.4.1.3 / 13818-3)
_MP3_BITRATES = {
    1: [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    2: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_MP3_RATES = {1: [44100, 48000, 32000], 2: [22050, 24000, 16000]}


def mp3_meta(payload: bytes) -> dict | None:
    """MP3 stream metadata from the first frame header, no decode:
    ``{bitrate_kbps, sample_rate, duration_ms}``. Duration is the CBR
    estimate ``audio_bytes * 8 / bitrate`` (VBR streams need a Xing
    table — out of header-walk scope, the estimate is then the
    first-frame-rate approximation). Skips a leading ID3v2 tag."""
    pos = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        size = 0
        for b in payload[6:10]:  # syncsafe 28-bit
            size = (size << 7) | (b & 0x7F)
        pos = 10 + size
    end = min(len(payload) - 4, pos + 4096)
    while pos <= end:
        if payload[pos] == 0xFF and (payload[pos + 1] & 0xE0) == 0xE0:
            b1, b2 = payload[pos + 1], payload[pos + 2]
            version = (b1 >> 3) & 0x03  # 3=MPEG1, 2=MPEG2
            layer = (b1 >> 1) & 0x03  # 1=Layer III
            if version in (2, 3) and layer == 1:
                v = 1 if version == 3 else 2
                br = _MP3_BITRATES[v][(b2 >> 4) & 0x0F]
                sr_i = (b2 >> 2) & 0x03
                if br and sr_i < 3:
                    sr = _MP3_RATES[v][sr_i]
                    audio_bytes = len(payload) - pos
                    dur = int(round(audio_bytes * 8 / (br * 1000) * 1000))
                    return {
                        "bitrate_kbps": br,
                        "sample_rate": sr,
                        "duration_ms": dur,
                    }
            pos += 1
        else:
            pos += 1
    return None


def ahash64(img: "np.ndarray") -> str:
    """aHash perceptual fingerprint: grayscale → 8x8 average-pool →
    bit per cell (1 iff cell ≥ global mean) → 16-hex-char string.
    Hamming distance between hashes is the standard image near-dup
    measure; plug into the banded-LSH pair machinery like simhash.

    Pooling is one pair of ``np.add.reduceat`` passes over the
    grayscale plane instead of 64 tiny per-cell ``.mean()`` calls —
    profiled at 2.9 s core-time of numpy call overhead per 2.5 k
    images before the r13 rewrite. Summation order within a cell
    changes (sequential vs pairwise), a ≤1-ulp effect on the cell
    means; a bit can only flip when a cell sits within float rounding
    of the global mean (parity pinned over randomized images in
    tests/test_multimodal_vectorized.py)."""
    gray = img.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    if h >= 8 and w >= 8:
        sums = np.add.reduceat(
            np.add.reduceat(gray, ys[:8], axis=0), xs[:8], axis=1
        )
        areas = np.diff(ys)[:, None] * np.diff(xs)[None, :]
        cells = sums / areas
    else:
        # degenerate (<8 px a side): some cells are empty; keep the
        # reference per-cell path so their NaN semantics (all bits 0)
        # survive — reduceat cannot represent an empty segment
        cells = np.empty((8, 8))
        for r in range(8):
            for c in range(8):
                cells[r, c] = gray[ys[r]:ys[r + 1], xs[c]:xs[c + 1]].mean()
    bits = (cells >= cells.mean()).ravel()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return f"{val:016x}"


MEDIA_PROBE_SCHEMA = (
    "id long, mime string, width int, height int, channels int, "
    "sample_rate int, duration_ms int, rms int, ahash string"
)


def media_probe(df: DataFrame) -> DataFrame:
    """mapInPandas media probe: sniff the container and run the REAL
    per-format decoder — image dims (PNG/GIF/BMP/JPEG headers), WAV
    meta + PCM RMS, BMP pixel aHash. Unknown/corrupt payloads yield
    NULL fields, never a crashed stage. Streams Arrow batches."""
    payload_col = "payload"

    def probe_one(b) -> tuple:
        p = bytes(b) if b is not None else b""
        mime = sniff_mime(p)
        width = height = channels = rate = dur = rms = None
        ah = None
        if mime == "image/png":
            d = png_dims(p)
            width, height = d if d else (None, None)
            img = png_pixels(p)
            if img is not None:
                ah = ahash64(img)
        elif mime == "image/gif":
            d = gif_dims(p)
            width, height = d if d else (None, None)
        elif mime == "image/jpeg":
            d = jpeg_dims(p)
            width, height = d if d else (None, None)
        elif mime == "image/bmp":
            d = bmp_dims(p)
            width, height = d if d else (None, None)
            img = bmp_pixels(p)
            if img is not None:
                ah = ahash64(img)
        elif mime == "image/webp":
            d = webp_dims(p)
            width, height = d if d else (None, None)
        elif mime == "audio/mpeg":
            m = mp3_meta(p)
            if m:
                rate = m["sample_rate"]
                dur = m["duration_ms"]
        elif mime == "audio/wav":
            m = wav_meta(p)
            if m:
                channels = m["channels"]
                rate = m["sample_rate"]
                dur = m["duration_ms"]
                r = wav_rms(p)
                rms = int(round(r)) if r is not None else None
        return (mime, width, height, channels, rate, dur, rms, ah)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            probed = [probe_one(b) for b in pdf[payload_col]]
            out = pd.DataFrame(
                probed,
                columns=[
                    "mime", "width", "height", "channels",
                    "sample_rate", "duration_ms", "rms", "ahash",
                ],
            )
            out.insert(0, "id", pdf["id"].values)
            for c in ("width", "height", "channels", "sample_rate",
                      "duration_ms", "rms"):
                out[c] = out[c].astype("Int32")
            yield out

    return df.mapInPandas(op, schema=MEDIA_PROBE_SCHEMA)


RESIZE_SCHEMA = (
    "id long, mime string, src_width int, src_height int, "
    "width int, height int, pixels binary"
)


def resize_nearest(img: "np.ndarray", width: int, height: int) -> "np.ndarray":
    """Nearest-neighbor resize of an (H, W, C) uint8 array — pure numpy
    index arithmetic (floor sampling), deterministic across platforms.
    The preprocessing every vision-training pipeline runs before
    batching; bilinear/antialiased variants belong to the injected
    imaging library (PIL seam), this is the dependency-free baseline."""
    src_h, src_w = img.shape[0], img.shape[1]
    rows = np.minimum(
        (np.arange(height) * (src_h / height)).astype(np.int64), src_h - 1
    )
    cols = np.minimum(
        (np.arange(width) * (src_w / width)).astype(np.int64), src_w - 1
    )
    return img[rows][:, cols]


def resize_images(
    df: DataFrame,
    width: int = 64,
    height: int = 64,
    decoder=None,
) -> DataFrame:
    """mapInPandas image resize: decode → nearest-neighbor resample →
    raw RGB bytes + dims, one Arrow-batched Python scan. The default
    decoder is the container's stdlib pair (PNG/BMP pixel decoders);
    ``decoder(payload) -> ndarray | None`` injects a real imaging
    library (e.g. PIL) for the remaining formats.
    Undecodable payloads yield NULL pixel fields, never a crashed
    stage. Output pixels are C-order (height, width, 3) uint8 — the
    shape a downstream feature extractor's batch dimension expects."""
    payload_col = "payload"

    def default_decoder(p: bytes) -> "np.ndarray | None":
        mime = sniff_mime(p)
        if mime == "image/png":
            return png_pixels(p)
        if mime == "image/bmp":
            return bmp_pixels(p)
        return None

    dec = decoder or default_decoder

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, b in zip(pdf["id"], pdf[payload_col]):
                p = bytes(b) if b is not None else b""
                mime = sniff_mime(p)
                img = dec(p)
                if img is None or img.size == 0:
                    rows.append((rid, mime, None, None, None, None, None))
                    continue
                small = resize_nearest(img, width, height)
                rows.append(
                    (
                        rid,
                        mime,
                        img.shape[1],
                        img.shape[0],
                        width,
                        height,
                        np.ascontiguousarray(small).tobytes(),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "id", "mime", "src_width", "src_height",
                    "width", "height", "pixels",
                ],
            )
            for c in ("src_width", "src_height", "width", "height"):
                out[c] = out[c].astype("Int32")
            yield out

    return df.mapInPandas(op, schema=RESIZE_SCHEMA)


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: streams Arrow batches through a
    Python stage. The "feature" is a deterministic 8-float fake (STUB for
    a real CNN/audio embedding); the batch plumbing is the real thing."""
    payload_col = "payload"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payloads (missing media) hash as empty bytes instead of
            # killing the stage
            payloads = pdf[payload_col].map(lambda b: b if b is not None else b"")
            out = pd.DataFrame(
                {
                    "id": pdf["id"],
                    "sha256": payloads.map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()
                    ),
                    "byte_len": payloads.map(len).astype("int32"),
                    "feature": payloads.map(
                        lambda b: [
                            float(x) / 255.0
                            for x in hashlib.sha256(bytes(b)).digest()[:8]
                        ]
                    ),
                }
            )
            yield out

    return df.mapInPandas(op, schema=FEATURE_SCHEMA)
