"""Multimodal plumbing tests: binary columns, Arrow streaming, byte budgets."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from recordmanager_spark.operators import multimodal as MM


def _media(spark, n=10, size=1000):
    rows = [(i, bytes([i % 256]) * size) for i in range(n)]
    return spark.createDataFrame(rows, "id long, payload binary")


def test_attach_media_meta(spark):
    out = MM.attach_media_meta(_media(spark, 3, 10)).collect()
    r = next(x for x in out if x.id == 1)
    assert r.byte_len == 10
    assert r.sha256 == hashlib.sha256(b"\x01" * 10).hexdigest()


def test_extract_features_shape_and_determinism(spark):
    out = {r.id: r for r in MM.extract_features(_media(spark)).collect()}
    assert len(out) == 10
    r = out[2]
    digest = hashlib.sha256(b"\x02" * 1000).digest()
    assert r.sha256 == hashlib.sha256(b"\x02" * 1000).hexdigest()
    assert r.byte_len == 1000
    assert len(r.feature) == 8
    assert r.feature[0] == pytest.approx(digest[0] / 255.0, abs=1e-6)


def test_repartition_by_bytes(spark):
    df = _media(spark, n=8, size=100_000)  # 800 KB total
    out = MM.repartition_by_bytes(df, "payload", target_bytes=200_000)
    assert out.rdd.getNumPartitions() == 5  # ceil(800k/200k)+1 bound
    assert out.count() == 8


# ---------------------------------------------------------------------------
# Real decoders: crafted payloads, byte-level parses checked against the
# generation parameters (and the WAV path against the stdlib encoder).
# ---------------------------------------------------------------------------

import io
import struct
import wave

import numpy as np


def make_png(w, h):
    ihdr = struct.pack(">II", w, h) + bytes([8, 2, 0, 0, 0])
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr + b"\x00" * 4
    )


def make_gif(w, h):
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 6


def make_jpeg(w, h):
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", h, w) + b"\x01\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def make_bmp(w, h, pixel, top_down=False):
    """Uncompressed 24-bit BMP; pixel(x, y) -> (r, g, b), y=0 is top."""
    stride = (w * 3 + 3) & ~3
    rows = []
    ys = range(h) if top_down else range(h - 1, -1, -1)
    for y in ys:
        row = bytearray()
        for x in range(w):
            r, g, b = pixel(x, y)
            row += bytes([b, g, r])
        row += b"\x00" * (stride - len(row))
        rows.append(bytes(row))
    data = b"".join(rows)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 24, 0,
        len(data), 2835, 2835, 0, 0,
    )
    off = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    return hdr + info + data


def make_wav(rate, frames, amp, channels=1):
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        samples = np.empty(frames * channels, dtype="<i2")
        samples[0::2] = amp
        samples[1::2] = -amp
        wf.writeframes(samples.tobytes())
    return buf.getvalue()


def test_sniff_mime_python_and_jvm_agree(spark):
    payloads = {
        "image/png": make_png(3, 4),
        "image/gif": make_gif(5, 6),
        "image/jpeg": make_jpeg(7, 8),
        "image/bmp": make_bmp(4, 2, lambda x, y: (0, 0, 0)),
        "audio/wav": make_wav(8000, 10, 100),
        "application/pdf": b"%PDF-1.4 fake",
        None: b"\x00\x01\x02\x03unknown",
    }
    rows = [(i, p) for i, p in enumerate(payloads.values())]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {
        r["id"]: r["m"]
        for r in df.select("id", MM.sniff_mime_expr("payload").alias("m")).collect()
    }
    for i, (mime, p) in enumerate(payloads.items()):
        assert MM.sniff_mime(p) == mime
        assert got[i] == mime
    assert MM.sniff_mime(None) is None
    assert MM.sniff_mime(b"") is None


def test_image_dims_parsers():
    assert MM.png_dims(make_png(640, 480)) == (640, 480)
    assert MM.gif_dims(make_gif(12, 34)) == (12, 34)
    assert MM.jpeg_dims(make_jpeg(321, 123)) == (321, 123)
    assert MM.bmp_dims(make_bmp(17, 9, lambda x, y: (1, 2, 3))) == (17, 9)
    # truncation → None, not a crash
    assert MM.png_dims(make_png(1, 1)[:10]) is None
    assert MM.jpeg_dims(b"\xff\xd8\xff\xe0") is None
    assert MM.bmp_dims(b"BM") is None


def test_wav_meta_and_rms():
    p = make_wav(16000, 1234, 700)
    m = MM.wav_meta(p)
    assert m == {
        "channels": 1, "sample_rate": 16000, "bits": 16,
        "n_frames": 1234, "duration_ms": (1234 * 1000) // 16000,
    }
    # alternating +-700 → RMS exactly 700
    assert MM.wav_rms(p) == 700.0
    assert MM.wav_meta(b"RIFFxxxxWAVE") is None


def test_bmp_pixel_decode_and_padding():
    # w=17 forces 3 pad bytes per row; gradient must survive both
    # orientations
    def px(x, y):
        return (x * 10 % 256, y * 20 % 256, (x + y) % 256)

    for top_down in (False, True):
        img = MM.bmp_pixels(make_bmp(17, 5, px, top_down=top_down))
        assert img.shape == (5, 17, 3)
        for x, y in ((0, 0), (16, 4), (3, 2)):
            assert tuple(img[y, x]) == px(x, y)


def test_ahash_half_split():
    # left half black, right half white → rows of 00001111
    img = MM.bmp_pixels(
        make_bmp(16, 16, lambda x, y: (0, 0, 0) if x < 8 else (255, 255, 255))
    )
    assert MM.ahash64(img) == "0f0f0f0f0f0f0f0f"
    img2 = MM.bmp_pixels(
        make_bmp(16, 16, lambda x, y: (255, 255, 255) if x < 8 else (0, 0, 0))
    )
    assert MM.ahash64(img2) == "f0f0f0f0f0f0f0f0"


def test_media_probe_mixed_batch(spark):
    rows = [
        (0, make_wav(8000, 400, 1000)),
        (1, make_bmp(16, 16, lambda x, y: (0, 0, 0) if x < 8 else (255, 255, 255))),
        (2, make_png(99, 66)),
        (3, b"garbage bytes"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r["id"]: r for r in MM.media_probe(df).collect()}
    assert got[0]["mime"] == "audio/wav"
    assert got[0]["sample_rate"] == 8000
    assert got[0]["duration_ms"] == 50
    assert got[0]["rms"] == 1000
    assert got[1]["mime"] == "image/bmp"
    assert (got[1]["width"], got[1]["height"]) == (16, 16)
    assert got[1]["ahash"] == "0f0f0f0f0f0f0f0f"
    assert got[2]["mime"] == "image/png"
    assert (got[2]["width"], got[2]["height"]) == (99, 66)
    assert got[3]["mime"] is None and got[3]["width"] is None
    assert got[4]["mime"] is None


def make_webp_lossy(w, h):
    vp8 = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", w, h) + b"\x00" * 8
    chunk = b"VP8 " + struct.pack("<I", len(vp8)) + vp8
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def make_webp_lossless(w, h):
    bits = (w - 1) | ((h - 1) << 14)
    body = b"\x2f" + struct.pack("<I", bits) + b"\x00" * 8
    chunk = b"VP8L" + struct.pack("<I", len(body)) + body
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def make_webp_extended(w, h):
    body = (
        b"\x00\x00\x00\x00"
        + (w - 1).to_bytes(3, "little")
        + (h - 1).to_bytes(3, "little")
    )
    chunk = b"VP8X" + struct.pack("<I", len(body)) + body
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def make_mp3(seconds=2, bitrate_kbps=128, id3=False):
    """CBR MPEG-1 Layer III header + filler bytes sized to the target
    duration; optional ID3v2 tag in front."""
    # 0xFF 0xFB: MPEG1 Layer III no-CRC; bitrate idx 9 = 128kbps,
    # samplerate idx 0 = 44100
    hdr = bytes([0xFF, 0xFB, 0x90, 0x00])
    body = hdr + b"\x00" * (seconds * bitrate_kbps * 1000 // 8 - 4)
    if id3:
        tag = b"ID3\x03\x00\x00" + bytes([0, 0, 0, 10]) + b"\x00" * 10
        return tag + body
    return body


def test_webp_dims_all_variants():
    assert MM.webp_dims(make_webp_lossy(320, 240)) == (320, 240)
    assert MM.webp_dims(make_webp_lossless(12, 7)) == (12, 7)
    assert MM.webp_dims(make_webp_extended(1920, 1080)) == (1920, 1080)
    assert MM.webp_dims(b"RIFF\x00\x00\x00\x00WAVE") is None
    assert MM.webp_dims(b"") is None


def test_mp3_meta_cbr_estimate():
    m = MM.mp3_meta(make_mp3(seconds=3))
    assert m["bitrate_kbps"] == 128 and m["sample_rate"] == 44100
    assert abs(m["duration_ms"] - 3000) < 50
    m2 = MM.mp3_meta(make_mp3(seconds=2, id3=True))
    assert m2 is not None and abs(m2["duration_ms"] - 2000) < 50
    assert MM.mp3_meta(b"\x00" * 64) is None


def test_media_probe_webp_and_mp3(spark):
    df = spark.createDataFrame(
        [
            (1, bytearray(make_webp_lossy(64, 32))),
            (2, bytearray(make_mp3(seconds=2))),
        ],
        "id long, payload binary",
    )
    out = {r.id: r for r in MM.media_probe(df).collect()}
    assert out[1].mime == "image/webp"
    assert (out[1].width, out[1].height) == (64, 32)
    assert out[2].mime == "audio/mpeg"
    assert out[2].sample_rate == 44100
    assert abs(out[2].duration_ms - 2000) < 50


def test_resize_nearest_exact_math():
    import numpy as np

    # 2x2 -> 4x4 nearest: each source pixel becomes a 2x2 block
    img = np.array(
        [[[0, 0, 0], [255, 0, 0]], [[0, 255, 0], [0, 0, 255]]],
        dtype=np.uint8,
    )
    out = MM.resize_nearest(img, 4, 4)
    assert out.shape == (4, 4, 3)
    assert (out[:2, :2] == [0, 0, 0]).all()
    assert (out[:2, 2:] == [255, 0, 0]).all()
    assert (out[2:, :2] == [0, 255, 0]).all()
    assert (out[2:, 2:] == [0, 0, 255]).all()
    # downscale picks floor-sampled originals
    down = MM.resize_nearest(out, 2, 2)
    assert (down == img).all()


def test_resize_images_stage(spark):
    import numpy as np

    rows = [
        (1, make_bmp(8, 4, lambda x, y: (x * 10, y * 20, 7))),
        (2, b"not an image"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {
        r["id"]: r
        for r in MM.resize_images(df, width=4, height=2).collect()
    }
    r1 = out[1]
    assert (r1["src_width"], r1["src_height"]) == (8, 4)
    assert (r1["width"], r1["height"]) == (4, 2)
    px = np.frombuffer(r1["pixels"], dtype=np.uint8).reshape(2, 4, 3)
    # nearest with 2x scale: sampled at x*2, y*2 of the source gradient
    assert (px[0, 0] == [0, 0, 7]).all()
    assert (px[1, 3] == [60, 40, 7]).all()
    # undecodable/missing payloads keep their row with NULL pixels
    assert out[2]["pixels"] is None and out[2]["src_width"] is None
    assert out[3]["pixels"] is None


def test_resize_images_injected_decoder(spark):
    import numpy as np

    # the PIL seam: any format decodes when a library is injected
    def fake_decoder(payload):
        if payload == b"JPEGISH":
            return np.full((3, 3, 3), 9, dtype=np.uint8)
        return None

    df = spark.createDataFrame([(1, b"JPEGISH")], "id long, payload binary")
    r = MM.resize_images(df, width=2, height=2, decoder=fake_decoder).first()
    assert r["width"] == 2 and r["src_width"] == 3
    assert np.frombuffer(r["pixels"], dtype=np.uint8).tolist() == [9] * 12
