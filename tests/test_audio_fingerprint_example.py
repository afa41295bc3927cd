"""Audio near-dup example (examples/audio_fingerprint.py): stdlib WAV
decode -> per-segment energy-delta fingerprints -> the banded Hamming
pair engine, mirroring the video-frames composition. Pins gain
invariance (the property that makes it a NEAR-dup detector), the
perturbation tolerance, and the injected-decoder seam."""

from __future__ import annotations

import io
import wave

import numpy as np
import pytest

from recordmanager_spark.examples.audio_fingerprint import (
    audio_near_duplicates,
    audio_segment_fingerprints,
    decode_wav_mono,
    energy_delta_fp64,
)

RATE = 8000
SEG = RATE  # 1 s segments at seg_ms=1000
WIN = 65


def make_wav(amps_per_window: list[list[int]], channels: int = 1) -> bytes:
    """One WAV from per-segment window-amplitude patterns: each segment
    is 65 constant-amplitude windows, so window RMS == |amplitude| and
    the energy-delta bits follow the pattern exactly."""
    samples: list[int] = []
    for seg_amps in amps_per_window:
        assert len(seg_amps) == WIN
        base = SEG // WIN
        extra = SEG - base * WIN
        for j, a in enumerate(seg_amps):
            ln = base + (1 if j < extra else 0)
            samples.extend([a] * ln)
    arr = np.array(samples, dtype="<i2")
    if channels == 2:
        arr = np.repeat(arr, 2)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(2)
        wf.setframerate(RATE)
        wf.writeframes(arr.tobytes())
    return buf.getvalue()


def pattern(seed: int, n_segs: int = 3) -> list[list[int]]:
    return [
        [((seed * 131 + s * 17 + j * 37) % 89) + 1 for j in range(WIN)]
        for s in range(n_segs)
    ]


@pytest.fixture(scope="module")
def audios(spark):
    pat_a = pattern(1)
    # b: the same recording re-levelled at double gain
    wav_b = make_wav([[a * 2 for a in seg] for seg in pat_a])
    # c: a at original gain with ONE window perturbed per segment
    pat_c = [list(seg) for seg in pat_a]
    for seg in pat_c:
        seg[10] = seg[10] + 50
    rows = [
        (1, make_wav(pat_a)),
        (2, wav_b),
        (3, make_wav(pat_c)),
        (4, make_wav(pattern(99))),     # unrelated content
        (5, b"\x00\x01not audio"),      # undecodable
    ]
    return spark.createDataFrame(rows, "id long, payload binary")


def test_energy_delta_gain_invariant_and_deterministic():
    seg = np.array(
        [a for a in range(1, WIN + 1) for _ in range(123)], dtype=np.float64
    )
    fp1 = energy_delta_fp64(seg)
    fp2 = energy_delta_fp64(seg * 0.25)
    assert fp1 == fp2 == energy_delta_fp64(seg)
    # strictly rising energies set every bit -> all-ones signed == -1
    assert fp1 == -1


def test_decode_wav_mono_mixes_channels():
    pat = pattern(5, n_segs=1)
    mono = decode_wav_mono(make_wav(pat))
    stereo = decode_wav_mono(make_wav(pat, channels=2))
    assert mono is not None and stereo is not None
    assert mono[1] == stereo[1] == RATE
    np.testing.assert_allclose(mono[0], stereo[0])
    assert decode_wav_mono(b"junk") is None


def test_fingerprints_shape_and_gain_invariance(spark, audios):
    fps = audio_segment_fingerprints(audios).collect()
    by_id: dict = {}
    for r in fps:
        by_id.setdefault(r["id"], {})[r["seg"]] = r["fp"]
    # 3 segments each for the four decodable audios; none for the junk
    assert {i: len(v) for i, v in by_id.items()} == {1: 3, 2: 3, 3: 3, 4: 3}
    # re-levelled copy fingerprints IDENTICALLY
    assert by_id[1] == by_id[2]
    # perturbed copy differs by <= 2 bits per segment (one window
    # touches two adjacent delta bits)
    for s in range(3):
        assert bin(by_id[1][s] ^ by_id[3][s]).count("1") <= 2
    # unrelated content is far away
    assert any(
        bin(by_id[1][s] ^ by_id[4][s]).count("1") > 3 for s in range(3)
    )


def test_audio_near_duplicates_groups_family(spark, audios):
    fps = audio_segment_fingerprints(audios)
    pairs = {
        (r["id_a"], r["id_b"]): r["n_segment_matches"]
        for r in audio_near_duplicates(
            fps, max_hamming=3, min_matching_segments=2
        ).collect()
    }
    assert pairs[(1, 2)] == 3   # gain twin: every segment matches
    assert (1, 3) in pairs      # perturbed copy still pairs
    assert (2, 3) in pairs
    assert not any(4 in p for p in pairs)  # unrelated never pairs


def test_injected_decoder_seam(spark):
    """The compressed-audio path: a deterministic fake decoder stands in
    for PyAV, proving the factory resolves task-side and drives the
    same fingerprint pipeline."""

    def fake_decoder_factory():
        def decode(payload: bytes):
            if not payload.startswith(b"FAKE"):
                return None
            seed = payload[4]
            rng = [((seed * 7 + i) % 50) + 1 for i in range(WIN)]
            seg = np.array(
                [a for a in rng for _ in range(SEG // WIN)],
                dtype=np.float64,
            )
            return seg, RATE

        return decode

    df = spark.createDataFrame(
        [(1, b"FAKE\x05"), (2, b"FAKE\x05"), (3, b"mp3?")],
        "id long, payload binary",
    )
    fps = audio_segment_fingerprints(
        df, decoder_factory=fake_decoder_factory
    ).collect()
    assert {r["id"] for r in fps} == {1, 2}
    assert len({r["fp"] for r in fps}) == 1  # identical fake content


def test_segment_budget_overflow_raises(spark):
    """The 16-bit sid segment budget is enforced, not just documented:
    seg >= 65536 would alias into the NEXT audio id (false pairs), so
    the pairing op fails loudly instead."""
    fps = spark.createDataFrame(
        [(1, 65536, 7), (2, 0, 7)], "id long, seg int, fp long"
    )
    with pytest.raises(Exception, match="16-bit sid budget"):
        audio_near_duplicates(fps, min_matching_segments=1).collect()


def test_energy_delta_fp64_matches_reference():
    """Parity pin for the r13 cumsum rewrite of the window energies:
    the pre-rewrite array_split/per-window-mean implementation must
    produce the same fingerprint over randomized inputs (sizes below,
    at, and far above the 65-window count, plus constant-amplitude
    windows like the fixture's)."""
    import numpy as np

    from recordmanager_spark.examples.audio_fingerprint import (
        energy_delta_fp64,
    )

    def ref(samples):
        windows = np.array_split(samples, 65)
        e = np.array(
            [
                float(np.sqrt(np.mean(w * w))) if w.size else 0.0
                for w in windows
            ]
        )
        bits = e[1:] > e[:-1]
        fp = 0
        for i, b in enumerate(bits):
            if b:
                fp |= 1 << i
        return fp - (1 << 64) if fp >= (1 << 63) else fp

    rng = np.random.default_rng(65)
    for n in (1, 10, 64, 65, 66, 130, 997, 4000, 8191):
        for _ in range(20):
            s = rng.integers(-2000, 2000, size=n).astype(np.float64)
            assert energy_delta_fp64(s) == ref(s), f"diverges at n={n}"
    # the fixture shape: constant |amp| per window, alternating sign
    amp = np.repeat(
        ((np.arange(65) * 37 + 5) % 89 + 1).astype(np.float64), 61
    )
    sgn = np.where(np.arange(amp.size) % 2 == 0, 1.0, -1.0)
    assert energy_delta_fp64(amp * sgn) == ref(amp * sgn)
    # near-constant energy: windows differ in the 13th digit, so the
    # window sums must not carry error from the running total
    for m in (300, 977, 2500):
        for _ in range(5):
            k = rng.integers(-3, 4, size=65)
            s = np.repeat(0.7 * (1 + 1e-13 * k), m)
            assert energy_delta_fp64(s) == ref(s), f"diverges at m={m}"
