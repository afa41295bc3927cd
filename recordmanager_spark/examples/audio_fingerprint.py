"""Audio near-duplicate detection over the banded Hamming engine — the
audio leg of the multimodal dedup story (images: ``ahash64`` +
``hamming_neardup_hashes``).

Fingerprint: per ~1 s segment, a 64-bit ENERGY-DELTA fingerprint in
the Haitsma/Kalker (ISMIR 2002, "A Highly Robust Audio Fingerprinting
System") family, reduced to the time axis: split the segment into 65
windows, take each window's RMS energy, emit one bit per adjacent
window pair (1 iff energy rises). Gain-invariant by construction —
scaling every sample by g > 0 scales every window energy by g and
flips no comparison — so re-levelled copies of the same recording
land within a small Hamming distance, where exact-byte dedup sees
unrelated blobs.

Decoding follows the engine's multimodal policy (reference parity:
RecordManager treats media payloads as opaque and wires external
tooling per deployment, conf/recordmanager.ini): PCM16 WAV decodes
with the stdlib/numpy walk already in ``operators/multimodal.py``;
compressed audio (MP3/AAC/…) needs ffmpeg/PyAV, which is INJECTED as
a ``decoder_factory`` — tests pass a deterministic fake, the engine
imports neither.

Scale shape: fingerprinting is one Arrow-batched Python scan (zero
shuffles). The fingerprint table is n_segments rows per audio (tiny
next to the payloads); banding, bucket caps, and the audio-level match
aggregation are the already-audited bounded-state pair engine, exactly
the video-frames composition.
"""

from __future__ import annotations

import struct
from typing import Callable, Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recordmanager_spark.operators.multimodal import wav_meta

# decoder: payload -> (mono float64 samples, sample_rate) or None
AudioDecoder = Callable[[bytes], Optional[Tuple[np.ndarray, int]]]

AUDIO_FP_SCHEMA = "id long, seg int, fp long"


def decode_wav_mono(payload: bytes) -> Optional[Tuple[np.ndarray, int]]:
    """PCM16 WAV -> (mono float64 samples, rate); None for anything the
    stdlib walk cannot decode (not RIFF/WAVE, not 16-bit). Channels are
    mean-mixed to mono — the fingerprint is about program content, not
    stereo imaging."""
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
            ).astype(np.float64)
            ch = max(1, meta["channels"])
            if ch > 1:
                samples = samples[: (samples.size // ch) * ch]
                samples = samples.reshape(-1, ch).mean(axis=1)
            return samples, meta["sample_rate"]
        i += 8 + clen + (clen & 1)
    return None


def energy_delta_fp64(samples: np.ndarray) -> int:
    """64-bit time-axis energy-delta fingerprint of one segment: RMS
    energy over 65 equal windows, bit i set iff energy rises from
    window i to i+1. Deterministic (pure integer/float arithmetic on
    the samples), gain-invariant (energies scale together). Returns a
    SIGNED 64-bit int so the value fits a Spark LONG.

    The 65 window sums come from one ``np.add.reduceat`` pass over the
    squared samples instead of 65 ``np.array_split`` slices each paying
    a tiny ``np.mean`` (profiled at ~1.5 s core-time per 1 k segments).
    Window boundaries replicate array_split: the first ``n % 65``
    windows get the extra sample, and windows left empty (``n < 65``)
    have energy 0. ``reduceat`` sums each window on its own with the
    same pairwise reduction ``np.mean`` uses, so the energies are the
    array_split/mean ones bit for bit; a prefix-sum difference would
    instead carry rounding error that scales with the whole segment's
    running total and flips bits between near-equal windows. Parity
    over randomized and near-constant inputs is pinned in
    tests/test_audio_fingerprint_example.py."""
    n = int(samples.size)
    div, rem = divmod(n, 65)
    sizes = np.full(65, div, dtype=np.int64)
    sizes[:rem] += 1
    starts = np.cumsum(sizes) - sizes
    sq = samples * samples
    # the non-empty windows are a prefix, and each starts below n
    full = sizes > 0
    sums = np.zeros(65, dtype=np.float64)
    if n:
        sums[full] = np.add.reduceat(sq, starts[full])
    with np.errstate(invalid="ignore"):
        e = np.where(full, np.sqrt(sums / np.maximum(sizes, 1)), 0.0)
    bits = e[1:] > e[:-1]
    fp = 0
    for i, b in enumerate(bits):
        if b:
            fp |= 1 << i
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def audio_segment_fingerprints(
    df: DataFrame,
    decoder_factory: Callable[[], AudioDecoder] = lambda: decode_wav_mono,
    seg_ms: int = 1000,
) -> DataFrame:
    """(id, seg, fp): one energy-delta fingerprint per ``seg_ms``
    segment. ``decoder_factory`` resolves once per TASK, not per row
    and never on the driver (a live ffmpeg handle cannot ship from the
    driver — the Solr-pusher transport pattern); the default decodes
    PCM16 WAV with no dependency at all. Audios shorter than one
    segment fingerprint whatever they have; undecodable payloads
    contribute zero rows (they can never pair — the honest outcome)."""
    payload_col = "payload"
    id_col = "id"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = decoder_factory()
        for pdf in batches:
            ids: list = []
            segs: list = []
            fps: list = []
            for rid, b in zip(pdf[id_col], pdf[payload_col]):
                got = decode(bytes(b) if b is not None else b"")
                if got is None:
                    continue
                samples, rate = got
                if samples.size == 0 or rate <= 0:
                    continue
                seg_len = max(1, (rate * seg_ms) // 1000)
                n_segs = max(1, samples.size // seg_len)
                for s in range(n_segs):
                    seg = samples[s * seg_len:(s + 1) * seg_len]
                    ids.append(rid)
                    segs.append(s)
                    fps.append(energy_delta_fp64(seg))
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype="int64"),
                    "seg": pd.Series(segs, dtype="int32"),
                    "fp": pd.Series(fps, dtype="int64"),
                }
            )

    return df.mapInPandas(op, schema=AUDIO_FP_SCHEMA)


def audio_near_duplicates(
    fps: DataFrame,
    max_hamming: int = 3,
    min_matching_segments: int = 2,
) -> DataFrame:
    """(id_a, id_b, n_segment_matches): audio pairs with at least
    ``min_matching_segments`` cross-audio near-duplicate segment pairs
    (energy-delta Hamming distance <= ``max_hamming``): segment
    fingerprints near-dup through the banded Hamming engine, then the
    matches count per audio pair.

    State bounds inherit from the banded engine: the segment-pair table
    is bucket-capped upstream and the audio-level count aggregates
    map-side-combinably — one counter per (audio_a, audio_b)."""
    from recordmanager_spark.operators.text_dedup import (
        hamming_near_duplicates,
    )

    items = fps.select(
        # segment items need unique ids: (audio_id << 16) | segment.
        # 16 bits of segment budget (~18 h at 1 s segments); audio ids
        # stay comparable so id_a < id_b orientation groups consistently.
        # Overflow would silently alias segments into the NEXT audio id
        # (false pairs, corrupted self-pair filter) — fail loudly instead.
        F.when(
            F.col("seg") >= 65536,
            F.raise_error(
                F.concat(
                    F.lit(
                        "audio segment index exceeds the 16-bit sid "
                        "budget (seg="
                    ),
                    F.col("seg").cast("string"),
                    F.lit("); raise seg_ms or pre-shard long audio"),
                )
            ).cast("long"),
        )
        .otherwise(
            F.col("id").cast("long") * F.lit(65536) + F.col("seg")
        )
        .alias("sid"),
        F.col("fp"),
    )
    pairs = hamming_near_duplicates(
        items, id_col="sid", hash_col="fp", max_hamming=max_hamming
    )
    auds = pairs.select(
        # integer div (not /): float division loses bits past 2^53
        F.expr("id_a div 65536").alias("aid_a"),
        F.expr("id_b div 65536").alias("aid_b"),
    ).where(F.col("aid_a") != F.col("aid_b"))
    agg = (
        auds.select(
            F.least("aid_a", "aid_b").alias("id_a"),
            F.greatest("aid_a", "aid_b").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_segment_matches"))
    )
    return agg.where(
        F.col("n_segment_matches") >= min_matching_segments
    )
