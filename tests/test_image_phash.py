"""Perceptual image hashing + image near-dup: integer-exact aHash vs a
pure-Python reference, invariance to uniform brightness, banded pair
mining recall on planted near-identical images."""

from __future__ import annotations

import random

import pytest

from chroma_rs_spark.operators.multimodal import (
    ahash64,
    image_near_dup_pairs,
    image_phash,
)
from tests.test_multimodal_decode import make_png


def _img(rng, w=16, h=16):
    return bytes(rng.randrange(256) for _ in range(w * h))


def _flip_pixels(pixels: bytes, n: int, rng) -> bytes:
    b = bytearray(pixels)
    for _ in range(n):
        i = rng.randrange(len(b))
        b[i] = 255 - b[i]
    return bytes(b)


def _ref_ahash(pixels, w, h, c):
    gray = [
        sum(pixels[p * c + k] for k in range(c)) // c for p in range(w * h)
    ]
    xb = [i * w // 8 for i in range(9)]
    yb = [i * h // 8 for i in range(9)]
    sums, areas = [], []
    for gy in range(8):
        for gx in range(8):
            s = sum(
                gray[y * w + x]
                for y in range(yb[gy], yb[gy + 1])
                for x in range(xb[gx], xb[gx + 1])
            )
            sums.append(s)
            areas.append((yb[gy + 1] - yb[gy]) * (xb[gx + 1] - xb[gx]))
    ts, ta = sum(sums), sum(areas)
    h = sum(1 << i for i in range(64) if sums[i] * ta > ts * areas[i])
    return h - (1 << 64) if h >= (1 << 63) else h


def test_ahash_matches_reference_and_brightness_invariance():
    rng = random.Random(5)
    px = _img(rng)
    assert ahash64(px, 16, 16, 1) == _ref_ahash(px, 16, 16, 1)
    # uniform brightness shift keeps every cell's relation to the mean:
    # cell_sum + d*area vs (total+d*TA)*area/TA — unchanged ordering
    brighter = bytes(min(255, b + 40) if b < 200 else b for b in px)
    # (clamping breaks exact invariance; use a safely-shiftable image)
    px2 = bytes(b // 2 for b in px)  # all < 128
    lifted = bytes(b + 100 for b in px2)
    assert ahash64(px2, 16, 16, 1) == ahash64(lifted, 16, 16, 1)
    # sub-grid images are unscorable
    assert ahash64(px[:49], 7, 7, 1) is None
    assert ahash64(b"", 16, 16, 1) is None
    del brighter


def test_image_phash_and_near_dup_planted(spark):
    """Planted: doc 2 = doc 1 with 3 flipped pixels (near-dup, small
    hamming), doc 3 = independent noise (no pair), doc 4 = exact copy
    of 1 (hamming 0). NULL payload unscorable."""
    rng = random.Random(11)
    base = _img(rng, 24, 24)
    near = _flip_pixels(base, 3, rng)
    other = _img(rng, 24, 24)
    rows = [
        (1, make_png(24, 24, 1, base)),
        (2, make_png(24, 24, 1, near)),
        (3, make_png(24, 24, 1, other)),
        (4, make_png(24, 24, 1, base)),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, payload BINARY")
    hashed = image_phash(df)
    hv = {r["doc_id"]: r for r in hashed.collect()}
    assert hv[1]["ahash"] == hv[4]["ahash"]
    assert hv[1]["width"] == 24 and hv[1]["height"] == 24
    assert hv[5]["ahash"] is None
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_near_dup_pairs(hashed, max_hamming=8).collect()
    }
    assert pairs[(1, 4)] == 0
    assert (1, 2) in pairs and pairs[(1, 2)] <= 8
    assert not any(3 in p for p in pairs)


def test_image_near_dup_validates(spark):
    df = spark.createDataFrame(
        [(1, 0), (2, 3)], "doc_id LONG, ahash LONG"
    )
    with pytest.raises(ValueError):
        image_near_dup_pairs(df, max_hamming=65)
    got = image_near_dup_pairs(df, max_hamming=2).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [(1, 2, 2)]


def test_audio_phash_planted_near_dup(spark):
    """Audio twins (same clip, one sample nudged) pair at small
    hamming; an unrelated clip never pairs; short/NULL unscorable."""
    import io
    import random
    import struct as st
    import wave

    from chroma_rs_spark.operators.multimodal import (
        audio_ahash64,
        audio_phash,
        hash_band_pairs,
    )

    def wav_bytes(samples, rate=8000):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(st.pack(f"<{len(samples)}h", *samples))
        return buf.getvalue()

    rng = random.Random(21)
    base = [rng.randrange(-20000, 20000) for _ in range(512)]
    near = list(base)
    near[100] = -near[100]
    other = [rng.randrange(-20000, 20000) for _ in range(512)]
    df = spark.createDataFrame(
        [
            (1, wav_bytes(base)),
            (2, wav_bytes(near)),
            (3, wav_bytes(other)),
            (4, wav_bytes(base)),
            (5, wav_bytes(base[:32])),  # < 64 frames: unscorable
            (6, None),
        ],
        "doc_id LONG, payload BINARY",
    )
    hashed = audio_phash(df)
    hv = {r["doc_id"]: r for r in hashed.collect()}
    assert hv[1]["ahash"] == hv[4]["ahash"]
    assert hv[1]["n_samples"] == 512 and hv[1]["sample_rate"] == 8000
    assert hv[5]["ahash"] is None and hv[6]["ahash"] is None
    # python-side reference parity on the raw samples
    assert hv[1]["ahash"] == audio_ahash64(base, 1)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hash_band_pairs(hashed, max_hamming=6).collect()
    }
    assert pairs[(1, 4)] == 0
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    assert not any(3 in p for p in pairs)


def test_audio_ahash64_matches_scalar_reference():
    """The vectorized audio_ahash64 (round 14, guide §4.2) is
    bit-identical to the original scalar loop on multi-channel clips,
    non-multiple-of-64 frame counts, trailing partial frames, and the
    unscorable short/empty cases."""
    import random

    from chroma_rs_spark.operators.multimodal import audio_ahash64

    def scalar(samples, n_channels):
        if not samples or n_channels < 1:
            return None
        n_frames = len(samples) // n_channels
        if n_frames < 64:
            return None
        mix = [
            abs(sum(samples[f * n_channels + c] for c in range(n_channels)))
            for f in range(n_frames)
        ]
        wb = [(i * n_frames) // 64 for i in range(65)]
        sums = [sum(mix[wb[i] : wb[i + 1]]) for i in range(64)]
        lens = [wb[i + 1] - wb[i] for i in range(64)]
        total_sum, total_len = sum(sums), n_frames
        h = 0
        for i in range(64):
            if sums[i] * total_len > total_sum * lens[i]:
                h |= 1 << i
        return h - (1 << 64) if h >= (1 << 63) else h

    rng = random.Random(7)
    cases = [
        ([rng.randrange(-32768, 32768) for _ in range(128)], 1),
        ([rng.randrange(-32768, 32768) for _ in range(257)], 2),  # odd tail
        ([rng.randrange(-32768, 32768) for _ in range(101)], 1),  # n%64 != 0
        ([rng.randrange(-32768, 32768) for _ in range(6 * 73)], 6),
        ([32767] * 128, 1),  # all-equal: every comparison is a tie
        ([0] * 128, 1),
        ([rng.randrange(-32768, 32768) for _ in range(63)], 1),  # short
        ([], 1),
        ([1, 2, 3], 0),  # bad channel count
    ]
    for samples, ch in cases:
        assert audio_ahash64(samples, ch) == scalar(samples, ch)


def test_audio_ahash64_rejects_samples_outside_int16():
    """The int64 exactness argument needs int16-range integer samples:
    anything else raises instead of hashing silently."""
    import pytest

    from chroma_rs_spark.operators.multimodal import audio_ahash64

    for bad in (32768, -32769, 1 << 70, 0.5):
        samples = [0] * 127 + [bad]
        with pytest.raises(ValueError, match="int16"):
            audio_ahash64(samples, 1)
    assert audio_ahash64([-32768, 32767] * 64, 1) is not None


def test_video_near_dup_planted(spark):
    """Planted (doc_id, frame_md5) streams: docs 1/2 share 3 frames,
    doc 3 shares only 1 (below min_shared), doc 4 disjoint; a
    ubiquitous frame past max_df never generates candidates."""
    import pytest as _pytest

    from chroma_rs_spark.operators.multimodal import video_near_dup_pairs

    rows = []
    for d, frames in {
        1: ["a", "b", "c", "x1"],
        2: ["a", "b", "c", "x2"],
        3: ["a", "y1", "y2"],
        4: ["z1", "z2"],
    }.items():
        rows += [(d, fr) for fr in frames]
    # a boilerplate frame present in EVERY doc, dropped by max_df=3
    rows += [(d, "BLACK") for d in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, "doc_id LONG, frame_md5 STRING")
    got = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in video_near_dup_pairs(df, min_shared=2, max_df=3).collect()
    }
    assert got == {(1, 2): 3}
    # without the guard the boilerplate frame pushes 1-3/2-3 to 2 shared
    loose = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in video_near_dup_pairs(df, min_shared=2, max_df=None).collect()
    }
    assert (1, 3) in loose and (2, 3) in loose and loose[(1, 2)] == 4
    with _pytest.raises(ValueError):
        video_near_dup_pairs(df, min_shared=0)


def test_phash_malformed_payloads_are_unscorable(spark):
    """A truncated/garbage payload costs its row (NULL ahash), never
    the job — for both modalities."""
    from chroma_rs_spark.operators.multimodal import audio_phash, image_phash

    df = spark.createDataFrame(
        [(1, b"\x89PNG\r\n\x1a\ngarbage"), (2, b"not an image at all")],
        "doc_id LONG, payload BINARY",
    )
    rows = {r["doc_id"]: r for r in image_phash(df).collect()}
    assert rows[1]["ahash"] is None and rows[2]["ahash"] is None
    arows = {r["doc_id"]: r for r in audio_phash(df).collect()}
    assert arows[1]["ahash"] is None and arows[2]["ahash"] is None


def test_image_phash_real_fixture_round_trip(spark):
    """The driver fixture's rendered PNGs decode back to exactly the
    md5-derived pixels: dimensions, exact mean, and an aHash equal to
    the pure-python ahash64 on the raw (pre-encode) pixel buffer."""
    import hashlib

    from chroma_rs_spark.operators.multimodal import ahash64
    from chroma_rs_spark.suite.pipeline import q_image_phash_real
    from tests.conftest import SF001_DIR

    rows = {
        r["doc_id"]: r
        for r in q_image_phash_real(spark, SF001_DIR).collect()
    }
    assert len(rows) == 500
    for did in (0, 7, 499):
        px = b"".join(
            hashlib.md5(f"{did}:{i}".encode()).digest() for i in range(16)
        )
        r = rows[did]
        assert (r["width"], r["height"], r["channels"]) == (16, 16, 1)
        assert r["mean_intensity"] == sum(px) / 256
        assert r["ahash"] == ahash64(px, 16, 16, 1)


def test_audio_ahash_real_fixture_round_trip(spark):
    """The rendered RIFF/WAVE payloads decode back to exactly the
    md5-derived int16 frames: counts, rate, and an ahash equal to the
    pure-python audio_ahash64 on the raw (pre-encode) samples."""
    import hashlib
    import struct

    from chroma_rs_spark.operators.multimodal import audio_ahash64
    from chroma_rs_spark.suite.pipeline import q_audio_ahash_real
    from tests.conftest import SF001_DIR

    rows = {
        r["doc_id"]: r
        for r in q_audio_ahash_real(spark, SF001_DIR).collect()
    }
    assert len(rows) == 500
    for did in (0, 13, 499):
        raw = b"".join(
            hashlib.md5(f"{did}:a{i}".encode()).digest() for i in range(16)
        )
        samples = list(struct.unpack("<128h", raw))
        r = rows[did]
        assert (r["n_samples"], r["sample_rate"]) == (128, 8000)
        assert r["ahash"] == audio_ahash64(samples, 1)
