"""``decode_rle_runs``'s regex-split fast path against the stream-order walk.

``decode_rle_runs`` tokenizes a stream with one regex split and expands the
tokens when the pixels land back to back from pixel 0, and hands every
other stream to ``rle._decode_rle_walk``.  These tests feed both the same
streams — encoder-built, mutated, truncated, hand-built with under- and
over-filled rows, zero-length runs and a lone trailing 0x00 — and require the same int16 image or the same ``DecodeError`` message.
Width and height are >= 1: ``decode_image`` returns a blank canvas before
anything smaller reaches the decoder.
"""

from __future__ import annotations

import random
import tracemalloc

import numpy as np
import pytest

from pgstosrt_spark.fixtures import encoder as enc
from pgstosrt_spark.pgs import rle
from pgstosrt_spark.pgs.model import DecodeError


def _outcome(fn, buf, width, height, alpha_lut):
    try:
        img = fn(buf, width, height, alpha_lut)
    except DecodeError as exc:
        return ("error", str(exc))
    assert img.dtype == np.int16 and img.shape == (width * height,)
    return ("image", img.tobytes())


def _assert_same(buf, width, height, alpha_lut):
    got = _outcome(rle.decode_rle_runs, buf, width, height, alpha_lut)
    want = _outcome(rle._decode_rle_walk, buf, width, height, alpha_lut)
    assert got == want, (buf.hex(), width, height)
    return got


def _alpha_luts(rng: random.Random):
    lut = np.array([rng.choice((0, 0, 128, 255)) for _ in range(256)], dtype=np.uint8)
    return (None, lut)


def _image(rng: random.Random, width: int, height: int) -> np.ndarray:
    """Index image mixing long runs, short runs and literal noise."""
    img = np.zeros((height, width), dtype=np.uint8)
    for row in img:
        x = 0
        while x < width:
            n = min(width - x, rng.choice((1, 2, 3, 40, 70, 300)))
            row[x : x + n] = rng.choice((0, 0, 1, 2, rng.randrange(256)))
            x += n
    return img


def _encoded(rng: random.Random, n: int) -> list[tuple[bytes, int, int]]:
    out = []
    for _ in range(n):
        width, height = rng.randint(1, 400), rng.randint(1, 12)
        img = _image(rng, width, height)
        out.append((enc.rle_encode(img, force_long=rng.random() < 0.3), width, height))
    return out


def _mutated(rng: random.Random, buf: bytes) -> bytes:
    b = bytearray(buf)
    for _ in range(rng.randint(1, 4)):
        if not b:
            break
        k = rng.randrange(len(b))
        b[k] = rng.choice((0, 0, 0x40, 0x80, 0xC0, rng.randrange(256)))
    if rng.random() < 0.5:
        b = b[: rng.randint(0, len(b))]
    return bytes(b)


def _run_token(rng: random.Random, n: int) -> bytes:
    """One escape or literal writing ``n`` pixels (``n`` may be 0)."""
    c = rng.choice((0, 1, 2, rng.randrange(1, 256)))
    if c == 0:
        if 0 < n < 0x40 and rng.random() < 0.7:
            return bytes([0, n])
        return bytes([0, 0x40 | (n >> 8), n & 0xFF])
    if 0 < n <= 2 and rng.random() < 0.5:
        return bytes([c]) * n
    if n < 0x40 and rng.random() < 0.7:
        return bytes([0, 0x80 | n, c])
    return bytes([0, 0xC0 | (n >> 8), n & 0xFF, c])


def _hand_built(rng: random.Random, width: int, height: int) -> bytes:
    """Row by row: mostly exact rows, some under- or over-filled (EOL
    snap-back), zero-length runs, a missing last EOL, a lone 0x00."""
    out = bytearray()
    for _ in range(height + rng.choice((0, 0, 0, 1, -1))):
        target = width
        if rng.random() < 0.15:
            target = max(0, width + rng.randint(-width, width))
        left = target
        while left > 0:
            n = rng.randint(1, left)
            out += _run_token(rng, n)
            left -= n
            if rng.random() < 0.1:
                out += _run_token(rng, 0)
        out += b"\x00\x00"
    if rng.random() < 0.2:
        out = out[:-2]
    if rng.random() < 0.1:
        out += b"\x00"
    return bytes(out)


def test_encoder_streams_take_the_fast_path(monkeypatch):
    """Encoder-built streams never reach the walk, so the fast path cannot
    go dead unnoticed."""
    rng = random.Random(11)
    cases = [
        (buf, width, height, lut)
        for buf, width, height in _encoded(rng, 300)
        for lut in _alpha_luts(rng)
    ]
    want = [rle._decode_rle_walk(*case) for case in cases]

    def no_walk(*args, **kwargs):
        raise AssertionError("an encoder-built stream reached the walk")

    monkeypatch.setattr(rle, "_decode_rle_walk", no_walk)
    for case, image in zip(cases, want):
        assert np.array_equal(rle.decode_rle_runs(*case), image)


@pytest.mark.parametrize("seed", range(4))
def test_encoded_and_mutated_streams_match_the_walk(seed):
    rng = random.Random(seed)
    for buf, width, height in _encoded(rng, 250):
        for lut in _alpha_luts(rng):
            _assert_same(buf, width, height, lut)
            _assert_same(_mutated(rng, buf), width, height, lut)
            # the stream against a canvas of another shape
            _assert_same(buf, rng.randint(1, 400), rng.randint(1, 12), lut)


@pytest.mark.parametrize("seed", range(4))
def test_hand_built_streams_match_the_walk(seed):
    rng = random.Random(100 + seed)
    outcomes = set()
    for _ in range(500):
        width, height = rng.randint(1, 60), rng.randint(1, 6)
        buf = _hand_built(rng, width, height)
        for lut in _alpha_luts(rng):
            outcomes.add(_assert_same(buf, width, height, lut)[0])
    assert outcomes == {"image", "error"}


@pytest.mark.parametrize(
    "buf, width, height",
    [
        (b"", 3, 2),
        (b"\x00", 3, 2),  # lone 0x00: one literal pixel of colour 0
        (b"\x01\x02\x00", 3, 2),
        (b"\x00\x00", 3, 2),  # empty row: the cursor skips a whole row
        (b"\x00\x40\x00\x00\x80\x05\x00\xc0\x00\x07\x01\x01\x01\x00\x00", 3, 2),
        (b"\x00\x83\x05\x00\x00\x00\x40", 3, 2),  # truncated long run
        (b"\x00\x83\x05\x00\x00\x00\xc0\x01", 3, 2),  # truncated long colour run
        (b"\x00\x85\x01\x00\x00\x00\x83\x02", 3, 2),  # overfilled row, snap-back
        (b"\x00\x82\x01\x00\x00\x00\x83\x02", 3, 2),  # underfilled row
        (b"\x00\x87\x01", 3, 2),  # overrun
        (b"\x00\x83\x01\x00\x00\x00\x83\x02\x00\x00\x01", 3, 2),  # overrun after rows
        (bytes(range(1, 256)), 255, 1),
    ],
)
def test_edge_streams_match_the_walk(buf, width, height):
    lut = np.full(256, 255, dtype=np.uint8)
    lut[::3] = 0
    for alpha in (None, lut):
        _assert_same(buf, width, height, alpha)


def test_distinct_long_runs_match_the_walk():
    rng = random.Random(7)
    for _ in range(40):
        # ~80 distinct long colour runs per stream, on a canvas they fill
        # exactly, one pixel short and one pixel over
        runs = [_run_token(rng, rng.randint(64, 0x3FFF)) for _ in range(80)]
        buf = b"".join(runs)
        total = sum(rle._run(t)[0] for t in runs)
        for width in (total, total - 1, total + 1):
            _assert_same(buf, width, 1, None)


@pytest.mark.parametrize(
    "buf",
    [
        b"\x00\xff\xff\x01" * 16_000,
        # a different long colour run each time: none shares its pixels
        b"".join(
            bytes([0, 0xFF, k & 0xFF, 1 + (k >> 8)]) for k in range(16_000)
        ),
    ],
    ids=["repeated", "distinct"],
)
def test_stream_past_the_canvas_builds_no_pixels(buf):
    """16,000 runs of ~16,300 pixels (262 M) against a 3840x2160 canvas: the
    overrun is found from the run lengths, before any run is built."""
    tracemalloc.start()
    try:
        with pytest.raises(DecodeError, match="RLE overrun"):
            rle.decode_rle_runs(buf, 3840, 2160)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 8 * 2**20
