"""Hostile input: no payload bytes may kill a kernel.

Seeded mutations of the seven corpus variants (bit flips, truncation,
0xFFFF written into length/size fields) go through the extraction kernel
in-process.  Every payload must come out as either a ``_metric`` row (its
cues, plus one ``_error`` row per dropped composition) or exactly one
classified seq-0 ``_error`` row, with the same cues and errors as the
pure-Python oracle, within fixed CPU and memory bounds.  The media probe
kernel must survive the same payloads and truncated container headers.
"""

from __future__ import annotations

import random
import struct
import time
import tracemalloc

import pandas as pd
import pytest

from pgstosrt_spark.fixtures import encoder as enc
from pgstosrt_spark.fixtures.corpus import N_VARIANTS, _media_payload
from pgstosrt_spark.kernels import make_fused_kernel
from pgstosrt_spark.multimodal import probe_kernel
from pgstosrt_spark.pgs.decode import (
    MKV_MAGIC,
    decode_media_payload,
    pack_mkv_packets,
    unpack_mkv_packets,
)
from pgstosrt_spark.pgs.ebml import EBML_MAGIC
from pgstosrt_spark.pgs.model import DecodeError

CUES = ["HI THERE", "OK", "GO"]
N_PAYLOADS = 300
# Per payload through the kernel; the worst measured is ~30 ms of CPU and
# ~12 MB (one canvas at rle.MAX_CANVAS_PIXELS).
MAX_CPU_S = 0.5
MAX_PEAK_BYTES = 64 << 20


def _sup_fields(payload: bytes) -> list[int]:
    """Byte offsets of every SUP segment's BE16 size field and of each first
    ODS fragment's width and height; empty for MKPG and EBML framing."""
    fields, pos = [], 0
    while pos + 13 <= len(payload) and payload[pos : pos + 2] == b"PG":
        (size,) = struct.unpack_from(">H", payload, pos + 11)
        fields.append(pos + 11)
        if payload[pos + 10] == enc.SEG_ODS and payload[pos + 16] & 0x80:
            fields += [pos + 20, pos + 22]
        pos += 13 + size
    return fields


def _mutate(rng: random.Random, payload: bytes) -> bytes:
    b = bytearray(payload)
    op = rng.randrange(4)
    if op == 0:  # bit flips
        for _ in range(rng.randint(1, 8)):
            bit = rng.randrange(len(b) * 8)
            b[bit >> 3] ^= 1 << (bit & 7)
    elif op == 1:  # truncation
        del b[rng.randrange(len(b)) :]
    else:  # 0xFFFF into a header field (op 2, SUP framing) or anywhere
        fields = _sup_fields(payload) if op == 2 else []
        i = rng.choice(fields) if fields else rng.randrange(len(b) - 1)
        b[i : i + 2] = b"\xff\xff"
    return bytes(b)


def _mutated_payloads(seed: int, n: int) -> list[tuple[int, bytes]]:
    rng = random.Random(seed)
    base = [_media_payload(CUES, v) for v in range(N_VARIANTS)]
    return [(i % N_VARIANTS, _mutate(rng, base[i % N_VARIANTS])) for i in range(n)]


def _batch(payload: bytes) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": ["d"],
            "offset": [0],
            "kind": ["media"],
            "media_ref": ["m"],
            "text": [None],
            "payload": [payload],
        }
    )


def _rows(out: pd.DataFrame) -> list[tuple[int, str, str]]:
    return sorted(
        (seq, kind, text)
        for seq, kind, text in zip(out["seq"], out["kind"], out["text"])
        if kind in ("cue", "_error")
    )


def _oracle_rows(payload: bytes) -> list[tuple[int, str, str]]:
    """The kernel's cue and ``_error`` rows for ``payload``, derived from
    the pure-Python oracle: a payload that raises is one seq-0 error."""
    dropped: list = []
    try:
        cues = decode_media_payload(payload, errors=dropped)
    except Exception as exc:
        return [(0, "_error", f"{type(exc).__name__}: {exc}")]
    rows = [(seq, "cue", text) for seq, text in cues]
    rows += [(seq, "_error", f"{type(exc).__name__}: {exc}") for seq, exc in dropped]
    return sorted(rows)


def _check_contained(out: pd.DataFrame) -> None:
    """Either the payload decoded (one ``_metric`` row, no seq-0 error) or
    it failed as a whole: exactly one seq-0 ``DecodeError`` row."""
    kinds = out["kind"].tolist()
    failed = [t for s, k, t in zip(out["seq"], kinds, out["text"]) if k == "_error" and s == 0]
    if failed:
        assert len(out) == 1, out
        assert failed[0].startswith("DecodeError: "), failed[0]
    else:
        assert kinds.count("_metric") == 1, out


def test_mutated_payloads_are_contained_and_agree():
    payloads = _mutated_payloads(seed=5, n=N_PAYLOADS)
    worst_cpu = worst_peak = 0
    outcomes = set()
    for i, (variant, payload) in enumerate(payloads):
        batch = _batch(payload)
        t0 = time.process_time()
        (fused,) = make_fused_kernel()(iter([batch]))
        worst_cpu = max(worst_cpu, time.process_time() - t0)
        where = f"payload {i} (variant {variant})"
        try:
            _check_contained(fused)
        except AssertionError as exc:
            raise AssertionError(f"{where}: {exc}") from None
        assert _rows(fused) == _oracle_rows(payload), where
        for seq, kind, _text in _rows(fused):
            outcomes.add(kind if kind == "cue" else ("payload" if seq == 0 else "comp"))

        tracemalloc.start()
        try:
            (_out,) = make_fused_kernel()(iter([batch]))
            worst_peak = max(worst_peak, tracemalloc.get_traced_memory()[1])
        finally:
            tracemalloc.stop()
    assert worst_cpu < MAX_CPU_S
    assert worst_peak < MAX_PEAK_BYTES
    # not vacuous: the seed yields cues, whole-payload failures and
    # dropped single compositions
    assert outcomes == {"cue", "payload", "comp"}


# ----------------------------------------------------------- MKPG framing


@pytest.mark.parametrize(
    "cut",
    [6, 8 + 19, -1],
    ids=["truncated-header", "truncated-packet-header", "packet-past-the-end"],
)
def test_truncated_mkpg_framing_is_a_decode_error(cut):
    payload = pack_mkv_packets([(0, 1000, b"x" * 10)])
    assert unpack_mkv_packets(payload) == [(0, 1000, b"x" * 10)]
    with pytest.raises(DecodeError):
        unpack_mkv_packets(payload[:cut])


# ------------------------------------------------------------ media probe


def _probe(payload: bytes) -> dict:
    batch = pd.DataFrame({"media_ref": ["m"], "payload": [payload]})
    (out,) = probe_kernel(iter([batch]))
    (row,) = out.to_dict("records")
    return row


@pytest.mark.parametrize(
    "payload",
    [MKV_MAGIC, MKV_MAGIC + b"\x00\x00", MKV_MAGIC + b"\x00\x00\x00", EBML_MAGIC, b"PG"],
    ids=["mkpg-magic-only", "mkpg-half-count", "mkpg-7-bytes", "ebml-magic-only", "sup-magic-only"],
)
def test_probe_kernel_survives_truncated_headers(payload):
    """A container header too short to hold its count probes as zero
    units instead of raising out of the task."""
    row = _probe(payload)
    assert row["n_units"] == 0
    assert row["n_bytes"] == len(payload)


def test_probe_kernel_survives_mutated_payloads():
    for i, (variant, payload) in enumerate(_mutated_payloads(seed=5, n=N_PAYLOADS)):
        row = _probe(payload)
        assert row["n_bytes"] == len(payload), f"payload {i} (variant {variant})"
