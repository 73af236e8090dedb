"""End-to-end decode: media payload bytes -> ordered cue list (the oracle).

This is the pure-Python composition of the whole reference pipeline
(SURVEY.md §3): segment walk -> display-set assembly -> duplicate merge ->
rasterize -> OCR -> ordered cues.  The Spark kernel (kernels.py) calls
exactly this code, :func:`decode_media_payload` once per media payload;
tests compare Spark output against it.

Media payload framing (fixture encoder, FIXTURES.md §1):
  * ``PG...``       — a standalone .sup byte stream (13-byte headers);
  * ``\\x1aE\\xdf\\xa3`` — a real Matroska container: the minimal EBML demux
                  (pgs/ebml.py, SURVEY.md §2.1 S2) selects the first PGS
                  track and extracts per-packet payloads + container
                  timestamps, feeding the same packet assembler;
  * ``MKPG``        — the deterministic packet container: magic + u32
                  count + per packet (u64 start_ms, u64 end_ms, u32 len,
                  bytes), big-endian.  Same packet semantics as the EBML
                  path (3-byte headers, container timing, cross-packet
                  carry) without the container framing.
"""

from __future__ import annotations

import struct

from .assemble import assemble_mkv_packets, assemble_sup
from .ebml import EBML_MAGIC, mkv_pgs_packets
from .compose import rasterize
from .merge import apply_duplicate_merge
from .model import Cue, DecodeError, PcsData
from .ocr import OcrBackend, default_backend, wants_mask
from .srt import cue_text

__all__ = [
    "MKV_MAGIC",
    "decode_media_payload",
    "decode_to_display_sets",
    "display_sets_to_cues",
    "pack_mkv_packets",
    "unpack_mkv_packets",
]

MKV_MAGIC = b"MKPG"


def pack_mkv_packets(packets: list[tuple[int, int, bytes]]) -> bytes:
    out = [MKV_MAGIC, struct.pack(">I", len(packets))]
    for start_ms, end_ms, data in packets:
        out.append(struct.pack(">QQI", start_ms, end_ms, len(data)))
        out.append(data)
    return b"".join(out)


def unpack_mkv_packets(payload: bytes) -> list[tuple[int, int, bytes]]:
    """MKPG framing -> [(start_ms, end_ms, packet)]; a header or packet
    that runs past the end of the payload is a ``DecodeError``."""
    if payload[:4] != MKV_MAGIC:
        raise DecodeError("not an MKPG payload")
    if len(payload) < 8:
        raise DecodeError("truncated MKPG header")
    (count,) = struct.unpack_from(">I", payload, 4)
    pos = 8
    packets = []
    for i in range(count):
        if pos + 20 > len(payload):
            raise DecodeError(f"truncated MKPG packet header {i} at byte {pos}")
        start_ms, end_ms, n = struct.unpack_from(">QQI", payload, pos)
        pos += 20
        if pos + n > len(payload):
            raise DecodeError(f"MKPG packet {i} of {n} bytes runs past the end")
        packets.append((start_ms, end_ms, payload[pos : pos + n]))
        pos += n
    return packets


def decode_to_display_sets(
    payload: bytes,
    skip_merge: bool = False,
    force_merge_all: bool = False,
) -> list[PcsData]:
    """Payload bytes -> merged display sets, dispatching on framing."""
    if payload[:4] == MKV_MAGIC:
        sets = assemble_mkv_packets(unpack_mkv_packets(payload))
    elif payload[:4] == EBML_MAGIC:
        sets = assemble_mkv_packets(mkv_pgs_packets(payload))
    else:
        sets = assemble_sup(payload)
    return apply_duplicate_merge(sets, skip_merge, force_merge_all)


def display_sets_to_cues(
    sets: list[PcsData],
    backend: OcrBackend | None = None,
    multi_object_opacity_fix: bool = False,
    errors: list[tuple[int, Exception]] | None = None,
) -> list[Cue]:
    """Rasterize + OCR each display set, in order (PgsOcr.cs:80-110).

    The reference drops items whose decode/OCR throws anything
    (PgsOcr.cs:103-106, a per-item catch); we do the same on the output
    sequence (the dropped ``seq`` is absent), and append ``(seq, exc)`` to
    ``errors`` when it is given, so the kernel can emit an ``_error`` row
    per dropped composition.  A backend with ``wants_mask`` gets the
    unpadded opacity mask instead of the RGBA canvas (compose.py).
    """
    backend = backend or default_backend()
    mask = wants_mask(backend)
    cues: list[Cue] = []
    for i, pcs in enumerate(sets):
        try:
            img = rasterize(
                pcs, multi_object_opacity_fix=multi_object_opacity_fix, mask=mask
            )
            text = backend.recognize(img)
        except Exception as exc:
            if errors is not None:
                errors.append((i + 1, exc))
            continue  # reference: log + drop (PgsOcr.cs:103-106)
        cues.append(Cue(seq=i + 1, start=pcs.start, end=pcs.end, text=text))
    return cues


def decode_media_payload(
    payload: bytes,
    backend: OcrBackend | None = None,
    skip_merge: bool = False,
    force_merge_all: bool = False,
    multi_object_opacity_fix: bool = False,
    errors: list[tuple[int, Exception]] | None = None,
) -> list[tuple[int, str]]:
    """Payload -> [(seq, cue_text)] where cue_text embeds the timecodes.

    This is the per-media-span contract of the engine: each media span is
    replaced by one 'cue' span per merged composition (FIXTURES.md §2).
    Dropped compositions go to ``errors`` (see display_sets_to_cues).
    The kernel calls this once per payload.
    """
    sets = decode_to_display_sets(payload, skip_merge, force_merge_all)
    cues = display_sets_to_cues(sets, backend, multi_object_opacity_fix, errors)
    return [(c.seq, cue_text(c.start, c.end, c.text)) for c in cues]
