"""Deterministic PGS encoder (the inverse pipeline, pure Python).

Produces byte streams that the reference parser would decode to known
compositions: glyph-atlas text bitmaps (pgs/glyphs.py), palette quantize,
PGS RLE encode exercising all five opcodes of the decoder
(/root/reference/src/PgsToSrt/BluRaySup/BluRaySupParserExtensions.cs:66-134),
and segment emission matching the layouts read by
BluRaySupParserImageSharp.cs (§2.2).  Everything is seeded/deterministic.
"""

from __future__ import annotations

import struct

import numpy as np

from ..pgs.glyphs import ADVANCE, GLYPH_H, SPACE_ADVANCE, atlas
from ..pgs.model import SEG_END, SEG_ODS, SEG_PCS, SEG_PDS, SEG_WDS

__all__ = [
    "render_text",
    "make_palette_pds",
    "rle_encode",
    "build_display_set",
    "build_clear_set",
    "build_sup",
    "build_sup_from_cues",
    "set_first_ods_size",
    "CHARSET",
]

LINE_GAP = 3  # blank rows between text lines (>=1 splits lines in OCR)
MARGIN = 4  # transparent margin inside the object bitmap
CHARSET = set(atlas().keys()) | {" ", "\n"}

# ---------------------------------------------------------------- bitmaps


def render_text(text: str) -> np.ndarray:
    """Text -> (h, w) uint8 colour-index bitmap (0 = background, 1 = ink).

    Layout: 5x7 glyphs, 1 blank column between glyphs, a space advances an
    extra glyph width (>= 4 blank columns, the OCR space threshold),
    LINE_GAP blank rows between lines, MARGIN transparent border.
    Characters outside the atlas are rendered as '?'.
    """
    font = atlas()
    lines = text.upper().split("\n")
    widths = []
    for line in lines:
        w = 0
        for ch in line:
            w += SPACE_ADVANCE + ADVANCE if ch == " " else ADVANCE
        widths.append(max(w - 1, 1))  # drop trailing gap
    height = len(lines) * GLYPH_H + (len(lines) - 1) * LINE_GAP
    img = np.zeros((height + 2 * MARGIN, max(widths) + 2 * MARGIN), dtype=np.uint8)
    y = MARGIN
    for line in lines:
        x = MARGIN
        for ch in line:
            if ch == " ":
                x += SPACE_ADVANCE + ADVANCE
                continue
            glyph = font.get(ch, font["?"])
            img[y : y + GLYPH_H, x : x + glyph.shape[1]] = glyph
            x += ADVANCE
        y += GLYPH_H + LINE_GAP
    return img


# ---------------------------------------------------------------- palette

# Standard 2-colour palette: entry 0 transparent black, entry 1 opaque white
# (Y=235 full-range white; Cr=Cb=128).
STD_PALETTE_ENTRIES: list[tuple[int, int, int, int, int]] = [
    (0, 16, 128, 128, 0),  # (id, Y, Cr, Cb, A)
    (1, 235, 128, 128, 255),
]


def make_palette_pds(
    entries: list[tuple[int, int, int, int, int]] | None = None,
    palette_id: int = 0,
    version: int = 0,
) -> bytes:
    """PDS payload: id(1) version(1) + 5-byte entries (ParsePds layout,
    BluRaySupParserImageSharp.cs:191-215; entry reads :630-640)."""
    entries = STD_PALETTE_ENTRIES if entries is None else entries
    out = bytearray([palette_id, version])
    for eid, y, cr, cb, a in entries:
        out.extend([eid, y, cr, cb, a])
    return bytes(out)


# ---------------------------------------------------------------- RLE

_MAX_LONG_RUN = 0x3FFF


def rle_encode(img: np.ndarray, force_long: bool = False) -> bytes:
    """Index bitmap -> PGS RLE bytes (all five opcode forms).

    Per row: runs of colour 0 -> short (0x00, L<0x40) or long
    (0x00, 0x40|hi, lo); runs of colour c>0 -> literals (L<=2), short
    (0x00, 0x80|L, c) or long (0x00, 0xC0|hi, lo, c); each row ends with
    the EOL escape 0x00 0x00.  ``force_long`` uses the long forms even for
    short runs (opcode-coverage fixtures).
    """
    out = bytearray()
    for row in img:
        # run-length encode the row
        n = row.shape[0]
        edges = np.flatnonzero(np.diff(row)) + 1
        starts = np.concatenate(([0], edges))
        ends = np.concatenate((edges, [n]))
        for s, e in zip(starts, ends):
            colour = int(row[s])
            length = int(e - s)
            while length > 0:
                chunk = min(length, _MAX_LONG_RUN)
                if colour == 0:
                    if chunk < 0x40 and not force_long:
                        out.extend([0x00, chunk])
                    else:
                        out.extend([0x00, 0x40 | (chunk >> 8), chunk & 0xFF])
                else:
                    if chunk <= 2 and not force_long:
                        out.extend([colour] * chunk)
                    elif chunk < 0x40 and not force_long:
                        out.extend([0x00, 0x80 | chunk, colour])
                    else:
                        out.extend([0x00, 0xC0 | (chunk >> 8), chunk & 0xFF, colour])
                length -= chunk
        out.extend([0x00, 0x00])  # EOL
    return bytes(out)


# ---------------------------------------------------------------- segments


def sup_segment(seg_type: int, pts: int, payload: bytes) -> bytes:
    """13-byte SUP header ("PG", BE32 PTS, BE32 DTS=0, type, BE16 size) +
    payload (ParseSegmentHeader reads, BluRaySupParserImageSharp.cs:87-98)."""
    return b"PG" + struct.pack(">IIBH", pts, 0, seg_type, len(payload)) + payload


def mkv_segment(seg_type: int, payload: bytes) -> bytes:
    """3-byte Matroska header (type, BE16 size) + payload (:100-107)."""
    return struct.pack(">BH", seg_type, len(payload)) + payload


def pcs_payload(
    width: int,
    height: int,
    comp_num: int,
    state: int = 0x00,
    palette_update: bool = False,
    palette_id: int = 0,
    objects: list[tuple[int, int, bool, int, int]] = (),
    fps_type: int = 0x10,
) -> bytes:
    """PCS payload matching ParsePicture/ParsePcs reads (:109-162).

    ``objects`` = [(object_id, window_id, forced, x, y)].
    """
    out = bytearray(struct.pack(">HHBHBBB", width, height, fps_type, comp_num, state, 0x80 if palette_update else 0x00, palette_id))
    out.append(len(objects))
    for obj_id, win_id, forced, x, y in objects:
        out.extend(struct.pack(">HBBHH", obj_id, win_id, 0x40 if forced else 0x00, x, y))
    return bytes(out)


def wds_payload(windows: list[tuple[int, int, int, int, int]]) -> bytes:
    """WDS payload (log-only in the reference, :344-363)."""
    out = bytearray([len(windows)])
    for wid, x, y, w, h in windows:
        out.extend(struct.pack(">BHHHH", wid, x, y, w, h))
    return bytes(out)


def ods_payloads(
    object_id: int,
    width: int,
    height: int,
    rle: bytes,
    version: int = 0,
    fragment_sizes: list[int] | None = None,
) -> list[bytes]:
    """One or more ODS payloads (ParseOds layout, :217-257).

    First fragment: objid(2) ver(1) flags(1) datalen(3) width(2) height(2)
    + data from offset 11; continuations: objid(2) ver(1) flags(1) + data
    from offset 4.  ``fragment_sizes`` splits the RLE buffer (first entry =
    bytes in the first fragment) to exercise reassembly (A3).
    """
    total = len(rle) + 4  # PGS data-length field counts w/h too
    if not fragment_sizes:
        fragment_sizes = [len(rle)]
    assert sum(fragment_sizes) == len(rle)
    out = []
    pos = 0
    for i, size in enumerate(fragment_sizes):
        first = i == 0
        last = i == len(fragment_sizes) - 1
        flags = (0x80 if first else 0x00) | (0x40 if last else 0x00)
        chunk = rle[pos : pos + size]
        pos += size
        if first:
            head = struct.pack(">HBB", object_id, version, flags)
            head += struct.pack(">I", total)[1:]  # 3-byte data length
            head += struct.pack(">HH", width, height)
            out.append(head + chunk)
        else:
            out.append(struct.pack(">HBB", object_id, version, flags) + chunk)
    return out


# ------------------------------------------------------------ display sets


def build_display_set(
    text: str,
    pts: int,
    comp_num: int,
    canvas: tuple[int, int] = (1920, 1080),
    origin: tuple[int, int] = (100, 900),
    state: int = 0x80,
    palette_entries: list[tuple[int, int, int, int, int]] | None = None,
    object_id: int = 0,
    fragment_count: int = 1,
    force_long_rle: bool = False,
    mkv: bool = False,
    extra_objects: list[tuple[str, tuple[int, int], int]] = (),
) -> bytes:
    """One full display set: PCS, WDS, PDS, ODS(xN), END.

    ``extra_objects`` = [(text, origin, object_id)] for multi-object
    compositions (D5).
    """
    seg = mkv_segment if mkv else (lambda t, p: sup_segment(t, pts, p))
    img = render_text(text)
    h, w = img.shape
    objs = [(object_id, 0, False, origin[0], origin[1])]
    renders = [(img, object_id)]
    for etext, eorigin, eid in extra_objects:
        eimg = render_text(etext)
        objs.append((eid, 0, False, eorigin[0], eorigin[1]))
        renders.append((eimg, eid))

    out = bytearray()
    out += seg(SEG_PCS, pcs_payload(canvas[0], canvas[1], comp_num, state=state, objects=objs))
    out += seg(SEG_WDS, wds_payload([(0, origin[0], origin[1], w, h)]))
    out += seg(SEG_PDS, make_palette_pds(palette_entries))
    for rimg, rid in renders:
        rle = rle_encode(rimg, force_long=force_long_rle)
        sizes = None
        if fragment_count > 1:
            base = len(rle) // fragment_count
            sizes = [base] * (fragment_count - 1) + [len(rle) - base * (fragment_count - 1)]
        for payload in ods_payloads(rid, rimg.shape[1], rimg.shape[0], rle, fragment_sizes=sizes):
            out += seg(SEG_ODS, payload)
    out += seg(SEG_END, b"")
    return bytes(out)


def build_clear_set(pts: int, comp_num: int, canvas: tuple[int, int] = (1920, 1080), mkv: bool = False) -> bytes:
    """Zero-object composition (clears the screen; dropped by :398 after
    donating its start time to the previous set's end via backfill)."""
    seg = mkv_segment if mkv else (lambda t, p: sup_segment(t, pts, p))
    out = bytearray()
    out += seg(SEG_PCS, pcs_payload(canvas[0], canvas[1], comp_num, state=0x00, objects=[]))
    out += seg(SEG_END, b"")
    return bytes(out)


def build_sup_from_cues(
    cues: list[tuple[str, int, int]],
    canvas: tuple[int, int] = (1920, 1080),
    epoch_each: bool = True,
    **ds_kwargs,
) -> bytes:
    """[(text, start_pts, end_pts)] -> a .sup stream with clear sets at each
    cue end, so end-time backfill reproduces the requested ends.

    ``epoch_each`` starts a new epoch per display set (the common Blu-ray
    pattern), clearing palette/object stores so each composition carries
    exactly one PaletteInfo — the QualifiesForMerge palette-count input.
    """
    out = bytearray()
    comp = 0
    for i, (text, start, end) in enumerate(cues):
        state = 0x80 if (epoch_each or i == 0) else 0x00
        out += build_display_set(text, start, comp, canvas=canvas, state=state, **ds_kwargs)
        comp += 1
        out += build_clear_set(end, comp, canvas=canvas)
        comp += 1
    return bytes(out)


def build_sup(segments: list[bytes]) -> bytes:
    """Concatenate pre-built display sets / raw segment bytes."""
    return b"".join(segments)


def set_first_ods_size(stream: bytes, width: int, height: int) -> bytes:
    """Rewrite the width/height of the first ODS in a .sup stream (segment
    payload offsets 7 and 9) — a hostile-input fixture: the RLE data stays,
    only the declared canvas changes (e.g. 65535x65535)."""
    out = bytearray(stream)
    pos = 0
    while pos + 13 <= len(out):
        (size,) = struct.unpack_from(">H", out, pos + 11)
        if out[pos + 10] == SEG_ODS:
            struct.pack_into(">HH", out, pos + 13 + 7, width, height)
            return bytes(out)
        pos += 13 + size
    raise ValueError("no ODS segment")


# ---------------------------------------------------------------- EBML (MKV)
# Inverse of pgs/ebml.py — a minimal Matroska writer so the demux is
# round-trip-tested without external media.  Known sizes everywhere; one
# Cluster per packet (relative block timestamp stays 0, so s16 never
# overflows for long streams).


def _ebml_size(n: int) -> bytes:
    """Minimal-width EBML size vint."""
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:  # all-ones is 'unknown' — avoid
            return (n | (1 << (7 * length))).to_bytes(length, "big")
    raise ValueError("EBML size too large")


def _ebml_uint(v: int) -> bytes:
    return v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")


def _ebml_el(el_id: int, payload: bytes) -> bytes:
    return el_id.to_bytes((el_id.bit_length() + 7) // 8, "big") + _ebml_size(
        len(payload)
    ) + payload


def _ebml_el_unknown(el_id: int, payload: bytes) -> bytes:
    """Element with the UNKNOWN size vint (0xFF) — live-mux Cluster style;
    the demux must terminate it at the next sibling Cluster header."""
    return el_id.to_bytes((el_id.bit_length() + 7) // 8, "big") + b"\xff" + payload


def _ebml_svint(d: int) -> bytes:
    """Signed vint (EBML lace delta): minimal length l, bias 2^(7l-1)-1."""
    for length in range(1, 9):
        bias = (1 << (7 * length - 1)) - 1
        if -bias <= d <= bias:
            return ((d + bias) | (1 << (7 * length))).to_bytes(length, "big")
    raise ValueError("svint out of range")


def _lace_block_payload(track_num: int, frames: list[bytes], mode: str) -> bytes:
    """SimpleBlock payload with ``mode`` lacing over ``frames`` (the
    inverse of ebml._lace_sizes; frames share the block timestamp)."""
    flag_bits = {"xiph": 0x1, "fixed": 0x2, "ebml": 0x3}[mode]
    out = bytearray(_ebml_size(track_num) + (0).to_bytes(2, "big"))
    out.append(flag_bits << 1)
    out.append(len(frames) - 1)
    if mode == "xiph":
        for f in frames[:-1]:
            n = len(f)
            out.extend(b"\xff" * (n // 255) + bytes([n % 255]))
    elif mode == "fixed":
        assert len({len(f) for f in frames}) == 1, "fixed lacing needs equal frames"
    else:  # ebml
        if len(frames) > 1:
            out += _ebml_size(len(frames[0]))
            for prev, cur in zip(frames, frames[1:-1]):
                out += _ebml_svint(len(cur) - len(prev))
    for f in frames:
        out += f
    return bytes(out)


def build_mkv(
    tracks: list[tuple[int, str, str, bool]],
    packets_by_track: dict[int, list[tuple[int, int, bytes]]],
    lace: str | None = None,
    unknown_size_clusters: bool = False,
) -> bytes:
    """tracks = [(number, codec_id, language, forced)];
    packets_by_track[number] = [(start_ms, end_ms, segment_bytes)].

    Packets with end > start become BlockGroup + BlockDuration; end ==
    start becomes a SimpleBlock (no duration) — matching how the demux
    reports them back.  Packets across tracks are interleaved by start
    time (cluster order), like a real muxer.

    ``lace`` ('xiph' | 'fixed' | 'ebml') groups consecutive duration-less
    packets sharing (start, track) into one laced SimpleBlock — the demux
    must emit the identical packet list as the un-laced twin.
    ``unknown_size_clusters`` writes every Cluster with the 0xFF unknown
    size (live-mux layout): the demux must resync at each next Cluster.
    """
    entries = b"".join(
        _ebml_el(
            0xAE,
            _ebml_el(0xD7, _ebml_uint(num))
            + _ebml_el(0x86, codec.encode("ascii"))
            + _ebml_el(0x22B59C, lang.encode("ascii"))
            + _ebml_el(0x55AA, _ebml_uint(1 if forced else 0)),
        )
        for num, codec, lang, forced in tracks
    )
    info = _ebml_el(0x1549A966, _ebml_el(0x2AD7B1, _ebml_uint(1_000_000)))
    # stable sort on start time ONLY: packets sharing a timestamp (e.g. one
    # display set split across lace frames) must keep their stream order,
    # which full-tuple sorting would scramble by comparing payload bytes
    all_pkts = sorted(
        (
            (start, end, num, data)
            for num, pkts in packets_by_track.items()
            for start, end, data in pkts
        ),
        key=lambda p: p[0],
    )
    cluster_el = _ebml_el_unknown if unknown_size_clusters else _ebml_el
    clusters = bytearray()
    i = 0
    while i < len(all_pkts):
        start, end, num, data = all_pkts[i]
        if lace and end == start:
            frames = [data]
            while (
                i + 1 < len(all_pkts)
                and all_pkts[i + 1][:3] == (start, end, num)
                and (lace != "fixed" or len(all_pkts[i + 1][3]) == len(data))
            ):
                i += 1
                frames.append(all_pkts[i][3])
            body = _ebml_el(0xA3, _lace_block_payload(num, frames, lace))
        else:
            block_payload = _ebml_size(num) + (0).to_bytes(2, "big") + b"\x00" + data
            if end > start:
                body = _ebml_el(
                    0xA0,
                    _ebml_el(0xA1, block_payload)
                    + _ebml_el(0x9B, _ebml_uint(end - start)),
                )
            else:
                body = _ebml_el(0xA3, block_payload)
        clusters += cluster_el(
            0x1F43B675, _ebml_el(0xE7, _ebml_uint(start)) + body
        )
        i += 1
    segment = _ebml_el(
        0x18538067, info + _ebml_el(0x1654AE6B, entries) + bytes(clusters)
    )
    header = _ebml_el(0x1A45DFA3, _ebml_el(0x4282, b"matroska"))
    return header + segment
