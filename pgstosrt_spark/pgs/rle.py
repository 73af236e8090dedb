"""PGS RLE bitmap decode (SURVEY.md §2.4 D2-D4).

Replicates SupDecoder.DecodeImage (/root/reference/src/PgsToSrt/BluRaySup/
BluRaySupParserExtensions.cs:43-141):

  opcode grammar (c = first byte):
    c != 0                  -> 1 literal pixel of colour c
    0x00, 0x00              -> end of line (cursor snaps to next row start)
    0x00, b (b < 0x40)      -> run of colour 0, length b
    0x00, 0x40|hi, lo       -> run of colour 0, length ((b-64)<<8)+lo
    0x00, 0x80|len, c       -> run of colour c, length b-128
    0x00, 0xC0|hi, lo, c    -> run of colour c, length ((b-192)<<8)+lo

  * pixels whose palette alpha is 0 are **not written** — the canvas stays
    fully transparent RGBA(0,0,0,0) there (PutPixel :149-155);
  * end-of-line cursor math: p = p//width*width; if col < width: p += width
    (:72-77) — replicated exactly, including overfilled-row behaviour;
  * degenerate inputs (no data, w/h <= 0, empty buffer) -> 1x1 transparent
    (:48-53);
  * RGBA path only: palette LUT gather, and the decoded bitmap is blitted
    into a (w+50)x(h+50) canvas at (25,25) (:136-140) as an OCR-quality
    border.  The mask path (``decode_image(..., mask=True)``) returns the
    unpadded (h, w) bool "pixel written" mask instead — exactly the
    canvas's ``alpha > 0``, since alpha-0 writes are skipped.

Deliberate divergence: an object larger than ``MAX_CANVAS_PIXELS`` raises
DecodeError before anything is allocated.  The reference would try to
allocate it (a 65535x65535 ODS header asks for 16 GiB of RGBA) and fail
less gracefully.

Decode is one regex split into tokens, when the stream allows it (see
``decode_rle_runs``), else a per-run walk (never per-pixel); either way
pixel writes are vectorized, plus one LUT gather on the RGBA path.
"""

from __future__ import annotations

import re

import numpy as np

from .model import DecodeError, OdsData, PaletteInfo, PcsObject
from .palette import decode_palette

__all__ = [
    "MAX_CANVAS_PIXELS",
    "blank_canvas",
    "decode_rle_runs",
    "decode_image",
    "pad_image",
]

# pixel budget for one decoded canvas: the UHD video plane (3840x2160), the
# largest graphics plane a Blu-ray PGS stream can be composed onto
MAX_CANVAS_PIXELS = 3840 * 2160


def _check_canvas(width: int, height: int) -> None:
    """Raise DecodeError when a width x height canvas exceeds the budget."""
    if width * height > MAX_CANVAS_PIXELS:
        raise DecodeError(
            f"canvas {width}x{height} exceeds {MAX_CANVAS_PIXELS} pixels"
        )


# One escape token: 0x00 plus one to three bytes, how many is fixed by the
# second byte; 0x00 0x00 is the end of line.  The grammar is
# prefix-determined, so splitting on this pattern from byte 0 yields the
# walk's own tokens, with the literal stretches between them.  A 0x00 left
# unmatched (a truncated escape, a lone 0x00) can only sit in the trailing
# literal.
_TOKEN = re.compile(
    rb"(\x00(?:[\x00-\x3f]|[\x40-\xbf][\x00-\xff]|[\xc0-\xff][\x00-\xff]{2}))"
)
_EOL = b"\x00\x00"
_COLOURS = np.arange(256, dtype=np.int16)
_CLEAR = np.zeros((1, 4), dtype=np.uint8)


def _run(token: bytes) -> tuple[int, bytes]:
    """Escape token -> (pixel count, colour byte); EOL -> (0, ...)."""
    b = token[1]
    if b < 0x40:  # EOL (b == 0) or short run of colour 0
        return b, b"\x00"
    if b < 0x80:  # long run of colour 0
        return ((b - 0x40) << 8) + token[2], b"\x00"
    if b < 0xC0:  # short run of colour c
        return b - 0x80, token[2:3]
    return ((b - 0xC0) << 8) + token[2], token[3:4]  # long run of colour c


def decode_rle_runs(
    buf: bytes, width: int, height: int, alpha_lut: np.ndarray | None = None
) -> np.ndarray:
    """RLE opcodes -> flat (height*width,) int16 colour-index image.

    Index -1 marks never-written pixels.  When ``alpha_lut`` (256 uint8) is
    given, writes of colours with alpha==0 are skipped while the cursor
    still advances — exactly PutPixel (:149-155), so overlapping writes
    keep earlier opaque pixels.  Raises DecodeError where the reference
    would throw IndexOutOfRangeException (buffer overrun), and before
    allocating when the image exceeds ``MAX_CANVAS_PIXELS``.

    Physical shape: one regex split tokenizes the stream (``_TOKEN``),
    each distinct escape expands to its pixel bytes once, and the joined
    pixels go through one ``frombuffer`` and one alpha gather.  That is
    exact only when the pixels land back to back from pixel 0: every
    EOL-terminated row holds exactly ``width`` pixels (no snap-back, no
    skipped row), the trailing literal holds no 0x00 (no truncated escape,
    no lone 0x00) and the pixels fit the canvas.  Every other stream —
    under- or over-filled rows, truncation, overrun — goes to
    :func:`_decode_rle_walk`, which also raises the overrun error.
    """
    _check_canvas(width, height)
    if width > 0 and height > 0:
        img = _decode_rle_split(buf, width, height, alpha_lut)
        if img is not None:
            return img
    return _decode_rle_walk(buf, width, height, alpha_lut)


def _decode_rle_split(
    buf: bytes, width: int, height: int, alpha_lut: np.ndarray | None
) -> np.ndarray | None:
    """The fast path of :func:`decode_rle_runs`, or None when the stream
    needs the walk."""
    parts = _TOKEN.split(buf)  # literal, token, literal, ..., literal
    if 0 in parts[-1]:
        return None
    tokens = parts[1::2]
    total = width * height
    # every distinct token is in the stream, so when their runs alone pass
    # the canvas the stream overruns: it goes to the walk before a single
    # run is built.  Otherwise each distinct token is expanded once.
    token_runs = {token: _run(token) for token in set(tokens)}
    if sum(n for n, _ in token_runs.values()) > total:
        return None
    runs = {token: colour * n for token, (n, colour) in token_runs.items()}
    parts[1::2] = map(runs.__getitem__, tokens)
    # every EOL must end a row of exactly width pixels (token j is
    # parts[2j+1])
    n_eol = tokens.count(_EOL)
    start = j = 0
    for _ in range(n_eol):
        j = tokens.index(_EOL, j)
        if sum(map(len, parts[start : 2 * j + 1])) != width:
            return None
        start = 2 * j + 2
        j += 1
    if n_eol * width + sum(map(len, parts[start:])) > total:
        return None
    pixels = b"".join(parts)
    if alpha_lut is None:
        colours = _COLOURS
    else:
        colours = _COLOURS.copy()
        colours[~(alpha_lut > 0)] = -1
    img = np.full(total, -1, dtype=np.int16)
    img[: len(pixels)] = colours[np.frombuffer(pixels, dtype=np.uint8)]
    return img


def _decode_rle_walk(
    buf: bytes, width: int, height: int, alpha_lut: np.ndarray | None = None
) -> np.ndarray:
    """Stream-order walk of :func:`decode_rle_runs` for any stream.

    Every escape starts with a 0x00 byte, so the Python loop steps per
    ESCAPE (zero positions precomputed with numpy) and a maximal stretch of
    nonzero bytes between escapes — each byte one literal pixel of its own
    colour — is consumed as ONE slice-backed segment instead of per-byte
    iterations.  Pixel writes happen in a single vectorized scatter
    afterwards; the stream-order replay fallback handles the rare
    overlapping-cursor case (overfilled row + EOL snap-back).
    """
    total = width * height
    p = 0  # pixel cursor (num1)
    col = 0  # column counter (num2)
    i = 0  # byte cursor (num3)
    n = len(buf)
    arr = np.frombuffer(buf, dtype=np.uint8)
    zero_pos = np.flatnonzero(arr == 0).tolist()  # python ints: fast indexing
    nz = len(zero_pos)
    zi = 0  # index of the first zero position >= i
    # segments: runs ('r', pixel_start, length, colour) and literal
    # stretches ('l', pixel_start, byte_offset, length); watermark detects
    # any write that starts before an earlier write ended (overlap)
    segs: list[tuple] = []
    segs_append = segs.append
    alpha_ok = None if alpha_lut is None else (alpha_lut > 0).tolist()
    watermark = 0
    overlap = False

    while i < n:
        while zi < nz and zero_pos[zi] < i:
            zi += 1
        z = zero_pos[zi] if zi < nz else n
        if z > i:
            # literal stretch: buf[i:z] all nonzero (:129-133)
            run = z - i
            if p + run > total:
                raise DecodeError(
                    f"RLE overrun: cursor {p}+{run} > {total} ({width}x{height})"
                )
            segs_append(("l", p, i, run))
            if p < watermark:
                overlap = True
            p += run
            if p > watermark:
                watermark = p
            col += run
            i = z
            continue
        # escape (or trailing lone 0x00): c == 0 at i
        i += 1
        if i >= n:
            # lone 0x00 at end of buffer -> literal pixel of colour 0
            run, colour = 1, 0
            col += 1
        else:
            b = buf[i]
            i += 1
            if b == 0:
                # end of line (:72-77)
                p = p // width * width
                if col < width:
                    p += width
                col = 0
                continue
            elif (b & 0xC0) == 0x40:
                if i >= n:
                    continue
                run = ((b - 0x40) << 8) + buf[i]
                colour = 0
                i += 1
                col += run
            elif (b & 0xC0) == 0x80:
                if i >= n:
                    continue
                run = b - 0x80
                colour = buf[i]
                i += 1
                col += run
            elif (b & 0xC0) == 0xC0:
                if i + 1 >= n:
                    continue
                run = ((b - 0xC0) << 8) + buf[i]
                colour = buf[i + 1]
                i += 2
                col += run
            else:  # b < 0x40: short run of colour 0 (:121-127)
                run, colour = b, 0
                col += b
        if run <= 0:
            continue
        if p + run > total:
            raise DecodeError(
                f"RLE overrun: cursor {p}+{run} > {total} ({width}x{height})"
            )
        if alpha_ok is None or alpha_ok[colour]:
            segs_append(("r", p, run, colour))
            if p < watermark:
                overlap = True
        p += run
        if p > watermark:
            watermark = p

    img = np.full(total, -1, dtype=np.int16)
    if not segs:
        return img
    alpha_np = None if alpha_lut is None else (alpha_lut > 0)
    if not overlap:
        # ordered, non-overlapping (the normal case): one scatter per kind
        r_start = [s[1] for s in segs if s[0] == "r"]
        if r_start:
            r_len = np.asarray([s[2] for s in segs if s[0] == "r"], dtype=np.int64)
            r_col = np.asarray([s[3] for s in segs if s[0] == "r"], dtype=np.int16)
            s0 = np.asarray(r_start, dtype=np.int64)
            off = np.cumsum(r_len) - r_len
            pos = np.repeat(s0 - off, r_len) + np.arange(
                int(r_len.sum()), dtype=np.int64
            )
            img[pos] = np.repeat(r_col, r_len)
        l_segs = [s for s in segs if s[0] == "l"]
        if l_segs:
            p0 = np.asarray([s[1] for s in l_segs], dtype=np.int64)
            b0 = np.asarray([s[2] for s in l_segs], dtype=np.int64)
            ln = np.asarray([s[3] for s in l_segs], dtype=np.int64)
            off = np.cumsum(ln) - ln
            ar = np.arange(int(ln.sum()), dtype=np.int64)
            pos = np.repeat(p0 - off, ln) + ar
            bpos = np.repeat(b0 - off, ln) + ar
            vals = arr[bpos]
            if alpha_np is not None:
                keep = alpha_np[vals]
                pos, vals = pos[keep], vals[keep]
            img[pos] = vals.astype(np.int16)
    else:
        # overlapping writes: replay in stream order so later opaque runs
        # win, exactly like the reference
        for seg in segs:
            if seg[0] == "r":
                _, st, ln, c0 = seg
                img[st : st + ln] = c0
            else:
                _, st, b0, ln = seg
                vals = arr[b0 : b0 + ln]
                if alpha_np is not None:
                    keep = alpha_np[vals]
                    idx = st + np.flatnonzero(keep)
                    img[idx] = vals[keep].astype(np.int16)
                else:
                    img[st : st + ln] = vals.astype(np.int16)
    return img


def pad_image(rgba: np.ndarray, border: int = 25) -> np.ndarray:
    """Transparent border pad (BluRaySupParserExtensions.cs:136-140)."""
    return np.pad(rgba, ((border, border), (border, border), (0, 0)))


def decode_image(
    pcs_obj: PcsObject | None,
    fragments: list[OdsData],
    palettes: list[PaletteInfo],
    pad: bool = True,
    mask: bool = False,
) -> np.ndarray:
    """One composition object -> (h+50, w+50, 4) uint8 RGBA (unpadded
    (h, w, 4) with ``pad=False``), or with ``mask=True`` the unpadded (h, w)
    bool mask of opaque pixels.

    DecodeImage (BluRaySupParserExtensions.cs:43-141); fragments must be
    pre-reassembled (fragment[0] holds the full buffer).
    """
    if pcs_obj is None or not fragments:
        return blank_canvas(mask=mask)
    width, height = fragments[0].width, fragments[0].height
    if width <= 0 or height <= 0 or len(fragments[0].data) == 0:
        return blank_canvas(mask=mask)

    lut = decode_palette(palettes)
    idx = decode_rle_runs(fragments[0].data, width, height, alpha_lut=lut[:, 3])
    if mask:
        return (idx >= 0).reshape(height, width)

    # one gather: index -1 (never written) reads the appended transparent row
    rgba = np.concatenate((lut, _CLEAR))[idx].reshape(height, width, 4)
    return pad_image(rgba) if pad else rgba


def blank_canvas(height: int = 1, width: int = 1, mask: bool = False) -> np.ndarray:
    """Fully transparent (height, width, 4) RGBA canvas, or its (height,
    width) bool mask."""
    _check_canvas(width, height)
    if mask:
        return np.zeros((height, width), dtype=bool)
    return np.zeros((height, width, 4), dtype=np.uint8)
