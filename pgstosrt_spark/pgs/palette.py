"""Palette decode: PDS buffers -> 256x4 RGBA LUT (SURVEY.md §2.4 D1).

Replicates DecodePalette (/root/reference/src/PgsToSrt/BluRaySup/
BluRaySupParserImageSharp.cs:622-662) over the libse ``BluRaySupPalette``
semantics (public Subtitle Edit source, LGPL; pinned 4.0.5 in
/root/reference/src/PgsToSrt/PgsToSrt.csproj:22):

  * default palette: all 256 entries fully transparent black
    (a=0, r=g=b=0; YCbCr 16/128/128);
  * only the **last** PaletteInfo of the list is decoded (:627);
  * per entry (id, Y, Cr, Cb, A): the new alpha is applied iff
    >= the currently stored alpha; alpha < 14 snaps the colour to
    transparent black (Y=16, Cr=Cb=128) before conversion (:641-654);
  * YCbCr -> RGB uses libse's BT.709 PC-range constants with
    round-half-even and clamp to [0, 255]:
        y1 = (y-16) * 1.164383562
        r  = y1 + (cr-128) * 1.792741071
        g  = y1 - (cr-128) * 0.5329093286 - (cb-128) * 0.2132486143
        b  = y1 + (cb-128) * 2.112401786
  * SetYCbCr runs unconditionally — colour updates even when the alpha
    write is rejected (:656).

Memoization: the LUT is a pure function of the last PaletteInfo's
``(size, buffer)`` (``buffer`` is immutable ``bytes``), so decoded LUTs are
kept in a small LRU keyed on that pair and returned read-only.  Real
streams re-send one palette across many compositions, so the cache nearly
always hits; a lookup costs one hash of the buffer (1,280 bytes for a
full 256-entry PDS).
"""

from __future__ import annotations

import functools

import numpy as np

from .model import PaletteInfo

__all__ = ["decode_palette", "ycbcr_to_rgb"]

# libse YCbCr2Rgb BT.709 ("PC" full-range) coefficients; useBT601=false is
# the BluRaySupPalette default.
_Y_COEF = 1.164383562
_R_CR = 1.792741071
_G_CR = 0.5329093286
_G_CB = 0.2132486143
_B_CB = 2.112401786

# distinct palette buffers kept decoded (per worker process)
_LUT_CACHE_SIZE = 64


def ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """Vectorized libse YCbCr2Rgb (BT.709) -> uint8 array (..., 3)."""
    y1 = (y.astype(np.float64) - 16.0) * _Y_COEF
    cbf = cb.astype(np.float64) - 128.0
    crf = cr.astype(np.float64) - 128.0
    r = y1 + crf * _R_CR
    g = y1 - crf * _G_CR - cbf * _G_CB
    b = y1 + cbf * _B_CB
    rgb = np.stack([r, g, b], axis=-1)
    # C# Math.Round = round-half-even = np.rint; then clamp.
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def decode_palette(palette_infos: list[PaletteInfo]) -> np.ndarray:
    """-> (256, 4) uint8 RGBA LUT, read-only and shared between calls with
    the same last palette buffer (copy it before writing)."""
    if not palette_infos:
        return _palette_lut(0, b"")
    info = palette_infos[-1]
    return _palette_lut(info.size, info.buffer)


@functools.lru_cache(maxsize=_LUT_CACHE_SIZE)
def _palette_lut(size: int, buffer: bytes) -> np.ndarray:
    """Decode one palette buffer (size 0: the all-transparent default).

    The per-entry loop is sequential because duplicate entry ids within one
    buffer interact through the stored alpha (<=256 iterations; the heavy
    work — YCbCr conversion — is vectorized over all touched entries).
    """
    lut = np.zeros((256, 4), dtype=np.uint8)  # transparent black default
    if size:
        ycbcr = np.zeros((256, 3), dtype=np.uint8)
        ycbcr[:, 0] = 16
        ycbcr[:, 1] = 128  # cb
        ycbcr[:, 2] = 128  # cr
        buf = np.frombuffer(buffer, dtype=np.uint8, count=size * 5).reshape(size, 5)
        alpha = lut[:, 3].astype(np.int64)  # working alpha store
        for idx, yn, crn, cbn, an in buf.tolist():
            if an >= alpha[idx]:
                if an < 14:
                    yn, crn, cbn = 16, 128, 128
                alpha[idx] = an
            # SetYCbCr always runs (:656)
            ycbcr[idx] = (yn, cbn, crn)
        lut[:, :3] = ycbcr_to_rgb(ycbcr[:, 0], ycbcr[:, 1], ycbcr[:, 2])
        lut[:, 3] = alpha.astype(np.uint8)
    lut.flags.writeable = False
    return lut
