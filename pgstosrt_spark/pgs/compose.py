"""Composition rasterization (SURVEY.md §2.4 D5).

GetRgba32 (/root/reference/src/PgsToSrt/BluRaySup/
BluRaySupParserExtensions.cs:12-34): single-object compositions decode
directly; multi-object compositions compute the union rectangle of (PCS
origin, ODS size) per object and blit each decoded object at origin -
union.origin.

Two output forms:
  * RGBA (default) — the reference canvas: uint8 (H, W, 4) with the +25 px
    pad on single-object decodes.  Used by Tesseract, by any OCR backend
    that does not ask for a mask, and by the duplicate merge's pixel
    compare (merge.py), which compares colours;
  * mask (``mask=True``) — the unpadded (H, W) bool mask of opaque pixels,
    equal to the RGBA canvas's ``alpha > 0`` minus the pad.  No LUT
    gather, no 4-channel canvas, no pad.  Backends that only read alpha
    (GlyphAtlasOcr) ask for it via ``wants_mask``.

The union canvas is bounded by ``rle.MAX_CANVAS_PIXELS`` like every decoded
object (DecodeError before allocating).

Reference quirk, replicated by default: the multi-object blit passes
opacity **0** to DrawImage (``b.DrawImage(singleBmp, point, 0)``, :30), an
ImageSharp no-op — so multi-object compositions rasterize to a fully
transparent canvas of the union size (and OCR to empty text).  Pass
``multi_object_opacity_fix=True`` for the intended alpha-over blit.
"""

from __future__ import annotations

import numpy as np

from .model import PcsData
from .rle import blank_canvas, decode_image, pad_image

__all__ = ["rasterize"]


def rasterize(
    pcs: PcsData, multi_object_opacity_fix: bool = False, mask: bool = False
) -> np.ndarray:
    """PcsData -> (H, W, 4) uint8 RGBA matching GetRgba32, or with
    ``mask=True`` its unpadded (H, W) bool opacity mask."""
    if pcs.pcs_objects is None or len(pcs.pcs_objects) == 0:
        return blank_canvas(mask=mask)
    if len(pcs.pcs_objects) == 1:
        return decode_image(
            pcs.pcs_objects[0],
            pcs.bitmap_objects[0] if pcs.bitmap_objects else [],
            pcs.palette_infos,
            mask=mask,
        )

    # union rect over (origin, ODS size) (:17-22); BitmapObjects is indexed
    # parallel to PcsObjects exactly as the reference does — if an object id
    # was missing at CompletePcs the lists misalign there too.
    x0 = y0 = None
    x1 = y1 = None
    for i, obj in enumerate(pcs.pcs_objects):
        frag = pcs.bitmap_objects[i][0]
        left, top = obj.x, obj.y
        right, bottom = obj.x + frag.width, obj.y + frag.height
        if x0 is None:
            x0, y0, x1, y1 = left, top, right, bottom
        else:
            x0, y0 = min(x0, left), min(y0, top)
            x1, y1 = max(x1, right), max(y1, bottom)
    canvas = blank_canvas(max(y1 - y0, 1), max(x1 - x0, 1), mask=mask)
    if not multi_object_opacity_fix:
        return canvas  # opacity-0 blit: nothing drawn (:30)

    # fixed mode: alpha-over blit of the *unpadded* decodes, then pad the
    # union canvas (the reference's no-op path gives no layout to follow)
    for i, obj in enumerate(pcs.pcs_objects):
        img = decode_image(
            obj, pcs.bitmap_objects[i], pcs.palette_infos, pad=False, mask=mask
        )
        ox, oy = obj.x - x0, obj.y - y0
        h = min(img.shape[0], canvas.shape[0] - oy)
        w = min(img.shape[1], canvas.shape[1] - ox)
        if h <= 0 or w <= 0:
            continue
        src = img[:h, :w]
        dst = canvas[oy : oy + h, ox : ox + w]
        if mask:
            dst |= src
        else:
            opaque = src[:, :, 3] > 0
            dst[opaque] = src[opaque]
    return canvas if mask else pad_image(canvas)
