"""``GlyphAtlasOcr``'s packed-column line recognizer against the
int64-column recognizer it replaced.

The reference below packs each band column into one int64 (bit r = row
r), so it is exact only for bands under 64 rows; there the new recognizer
must read the same text on rendered text, random masks and RGBA input.
Taller bands are pinned separately: the reference dropped the ink of rows
>= 64.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from pgstosrt_spark.fixtures import encoder as enc
from pgstosrt_spark.pgs import ocr
from pgstosrt_spark.pgs.glyphs import atlas, packed_atlas
from pgstosrt_spark.pgs.ocr import GlyphAtlasOcr

CHARS = sorted(atlas())


def reference_line(band: np.ndarray) -> str:
    """The line recognizer before the packed-column rewrite."""
    h = band.shape[0]
    colvals = (band.astype(np.int64) << np.arange(h, dtype=np.int64)[:, None]).sum(axis=0)
    cols = np.flatnonzero(colvals)
    if cols.size == 0:
        return ""
    breaks = np.flatnonzero(np.diff(cols) > 1)
    starts = np.concatenate(([0], breaks + 1))
    ends = np.concatenate((breaks, [len(cols) - 1]))
    vals = colvals.tolist()
    glyphs = packed_atlas()
    out: list[str] = []
    prev_end_col: int | None = None
    for s, e in zip(starts.tolist(), ends.tolist()):
        c0, c1 = int(cols[s]), int(cols[e])
        if prev_end_col is not None and c0 - prev_end_col - 1 >= ocr._SPACE_GAP:
            out.append(" ")
        cell = vals[c0 : c1 + 1]
        orv = 0
        for v in cell:
            orv |= v
        r0 = (orv & -orv).bit_length() - 1
        out.append(glyphs.get(tuple(v >> r0 for v in cell), "?"))
        prev_end_col = c1
    return "".join(out)


def reference_recognize(img: np.ndarray) -> str:
    """``GlyphAtlasOcr.recognize`` with the reference line recognizer."""
    mask = img if img.ndim == 2 else img[:, :, 3] > 0
    if not mask.any():
        return ""
    rows = np.flatnonzero(mask.any(axis=1))
    breaks = np.flatnonzero(np.diff(rows) > 2)
    starts = np.concatenate(([0], breaks + 1))
    ends = np.concatenate((breaks, [len(rows) - 1]))
    lines = [reference_line(mask[rows[s] : rows[e] + 1]) for s, e in zip(starts, ends)]
    return "\n".join(lines).strip()


def _random_text(rng: random.Random) -> str:
    lines = []
    for _ in range(rng.randint(1, 3)):
        words = ["".join(rng.choices(CHARS, k=rng.randint(1, 8))) for _ in range(rng.randint(1, 5))]
        lines.append(" ".join(words))
    return "\n".join(lines)


def _glyph_mask(rng: random.Random, height: int) -> np.ndarray:
    """Glyphs at random heights and spacings inside one ``height``-row band,
    with now and then a stray ink pixel."""
    font = atlas()
    mask = np.zeros((height, 200), dtype=bool)
    x = rng.randint(0, 5)
    while x + 5 <= mask.shape[1]:
        y = rng.randint(0, height - 7)
        mask[y : y + 7, x : x + 5] |= font[rng.choice(CHARS)].astype(bool)
        if rng.random() < 0.1:
            mask[rng.randrange(height), rng.randrange(mask.shape[1])] = True
        x += rng.choice((5, 6, 6, 6, 7, 12, 14))
    return mask


def _random_mask(rng: random.Random) -> np.ndarray:
    height, width = rng.randint(1, 63), rng.randint(1, 90)
    return np.random.default_rng(rng.randrange(2**32)).random((height, width)) < rng.random() * 0.3


@pytest.mark.parametrize("seed", range(3))
def test_rendered_text_reads_as_before(seed):
    rng = random.Random(seed)
    backend = GlyphAtlasOcr()
    for _ in range(150):
        text = _random_text(rng)
        img = enc.render_text(text)
        assert backend.recognize(img > 0) == reference_recognize(img > 0) == text
        rgba = np.zeros(img.shape + (4,), dtype=np.uint8)
        rgba[img > 0] = (255, 255, 255, 255)
        assert backend.recognize(rgba) == reference_recognize(rgba) == text


@pytest.mark.parametrize("seed", range(3))
def test_random_bands_read_as_before(seed):
    rng = random.Random(10 + seed)
    for _ in range(400):
        band = _glyph_mask(rng, rng.randint(7, 63)) if rng.random() < 0.5 else _random_mask(rng)
        assert GlyphAtlasOcr._recognize_line(band) == reference_line(band)
        assert GlyphAtlasOcr().recognize(band) == reference_recognize(band)


def test_tall_band_keeps_ink_below_row_63():
    """Columns 0-2 and 5 are inked on every row, columns 3-4 only on rows
    64-69: one connected cell, so one unknown glyph.  The int64 packing
    lost rows >= 64, split the cell in two and read '??'."""
    band = np.zeros((70, 6), dtype=bool)
    band[:, [0, 1, 2, 5]] = True
    band[64:, 3:5] = True
    assert reference_line(band) == "??"
    assert GlyphAtlasOcr._recognize_line(band) == "?"
    assert GlyphAtlasOcr().recognize(band) == "?"


def test_tall_band_reads_glyphs_at_any_row():
    font = atlas()
    band = np.zeros((90, 13), dtype=bool)
    band[0, 0] = True  # ink on row 0 keeps the glyphs below row 63 in the band
    band[70:77, 8:13] = font["A"].astype(bool)
    assert GlyphAtlasOcr._recognize_line(band) == "? A"


def test_cell_memo_is_bounded():
    rng = random.Random(3)
    for _ in range(300):
        GlyphAtlasOcr._recognize_line(_random_mask(rng))
        assert len(ocr._CELL_CHARS) <= ocr._CELL_MEMO_MAX
        assert all(len(raw) <= ocr._CELL_KEY_MAX for _, raw in ocr._CELL_CHARS)
