"""Deterministic 5x7 glyph atlas.

Shared by the fixture encoder (text -> bitmap) and the deterministic OCR
backend (bitmap -> text), making the round trip byte-exact — the test-time
stand-in for the reference's Tesseract engine (SURVEY.md §5.2).  Glyph
bitmaps are a classic 5x7 dot-matrix font; every glyph's *cropped* pixel
pattern is unique (asserted by tests), so recognition is registration-free.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

__all__ = [
    "FONT",
    "GLYPH_W",
    "GLYPH_H",
    "ADVANCE",
    "SPACE_ADVANCE",
    "atlas",
    "packed_atlas",
]

GLYPH_W = 5
GLYPH_H = 7
ADVANCE = GLYPH_W + 1  # 1 transparent column between glyph boxes
# A space adds this many extra columns.  Narrow glyphs ('.', '!') leave up
# to 5 blank columns between *contents* without a space; with a space the
# content gap is always >= 9, so the OCR threshold of 7 separates them
# with margin 2 on both sides.
SPACE_ADVANCE = GLYPH_W + 3

# fmt: off
FONT: dict[str, tuple[str, ...]] = {
    "A": (".###.", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"),
    "B": ("####.", "#...#", "#...#", "####.", "#...#", "#...#", "####."),
    "C": (".###.", "#...#", "#....", "#....", "#....", "#...#", ".###."),
    "D": ("####.", "#...#", "#...#", "#...#", "#...#", "#...#", "####."),
    "E": ("#####", "#....", "#....", "####.", "#....", "#....", "#####"),
    "F": ("#####", "#....", "#....", "####.", "#....", "#....", "#...."),
    "G": (".###.", "#...#", "#....", "#.###", "#...#", "#...#", ".###."),
    "H": ("#...#", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"),
    "I": ("#####", "..#..", "..#..", "..#..", "..#..", "..#..", "#####"),
    "J": ("..###", "...#.", "...#.", "...#.", "...#.", "#..#.", ".##.."),
    "K": ("#...#", "#..#.", "#.#..", "##...", "#.#..", "#..#.", "#...#"),
    "L": ("#....", "#....", "#....", "#....", "#....", "#....", "#####"),
    "M": ("#...#", "##.##", "#.#.#", "#.#.#", "#...#", "#...#", "#...#"),
    "N": ("#...#", "##..#", "#.#.#", "#..##", "#...#", "#...#", "#...#"),
    "O": (".###.", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."),
    "P": ("####.", "#...#", "#...#", "####.", "#....", "#....", "#...."),
    "Q": (".###.", "#...#", "#...#", "#...#", "#.#.#", "#..#.", ".##.#"),
    "R": ("####.", "#...#", "#...#", "####.", "#.#..", "#..#.", "#...#"),
    "S": (".####", "#....", "#....", ".###.", "....#", "....#", "####."),
    "T": ("#####", "..#..", "..#..", "..#..", "..#..", "..#..", "..#.."),
    "U": ("#...#", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."),
    "V": ("#...#", "#...#", "#...#", "#...#", "#...#", ".#.#.", "..#.."),
    "W": ("#...#", "#...#", "#...#", "#.#.#", "#.#.#", "##.##", "#...#"),
    "X": ("#...#", "#...#", ".#.#.", "..#..", ".#.#.", "#...#", "#...#"),
    "Y": ("#...#", "#...#", ".#.#.", "..#..", "..#..", "..#..", "..#.."),
    "Z": ("#####", "....#", "...#.", "..#..", ".#...", "#....", "#####"),
    "0": (".###.", "#...#", "#..##", "#.#.#", "##..#", "#...#", ".###."),
    "1": ("..#..", ".##..", "..#..", "..#..", "..#..", "..#..", ".###."),
    "2": (".###.", "#...#", "....#", "...#.", "..#..", ".#...", "#####"),
    "3": (".###.", "#...#", "....#", "..##.", "....#", "#...#", ".###."),
    "4": ("...#.", "..##.", ".#.#.", "#..#.", "#####", "...#.", "...#."),
    "5": ("#####", "#....", "####.", "....#", "....#", "#...#", ".###."),
    "6": ("..##.", ".#...", "#....", "####.", "#...#", "#...#", ".###."),
    "7": ("#####", "....#", "...#.", "..#..", ".#...", ".#...", ".#..."),
    "8": (".###.", "#...#", "#...#", ".###.", "#...#", "#...#", ".###."),
    "9": (".###.", "#...#", "#...#", ".####", "....#", "...#.", ".##.."),
    ".": (".....", ".....", ".....", ".....", ".....", ".##..", ".##.."),
    ",": (".....", ".....", ".....", ".....", ".##..", "..#..", ".#..."),
    ":": (".....", ".##..", ".##..", ".....", ".##..", ".##..", "....."),
    ";": (".....", ".##..", ".##..", ".....", ".##..", "..#..", ".#..."),
    "!": ("..#..", "..#..", "..#..", "..#..", "..#..", ".....", "..#.."),
    "?": (".###.", "#...#", "....#", "...#.", "..#..", ".....", "..#.."),
    "'": ("..#..", "..#..", ".#...", ".....", ".....", ".....", "....."),
    "-": (".....", ".....", ".....", ".###.", ".....", ".....", "....."),
    "(": ("...#.", "..#..", ".#...", ".#...", ".#...", "..#..", "...#."),
    ")": (".#...", "..#..", "...#.", "...#.", "...#.", "..#..", ".#..."),
    "/": ("....#", "....#", "...#.", "..#..", ".#...", "#....", "#...."),
    ">": ("#....", ".#...", "..#..", "...#.", "..#..", ".#...", "#...."),
}
# fmt: on


@lru_cache(maxsize=1)
def atlas() -> dict[str, np.ndarray]:
    """char -> (7, 5) uint8 {0,1} bitmap."""
    out: dict[str, np.ndarray] = {}
    for ch, rows in FONT.items():
        arr = np.array(
            [[1 if c == "#" else 0 for c in row] for row in rows], dtype=np.uint8
        )
        assert arr.shape == (GLYPH_H, GLYPH_W), ch
        out[ch] = arr
    return out


def _crop(arr: np.ndarray) -> np.ndarray:
    rows = np.flatnonzero(arr.any(axis=1))
    cols = np.flatnonzero(arr.any(axis=0))
    return arr[rows[0] : rows[-1] + 1, cols[0] : cols[-1] + 1]


def _pack_cols(arr: np.ndarray) -> tuple[int, ...]:
    """Column-integer encoding of a column-cropped bitmap: column c maps to
    sum of (arr[r, c] << r), then every column is right-shifted by the
    bottom-most set row (row crop).  Bijective with the cropped bitmap +
    width, so distinct cropped glyphs get distinct keys."""
    h = arr.shape[0]
    vals = (arr.astype(np.int64) << np.arange(h, dtype=np.int64)[:, None]).sum(axis=0)
    orv = 0
    for v in vals.tolist():
        orv |= v
    if orv == 0:
        return ()
    r0 = (orv & -orv).bit_length() - 1
    return tuple(int(v) >> r0 for v in vals.tolist())


@lru_cache(maxsize=1)
def packed_atlas() -> dict[tuple[int, ...], str]:
    """Column-integer key -> char: what the OCR line recognizer looks a
    row-cropped cell up in when its cell memo misses."""
    out: dict[tuple[int, ...], str] = {}
    for ch, arr in atlas().items():
        key = _pack_cols(_crop(arr))
        assert key not in out, f"packed glyph collision: {ch} vs {out[key]}"
        out[key] = ch
    return out
