"""Bitmap measurements for the merge heuristic (SURVEY.md §2.4 D6-D7).

/root/reference/src/PgsToSrt/BluRaySup/ImageExtensions.cs:36-92.
"""

from __future__ import annotations

import numpy as np

__all__ = ["non_transparent_height", "non_transparent_width", "images_equal"]


def _extent(transparent: np.ndarray) -> int:
    """Length minus leading- and trailing-contiguous transparent lines.

    Equivalent to the counter logic of GetNonTransparentHeight/Width
    (ImageExtensions.cs:36-70): with any opaque line present the result is
    last_opaque - first_opaque + 1; all-transparent yields 0."""
    opaque = np.flatnonzero(~transparent)
    if opaque.size == 0:
        return 0
    return int(opaque[-1] - opaque[0] + 1)


def non_transparent_height(rgba: np.ndarray) -> int:
    """ImageExtensions.cs:36-52."""
    return _extent(~rgba[:, :, 3].any(axis=1))


def non_transparent_width(rgba: np.ndarray) -> int:
    """ImageExtensions.cs:54-70."""
    return _extent(~rgba[:, :, 3].any(axis=0))


def images_equal(a: np.ndarray, b: np.ndarray) -> bool:
    """Dimension check + flat RGBA compare (ImageExtensions.cs:72-92):
    ``np.array_equal`` is False on a shape mismatch."""
    return np.array_equal(a, b)
