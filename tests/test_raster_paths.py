"""Rasterize output forms, the palette LUT memo and the canvas pixel budget.

The decode path hands an OCR backend either the reference's padded RGBA
canvas or, when the backend sets ``wants_mask``, the unpadded opacity mask
(pgs/compose.py).  These tests pin that both forms give the same text, that
backends without the attribute still get RGBA, that the per-layer entry
points a tracer wraps are still called once per composition, and that no
object or union canvas beyond ``MAX_CANVAS_PIXELS`` is ever allocated.
"""

from __future__ import annotations

import struct
import tracemalloc

import numpy as np
import pandas as pd
import pytest

from pgstosrt_spark.fixtures import encoder as enc
from pgstosrt_spark.fixtures.corpus import N_VARIANTS, _media_payload
from pgstosrt_spark.kernels import make_fused_kernel
from pgstosrt_spark.pgs import decode, rle
from pgstosrt_spark.pgs.compose import rasterize
from pgstosrt_spark.pgs.decode import (
    decode_media_payload,
    decode_to_display_sets,
    display_sets_to_cues,
)
from pgstosrt_spark.pgs.model import (
    DecodeError,
    OdsData,
    PaletteInfo,
    PcsData,
    PcsObject,
)
from pgstosrt_spark.pgs.ocr import GlyphAtlasOcr
from pgstosrt_spark.pgs.palette import decode_palette
from pgstosrt_spark.pgs.rle import MAX_CANVAS_PIXELS, decode_rle_runs

CUES = ["THE QUICK BROWN FOX", "JUMPS OVER THE LAZY", "DOG AGAIN TODAY"]


class RecordingBackend:
    """A backend without ``wants_mask``: records every canvas it gets."""

    def __init__(self) -> None:
        self.canvases: list[np.ndarray] = []

    def recognize(self, rgba: np.ndarray) -> str:
        self.canvases.append(rgba)
        return GlyphAtlasOcr().recognize(rgba)


# ------------------------------------------------------------- mask == RGBA


@pytest.mark.parametrize("variant", range(N_VARIANTS))
@pytest.mark.parametrize("fix", [False, True])
def test_mask_and_rgba_recognize_alike(variant, fix):
    ocr = GlyphAtlasOcr()
    sets = decode_to_display_sets(_media_payload(CUES, variant))
    assert sets
    for pcs in sets:
        m = rasterize(pcs, multi_object_opacity_fix=fix, mask=True)
        rgba = rasterize(pcs, multi_object_opacity_fix=fix)
        assert m.dtype == bool and m.ndim == 2
        assert ocr.recognize(m) == ocr.recognize(rgba)
        # the mask is the canvas's alpha > 0 without the 25 px pad
        alpha = rgba[:, :, 3] > 0
        if alpha.shape != m.shape:
            alpha = alpha[25:-25, 25:-25]
        assert np.array_equal(alpha, m)


def _masked_gather(lut: np.ndarray, idx: np.ndarray, h: int, w: int) -> np.ndarray:
    """Reference RGBA: a zero canvas written through the ``idx >= 0`` mask."""
    rgba = np.zeros((h * w, 4), dtype=np.uint8)
    written = idx >= 0
    rgba[written] = lut[idx[written]]
    return rgba.reshape(h, w, 4)


@pytest.mark.parametrize("variant", range(N_VARIANTS))
def test_rgba_gather_matches_masked_reference(variant):
    """decode_image's one gather (index -1 reads an appended transparent
    row) is byte-identical to the masked reference, on the payload's own
    palette and on a random 256-entry one (alpha 0 entries included)."""
    rng = np.random.default_rng(variant)
    entries = rng.integers(0, 256, (256, 5), dtype=np.uint8)
    entries[:, 0] = np.arange(256)
    entries[::3, 4] = 0
    random_palette = [PaletteInfo(size=256, buffer=entries.tobytes())]
    checked = 0
    for pcs in decode_to_display_sets(_media_payload(CUES, variant)):
        for obj, frags in zip(pcs.pcs_objects or [], pcs.bitmap_objects or []):
            ods = frags[0]
            for palettes in (pcs.palette_infos, random_palette):
                lut = decode_palette(palettes)
                idx = decode_rle_runs(ods.data, ods.width, ods.height, alpha_lut=lut[:, 3])
                ref = _masked_gather(lut, idx, ods.height, ods.width)
                got = rle.decode_image(obj, frags, palettes, pad=False)
                assert got.dtype == np.uint8 and np.array_equal(got, ref)
                padded = rle.decode_image(obj, frags, palettes)
                assert np.array_equal(padded, rle.pad_image(ref))
                checked += 1
    assert checked


@pytest.mark.parametrize("variant", range(N_VARIANTS))
def test_backend_without_attribute_gets_padded_rgba(variant):
    sets = decode_to_display_sets(_media_payload(CUES, variant))
    single = [p for p in sets if p.pcs_objects and len(p.pcs_objects) == 1]
    assert single
    expect = [
        (p.bitmap_objects[0][0].height + 50, p.bitmap_objects[0][0].width + 50, 4)
        for p in single
    ]

    inline = RecordingBackend()
    cues = display_sets_to_cues(sets, backend=inline)
    assert [c.text for c in cues] == [
        c.text for c in display_sets_to_cues(sets, backend=GlyphAtlasOcr())
    ]

    kernel = RecordingBackend()
    batch = pd.DataFrame(
        {
            "doc_id": ["d"],
            "offset": [0],
            "kind": ["media"],
            "media_ref": ["m"],
            "text": [None],
            "payload": [_media_payload(CUES, variant)],
        }
    )
    (out,) = make_fused_kernel(backend=kernel)(iter([batch]))
    assert out["kind"].tolist() == ["cue"] * len(sets) + ["_metric"]

    for backend in (inline, kernel):
        assert all(c.dtype == np.uint8 and c.ndim == 3 for c in backend.canvases)
        shapes = [
            c.shape
            for c, p in zip(backend.canvases, sets)
            if p.pcs_objects and len(p.pcs_objects) == 1
        ]
        assert shapes == expect


def test_glyph_backend_asks_for_a_mask():
    assert GlyphAtlasOcr.wants_mask is True
    seen = []

    class Spy(GlyphAtlasOcr):
        def recognize(self, img):
            seen.append(img)
            return super().recognize(img)

    payload = enc.build_sup_from_cues([("MASKED", 90_000, 180_000)])
    assert [t.split("\n", 1)[1] for _, t in decode_media_payload(payload, backend=Spy())] == [
        "MASKED"
    ]
    assert len(seen) == 1 and seen[0].dtype == bool and seen[0].ndim == 2


# ------------------------------------------------------------- palette memo


def test_palette_lut_is_read_only():
    lut = decode_palette([PaletteInfo(size=1, buffer=bytes([1, 235, 128, 128, 255]))])
    with pytest.raises(ValueError):
        lut[1, 0] = 0
    with pytest.raises(ValueError):
        decode_palette([])[0, 3] = 255


def test_palette_lut_keyed_on_buffer_contents():
    buf = bytes([1, 235, 128, 128, 255, 2, 81, 90, 240, 255])
    a = decode_palette([PaletteInfo(size=2, buffer=buf)])
    b = decode_palette([PaletteInfo(size=2, buffer=bytes(bytearray(buf)))])
    assert np.array_equal(a, b)
    # only the last info matters (:627): an earlier one does not change it
    c = decode_palette(
        [PaletteInfo(size=1, buffer=bytes([1, 16, 128, 128, 0])), PaletteInfo(size=2, buffer=buf)]
    )
    assert np.array_equal(a, c)
    other = bytes([1, 235, 128, 128, 255, 2, 81, 90, 240, 128])
    d = decode_palette([PaletteInfo(size=2, buffer=other)])
    assert not np.array_equal(a, d)
    assert d[2, 3] == 128 and a[2, 3] == 255
    # size is part of the key: the first entry alone leaves entry 2 unset
    e = decode_palette([PaletteInfo(size=1, buffer=buf)])
    assert tuple(e[2]) == (0, 0, 0, 0)


# ----------------------------------------------------------- tracer contract


def test_layer_entry_points_called_once_per_composition(monkeypatch):
    """A per-layer tracer wraps these module attributes; each must still be
    reached once per composition, and rasterize must return an ndarray."""
    calls = {"rasterize": 0, "rle": 0, "palette": 0, "ocr": 0}

    def counting(key, fn, check=None):
        def wrapper(*args, **kwargs):
            calls[key] += 1
            out = fn(*args, **kwargs)
            if check:
                check(out)
            return out

        return wrapper

    def is_ndarray(out):
        assert isinstance(out, np.ndarray)

    monkeypatch.setattr(decode, "rasterize", counting("rasterize", decode.rasterize, is_ndarray))
    monkeypatch.setattr(rle, "decode_rle_runs", counting("rle", rle.decode_rle_runs))
    monkeypatch.setattr(rle, "decode_palette", counting("palette", rle.decode_palette))
    monkeypatch.setattr(
        GlyphAtlasOcr, "recognize", counting("ocr", GlyphAtlasOcr.recognize)
    )
    cues = [(f"LINE {i}", 90_000 * (2 * i + 1), 90_000 * (2 * i + 2)) for i in range(5)]
    got = decode_media_payload(enc.build_sup_from_cues(cues))
    assert len(got) == 5
    assert calls == {"rasterize": 5, "rle": 5, "palette": 5, "ocr": 5}


# ------------------------------------------------------- canvas pixel budget


def test_rle_budget_raises_before_allocating():
    tracemalloc.start()
    try:
        with pytest.raises(DecodeError):
            decode_rle_runs(b"\x00\x00", 65535, 65535)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20
    # the budget itself still decodes
    side = int(MAX_CANVAS_PIXELS**0.5)
    assert decode_rle_runs(b"\x00\x00", side, 1).shape == (side,)


def _huge_ods_payload() -> bytes:
    return (
        enc.build_sup_from_cues([("ONE", 90_000, 180_000)])
        + enc.set_first_ods_size(enc.build_sup_from_cues([("TWO", 270_000, 360_000)]), 65535, 65535)
        + enc.build_sup_from_cues([("THREE", 450_000, 540_000)])
    )


def test_planted_huge_ods_drops_only_its_composition():
    payload = _huge_ods_payload()
    tracemalloc.start()
    try:
        got = decode_media_payload(payload)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert [t.split("\n", 1)[1] for _, t in got] == ["ONE", "THREE"]
    assert [s for s, _ in got] == [1, 3]
    assert peak < 64 << 20


def test_dropped_composition_is_reported_to_errors():
    payload = _huge_ods_payload()
    errors: list = []
    assert decode_media_payload(payload, errors=errors) == decode_media_payload(payload)
    assert [(seq, type(exc)) for seq, exc in errors] == [(2, DecodeError)]


def _missing_ods_payload() -> bytes:
    """ONE, then a two-object composition whose second ODS never arrives
    (rasterize raises IndexError, compose.py), then THREE."""
    two = enc.build_display_set("TWO", 270_000, 0, extra_objects=[("ALT", (800, 900), 1)])
    segments, pos = [], 0
    while pos < len(two):  # drop the ODS of object 1
        (size,) = struct.unpack_from(">H", two, pos + 11)
        seg = two[pos : pos + 13 + size]
        if not (seg[10] == enc.SEG_ODS and seg[13:15] == b"\x00\x01"):
            segments.append(seg)
        pos += 13 + size
    return (
        enc.build_sup_from_cues([("ONE", 90_000, 180_000)])
        + b"".join(segments)
        + enc.build_clear_set(360_000, 1)
        + enc.build_sup_from_cues([("THREE", 450_000, 540_000)])
    )


def test_composition_raising_any_error_is_dropped():
    """Like the reference's per-item catch, a composition that raises
    something other than DecodeError drops only itself."""
    errors: list = []
    got = decode_media_payload(_missing_ods_payload(), errors=errors)
    assert [t.split("\n", 1)[1] for _, t in got] == ["ONE", "THREE"]
    assert [(seq, type(exc)) for seq, exc in errors] == [(2, IndexError)]


def test_fused_kernel_error_rows_match_two_phase():
    """The fused kernel (in-process) emits one ``_error`` row (seq =
    composition number, ``<error class>: ...``) for the composition the
    pure-Python oracle drops, next to the oracle's cues: a DecodeError
    (huge ODS) and any other exception (missing ODS)."""
    for payload, error_class in (
        (_huge_ods_payload(), "DecodeError"),
        (_missing_ods_payload(), "IndexError"),
    ):
        batch = pd.DataFrame(
            {
                "doc_id": ["d"],
                "offset": [3],
                "kind": ["media"],
                "media_ref": ["m"],
                "text": [None],
                "payload": [payload],
            }
        )
        (fused,) = make_fused_kernel()(iter([batch]))
        dropped: list = []
        cues = decode_media_payload(payload, errors=dropped)

        def rows(df, kind):
            return sorted(map(tuple, df[df["kind"] == kind].itertuples(index=False)))

        assert rows(fused, "cue") == [("d", 3, seq, "cue", t, "m") for seq, t in cues]
        assert len(cues) == 2
        (err,) = rows(fused, "_error")
        assert [(err[2], err[4])] == [(seq, f"{type(e).__name__}: {e}") for seq, e in dropped]
        assert err[:3] == ("d", 3, 2) and err[4].startswith(f"{error_class}: ")
        assert fused["kind"].tolist().count("_metric") == 1


@pytest.mark.parametrize("mask", [False, True])
def test_union_canvas_budget(mask):
    frag = OdsData(object_id=0, object_version=0, is_first=True, width=4, height=4, data=b"\x01" * 16)
    far = OdsData(object_id=1, object_version=0, is_first=True, width=4, height=4, data=b"\x01" * 16)
    pcs = PcsData(
        comp_num=0,
        state=0,
        palette_update=False,
        start=0,
        end=90_000,
        width=1920,
        height=1080,
        fps_type=0,
        palette_id=0,
        pcs_objects=[PcsObject(0, 0, False, 0, 0), PcsObject(1, 0, False, 65000, 65000)],
        bitmap_objects=[[frag], [far]],
        palette_infos=[PaletteInfo(size=1, buffer=bytes([1, 235, 128, 128, 255]))],
    )
    tracemalloc.start()
    try:
        for fix in (False, True):
            with pytest.raises(DecodeError):
                rasterize(pcs, multi_object_opacity_fix=fix, mask=mask)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20
