"""Unit tests for the pure-Python PGS decode core (SURVEY.md §5.2).

Each test cites the reference behavior it pins (FIXTURES.md §3 fixture
classes F01-F12).
"""

from __future__ import annotations

import numpy as np
import pytest

from pgstosrt_spark.fixtures import encoder as enc
from pgstosrt_spark.pgs import glyphs
from pgstosrt_spark.pgs.assemble import assemble_sup
from pgstosrt_spark.pgs.decode import (
    decode_media_payload,
    decode_to_display_sets,
    pack_mkv_packets,
    unpack_mkv_packets,
)
from pgstosrt_spark.pgs.imageops import (
    images_equal,
    non_transparent_height,
    non_transparent_width,
)
from pgstosrt_spark.pgs.merge import apply_duplicate_merge
from pgstosrt_spark.pgs.model import SEG_END, SEG_ODS, SEG_PCS, SEG_PDS, PaletteInfo
from pgstosrt_spark.pgs.ocr import GlyphAtlasOcr
from pgstosrt_spark.pgs.palette import decode_palette
from pgstosrt_spark.pgs.rle import decode_image, decode_rle_runs
from pgstosrt_spark.pgs.segments import split_segments_sup
from pgstosrt_spark.pgs.srt import format_timecode


def texts(payload: bytes, **kw) -> list[str]:
    return [t.split("\n", 1)[1] for _, t in decode_media_payload(payload, **kw)]


def times(payload: bytes, **kw) -> list[str]:
    return [t.split("\n", 1)[0] for _, t in decode_media_payload(payload, **kw)]


# ---------------------------------------------------------------- glyphs


def test_glyph_atlas_cropped_patterns_unique():
    # registration-free OCR requires unique cropped bitmaps; the packed
    # atlas the OCR reads keys each glyph by its cropped bitmap
    from pgstosrt_spark.pgs.glyphs import packed_atlas

    assert len(packed_atlas()) == len(glyphs.FONT)


def test_language_data_discovery(tmp_path):
    """S6 (TesseractData.cs:18-66): *.traineddata scan, case-insensitive
    validation, '+'-joined default, None on miss/empty."""
    from pgstosrt_spark.pgs.langdata import available_languages, resolve_language

    for name in ("eng.traineddata", "FRA.traineddata", "notes.txt"):
        (tmp_path / name).write_bytes(b"")
    d = str(tmp_path)
    assert available_languages(d) == ["eng", "fra"]
    assert resolve_language(d, "ENG") == "ENG"  # validated, case kept
    assert resolve_language(d, "deu") is None  # missing -> abort signal
    assert resolve_language(d) == "eng+fra"  # default: join all
    assert resolve_language(str(tmp_path / "nope")) is None  # empty/missing dir


def test_ocr_roundtrip_charset():
    text = "ABCDEFGHIJKLM\nNOPQRSTUVWXYZ\n0123456789\n.,:;!?'-()/>"
    img = enc.render_text(text)
    rgba = np.zeros((*img.shape, 4), dtype=np.uint8)
    rgba[img == 1] = (255, 255, 255, 255)
    assert GlyphAtlasOcr().recognize(rgba) == text


# ---------------------------------------------------------------- F01 basic


def test_f01_basic_three_compositions():
    cues = [("FIRST", 90_000, 180_000), ("SECOND", 270_000, 360_000), ("THIRD", 450_000, 540_000)]
    p = enc.build_sup_from_cues(cues)
    got = decode_media_payload(p)
    assert [t.split("\n", 1)[1] for _, t in got] == ["FIRST", "SECOND", "THIRD"]
    assert [s for s, _ in got] == [1, 2, 3]
    sets = decode_to_display_sets(p)
    assert [(s.start, s.end) for s in sets] == [(90_000, 180_000), (270_000, 360_000), (450_000, 540_000)]


# ------------------------------------------------------------- F02 opcodes


def test_f02_rle_all_opcodes():
    # literal (len<=2), short run colour, long run colour (>63), short run
    # colour-0 (<0x40), long run colour-0, EOL — one image forcing each
    img = np.zeros((3, 200), dtype=np.uint8)
    img[0, 0] = 1  # literal x1
    img[0, 2:4] = 1  # literal x2
    img[0, 10:20] = 1  # short colour run (10)
    img[1, 0:100] = 1  # long colour run (100 > 63)
    img[2, 190:195] = 1  # long colour-0 run before it (190 > 63)
    rle = enc.rle_encode(img)
    back = decode_rle_runs(rle, 200, 3)
    assert np.array_equal(np.where(back < 0, 0, back).reshape(3, 200).astype(np.uint8), img)
    # long-form coverage: force_long uses 0x40/0xC0 forms everywhere
    rle_long = enc.rle_encode(img, force_long=True)
    back_long = decode_rle_runs(rle_long, 200, 3)
    assert np.array_equal(back, back_long)


def test_f02_eol_cursor_snap_underfilled_row():
    # an underfilled row must snap to the next row start (cs:72-77)
    buf = bytes([1, 1, 0x00, 0x00, 2, 0x00, 0x00])  # row0: 2 px then EOL; row1: 1 px
    back = decode_rle_runs(buf, 4, 2)
    expect = np.array([1, 1, -1, -1, 2, -1, -1, -1], dtype=np.int16)
    assert np.array_equal(back, expect)


def test_f02_overrun_raises():
    from pgstosrt_spark.pgs.model import DecodeError

    with pytest.raises(DecodeError):
        decode_rle_runs(bytes([1] * 10), 2, 2)


# ----------------------------------------------------------- F03 fragments


def test_f03_multi_fragment_reassembly():
    p = enc.build_sup_from_cues([("FRAGMENTED INTO THREE PIECES", 90_000, 180_000)], fragment_count=3)
    assert texts(p) == ["FRAGMENTED INTO THREE PIECES"]
    # fragment flags round-trip: 3 ODS segments, first has is_first
    segs = [s for s in split_segments_sup(p) if s.type == SEG_ODS]
    assert len(segs) == 3
    assert (segs[0].payload[3] & 0x80) == 0x80
    assert (segs[2].payload[3] & 0x40) == 0x40


# ------------------------------------------------------- F04 palette update


def test_f04_palette_update_replaces_last_and_suppresses_ods():
    """PCS with PaletteUpdate: next PDS replaces the last palette info for
    its id (:292-296) and ODS capture is suppressed (:309)."""
    white = enc.STD_PALETTE_ENTRIES
    red = [(0, 16, 128, 128, 0), (1, 63, 240, 102, 255)]  # BT.709 red ink

    ds1 = enc.build_display_set("COLOUR TEST", 90_000, 0, state=0x80, palette_entries=white)
    clear1 = enc.build_clear_set(180_000, 1)
    # palette-update set: PCS(update)+PDS only (no ODS) -> re-shows object 0
    # with the replaced palette; an ODS here would be ignored
    pcs = enc.sup_segment(
        SEG_PCS,
        270_000,
        enc.pcs_payload(1920, 1080, 2, state=0x00, palette_update=True, objects=[(0, 0, False, 100, 900)]),
    )
    pds = enc.sup_segment(SEG_PDS, 270_000, enc.make_palette_pds(red))
    ods_ignored = enc.sup_segment(
        SEG_ODS,
        270_000,
        enc.ods_payloads(0, 5, 5, enc.rle_encode(np.ones((5, 5), dtype=np.uint8)))[0],
    )
    end = enc.sup_segment(SEG_END, 270_000, b"")
    clear2 = enc.build_clear_set(360_000, 3)
    p = ds1 + clear1 + pcs + pds + ods_ignored + end + clear2

    sets = decode_to_display_sets(p, skip_merge=True)
    assert len(sets) == 2
    # second set reuses the ORIGINAL bitmap (ODS suppressed), its fragment
    # list is the shared one from set 1
    assert sets[1].bitmap_objects[0][0].width == sets[0].bitmap_objects[0][0].width
    # palette store for id 0 had [white]; update removed it and added [red]
    assert len(sets[1].palette_infos) == 1
    lut = decode_palette(sets[1].palette_infos)
    r, g, b, a = lut[1]
    assert a == 255 and r > 150 and g < 80 and b < 80  # red ink now


# --------------------------------------------------------- F05 epoch reset


def test_f05_epoch_start_clears_stores():
    """EpochStart clears palette + object stores (:336-341): a following
    composition that doesn't re-send its palette is dropped."""
    ds1 = enc.build_display_set("BEFORE EPOCH", 90_000, 0, state=0x80)
    clear1 = enc.build_clear_set(180_000, 1)
    # epoch-start PCS that references object 0 / palette 0 but sends neither
    pcs = enc.sup_segment(
        SEG_PCS, 270_000, enc.pcs_payload(1920, 1080, 2, state=0x80, objects=[(0, 0, False, 100, 900)])
    )
    end = enc.sup_segment(SEG_END, 270_000, b"")
    p = ds1 + clear1 + pcs + end
    assert texts(p) == ["BEFORE EPOCH"]  # the orphan epoch set is incomplete

    # same but state=Normal: stores survive, set completes with carried data
    pcs_n = enc.sup_segment(
        SEG_PCS, 270_000, enc.pcs_payload(1920, 1080, 2, state=0x00, objects=[(0, 0, False, 100, 900)])
    )
    p2 = ds1 + clear1 + pcs_n + end
    assert texts(p2) == ["BEFORE EPOCH", "BEFORE EPOCH"]


# --------------------------------------------------------- F06 multi-object


def test_f06_multi_object_union_and_opacity_quirk():
    p = enc.build_sup_from_cues(
        [("LEFT", 90_000, 180_000)],
        extra_objects=[("RIGHT", (500, 900), 1)],
    )
    # faithful mode: DrawImage opacity 0 (BluRaySupParserExtensions.cs:30)
    # -> transparent canvas -> empty OCR text
    assert texts(p) == [""]
    # fixed mode: both objects visible
    assert texts(p, multi_object_opacity_fix=True) == ["LEFT RIGHT"]


# ------------------------------------------------------------ F07 dup merge


def _chain(text: str, base: int, n: int, tick: int = 900) -> list[tuple[str, int, int]]:
    return [(text, base + i * tick, base + (i + 1) * tick) for i in range(n)]


def test_f07_merge_needs_three_chains():
    # one chain of 4 -> mergeCount=1 < 3 -> no merge (:538)
    p = enc.build_sup_from_cues(_chain("SOLO", 90_000, 4))
    assert len(texts(p)) == 4

    # three chains -> all merge; times span each chain
    cues = _chain("AAA", 90_000, 4) + _chain("BBB", 900_000, 4) + _chain("CCC", 1_800_000, 4)
    p = enc.build_sup_from_cues(cues)
    got = decode_media_payload(p)
    assert [t.split("\n", 1)[1] for _, t in got] == ["AAA", "BBB", "CCC"]
    assert times(p)[0] == "00:00:01,000 --> 00:00:01,040"


def test_f07_skip_merge_flag():
    cues = _chain("AAA", 90_000, 4) + _chain("BBB", 900_000, 4) + _chain("CCC", 1_800_000, 4)
    p = enc.build_sup_from_cues(cues)
    assert len(texts(p, skip_merge=True)) == 12
    # force_merge_all makes QualifiesForMerge return false -> nothing merges
    assert len(texts(p, force_merge_all=True)) == 12


def test_f07_gap_breaks_chain():
    # gap >= 10 ticks between re-sends -> no chaining
    cues = [("GAP", 90_000 + i * 910, 90_000 + i * 910 + 900) for i in range(4)]
    p = enc.build_sup_from_cues(cues + _chain("BBB", 900_000, 4) + _chain("CCC", 1_800_000, 4))
    got = texts(p)
    assert got.count("GAP") == 4


# ------------------------------------------------- F08 2-chain heuristics


def _two_chains_plus_filler(cue_pair: list[tuple[str, int, int]], **kw) -> bytes:
    # two-element chain under test + two filler chains to reach mergeCount>=3
    filler = _chain("FILLER ONE", 9_000_000, 4) + _chain("FILLER TWO", 18_000_000, 4)
    return enc.build_sup_from_cues(cue_pair + filler, **kw)


def test_f08_two_chain_short_duration_merges():
    # duration < 400 ms either side -> merges (:546)
    pair = _chain("HI", 90_000, 2, tick=9_000)  # 100 ms each
    p = _two_chains_plus_filler(pair)
    got = texts(p)
    assert got.count("HI") == 1


def test_f08_two_chain_long_small_text_stays_separate_unless_identical():
    # >= 400 ms each, small extent, pixel-identical -> IsEqualTo true -> merge
    pair = _chain("HI", 90_000, 2, tick=45_000)  # 500 ms each
    p = _two_chains_plus_filler(pair)
    assert texts(p).count("HI") == 1  # identical bitmaps -> merged


def test_f08_two_chain_large_extent_merges():
    # non-transparent width > 300 px -> merges regardless (:554)
    long_text = "WIDE " * 12  # ~ 60 chars * 6 px = 360 px
    pair = _chain(long_text.strip(), 90_000, 2, tick=45_000)
    p = _two_chains_plus_filler(pair)
    assert texts(p).count(long_text.strip()) == 1


# --------------------------------------------------------- F09 zero endtime


def test_f09_end_time_backfill_from_next_composition():
    # no clear sets: each composition's end comes from the next PCS start;
    # the final one keeps end=0 (reference leaves it)
    ds1 = enc.build_display_set("ONE", 90_000, 0, state=0x80)
    ds2 = enc.build_display_set("TWO", 270_000, 1, state=0x80)
    sets = decode_to_display_sets(ds1 + ds2, skip_merge=True)
    assert [(s.start, s.end) for s in sets] == [(90_000, 270_000), (270_000, 0)]


# ---------------------------------------------------------- F10 alpha edges


def test_f10_alpha_below_14_snaps_to_transparent_black():
    infos = [PaletteInfo(size=2, buffer=bytes([0, 16, 128, 128, 0, 1, 235, 128, 128, 10]))]
    lut = decode_palette(infos)
    # alpha 10 >= stored 0 -> applied, but <14 snaps colour to Y16/128/128
    assert tuple(lut[1]) == (0, 0, 0, 10)


def test_f10_alpha_overwrite_only_raises():
    # same entry twice in one buffer: second write with lower alpha keeps
    # alpha but still updates colour (:641-656)
    buf = bytes([1, 235, 128, 128, 200, 1, 63, 240, 102, 100])
    lut = decode_palette([PaletteInfo(size=2, buffer=buf)])
    r, g, b, a = lut[1]
    assert a == 200  # alpha kept from first write
    assert r > 150 and g < 80  # colour from second write


def test_f10_only_last_palette_info_decodes():
    red = PaletteInfo(size=1, buffer=bytes([1, 81, 90, 240, 255]))
    white = PaletteInfo(size=1, buffer=bytes([1, 235, 128, 128, 255]))
    lut = decode_palette([red, white])
    assert tuple(lut[1]) == (255, 255, 255, 255)


def test_bt709_conversion_values():
    # white Y=235 -> 255,255,255; mid grey Y=126 -> ~128
    white = decode_palette([PaletteInfo(size=1, buffer=bytes([1, 235, 128, 128, 255]))])[1]
    assert tuple(white) == (255, 255, 255, 255)
    grey = decode_palette([PaletteInfo(size=1, buffer=bytes([1, 126, 128, 128, 255]))])[1]
    assert tuple(grey[:3]) == (128, 128, 128)


# ---------------------------------------------------------- F11 degenerate


def test_f11_degenerate_guards():
    # 0-size ODS -> 1x1 transparent (BluRaySupParserExtensions.cs:48-53)
    img = decode_image(None, [], [])
    assert img.shape == (1, 1, 4)
    # truncated segment ends the walk without crashing
    p = enc.build_sup_from_cues([("OK", 90_000, 180_000)])
    assert texts(p[:-5]) == ["OK"]
    # missing palette id -> composition dropped (CompletePcs :173-174)
    ds = enc.build_display_set("X", 90_000, 0, state=0x80)
    segs = split_segments_sup(ds)
    no_pds = b"".join(
        enc.sup_segment(s.type, s.pts, s.payload) for s in segs if s.type != SEG_PDS
    )
    assert texts(no_pds) == []
    # empty palette (0 entries) is ignored -> still no palette -> dropped
    empty_pds = enc.sup_segment(SEG_PDS, 90_000, bytes([0, 0]))
    assert texts(no_pds[: 13 + 19] + empty_pds + no_pds[13 + 19 :]) == []


# ----------------------------------------------------------- F12 mkv style


def test_f12_mkv_packet_timing_and_framing():
    ds1 = enc.build_display_set("MKV ONE", 0, 0, mkv=True, state=0x80)
    ds2 = enc.build_display_set("MKV TWO", 0, 1, mkv=True, state=0x80)
    payload = pack_mkv_packets([(1_000, 3_000, ds1), (4_000, 6_000, ds2)])
    assert unpack_mkv_packets(payload)[0][0] == 1_000
    got = decode_media_payload(payload)
    # container times override: (start_ms-1)*90 (:49-50)
    assert got[0][1].startswith("00:00:00,999 --> 00:00:02,999")
    assert got[1][1].split("\n")[1] == "MKV TWO"


def test_f12_mkv_overlap_fix():
    ds1 = enc.build_display_set("A", 0, 0, mkv=True, state=0x80)
    ds2 = enc.build_display_set("B", 0, 1, mkv=True, state=0x80)
    # packet 1 end (5000) > packet 2 start (4000) -> prev end clipped (:52-53)
    payload = pack_mkv_packets([(1_000, 5_000, ds1), (4_000, 6_000, ds2)])
    sets = decode_to_display_sets(payload, skip_merge=True)
    assert sets[0].end == sets[1].start - 1


def test_f12_mkv_cross_packet_palette_carry():
    """A display set whose packet lacks a PDS resolves against palettes
    carried from the previous packet (lastPalettes, :523-528, :329)."""
    ds1 = enc.build_display_set("CARRIED", 0, 0, mkv=True, state=0x80)
    # second packet: Normal-state PCS + ODS + END, no PDS
    pcs = enc.mkv_segment(SEG_PCS, enc.pcs_payload(1920, 1080, 1, state=0x00, objects=[(0, 0, False, 100, 900)]))
    img = enc.render_text("NOPDS")
    ods = enc.mkv_segment(SEG_ODS, enc.ods_payloads(0, img.shape[1], img.shape[0], enc.rle_encode(img))[0])
    end = enc.mkv_segment(SEG_END, b"")
    payload = pack_mkv_packets([(1_000, 2_000, ds1), (3_000, 4_000, pcs + ods + end)])
    got = [t.split("\n")[1] for _, t in decode_media_payload(payload)]
    assert got == ["CARRIED", "NOPDS"]


# ------------------------------------------------------------- time format


def test_timecode_format():
    assert format_timecode(0) == "00:00:00,000"
    assert format_timecode(3_661_234.0) == "01:01:01,234"
    assert format_timecode(90_000 / 90.0) == "00:00:01,000"


# ------------------------------------------------------------ image extent


def test_non_transparent_extent():
    img = np.zeros((10, 20, 4), dtype=np.uint8)
    img[3:7, 5:15, 3] = 255
    assert non_transparent_height(img) == 4
    assert non_transparent_width(img) == 10
    assert non_transparent_height(np.zeros((5, 5, 4), dtype=np.uint8)) == 0
    assert images_equal(img, img.copy())
    assert not images_equal(img, np.zeros_like(img))
    assert not images_equal(img, img[:, :10])


def test_rle_overfilled_row_overlap_replay():
    """The vectorized scatter must detect overlapping runs (overfilled row +
    EOL snap-back, BluRaySupParserExtensions.cs:72-77) and fall back to
    stream-order replay where later opaque runs win."""
    import numpy as np

    from pgstosrt_spark.pgs.rle import decode_rle_runs

    # width=4: run(colour 1, len 6) overfills row 0 into row 1; EOL snaps
    # the cursor back to pixel 4 (col 6 >= width -> no +width); run(colour
    # 2, len 4) then OVERLAPS pixels 4..5 and must overwrite colour 1.
    buf = bytes(
        [0x00, 0x86, 0x01]  # run colour 1, len 6
        + [0x00, 0x00]      # EOL -> p=4
        + [0x00, 0x84, 0x02]  # run colour 2, len 4 (overlaps 4..5)
        + [0x00, 0x00]      # EOL -> p=8
        + [0x00, 0x84, 0x03]  # run colour 3, len 4
    )
    img = decode_rle_runs(buf, 4, 3)
    assert img.tolist() == [1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3]

    # same stream with colour 2 fully transparent: its run is skipped (the
    # cursor still advances), so the colour-1 overflow pixels survive and
    # 6..7 stay never-written — and with the overlapping run dropped, the
    # remaining runs are disjoint (fast scatter path), same semantics.
    alpha = np.full(256, 255, dtype=np.uint8)
    alpha[2] = 0
    img2 = decode_rle_runs(buf, 4, 3, alpha_lut=alpha)
    assert img2.tolist() == [1, 1, 1, 1, 1, 1, -1, -1, 3, 3, 3, 3]


def test_tesseract_binding_contract(monkeypatch):
    """TesseractApi.cs:16-53 / PgsOcr.cs:84,116-134 analog, behavior-pinned
    with a fake pytesseract+PIL (neither installs in this image): (a) the
    engine module loads ONCE per process and is reused across instances
    and calls; (b) recognize() marshals the RGBA numpy canvas to a PIL
    image (mode RGBA, matching dims) before image_to_string — the GetPix
    analog; (c) results are trimmed and a None result becomes '' (the
    reference's Text?.Trim() null-safety)."""
    import sys
    import types

    from pgstosrt_spark.pgs.ocr import TesseractOcr

    calls = {"imports": 0, "images": [], "langs": []}

    class FakeImage:
        def __init__(self, arr, mode):
            self.mode = mode
            self.size = (arr.shape[1], arr.shape[0])

    fake_pil_image = types.SimpleNamespace(
        fromarray=lambda arr, mode: FakeImage(arr, mode)
    )
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_pil_image
    fake_pil_image_mod = types.ModuleType("PIL.Image")
    fake_pil_image_mod.fromarray = fake_pil_image.fromarray

    outputs = iter(["  HELLO WORLD \n", None, "\tOK\r\n"])

    fake_tess = types.ModuleType("pytesseract")

    def image_to_string(img, lang):
        calls["images"].append(img)
        calls["langs"].append(lang)
        return next(outputs)

    fake_tess.image_to_string = image_to_string

    real_import = __builtins__["__import__"] if isinstance(__builtins__, dict) else __builtins__.__import__

    def counting_import(name, *a, **kw):
        if name == "pytesseract":
            calls["imports"] += 1
        return real_import(name, *a, **kw)

    monkeypatch.setitem(sys.modules, "pytesseract", fake_tess)
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_pil_image_mod)
    monkeypatch.setattr("builtins.__import__", counting_import)
    monkeypatch.setattr(TesseractOcr, "_engine_module", None)

    rgba = np.zeros((7, 5, 4), dtype=np.uint8)
    eng = TesseractOcr(lang="eng")
    assert eng.recognize(rgba) == "HELLO WORLD"  # trim
    assert eng.recognize(rgba) == ""  # None -> '' (Text?.Trim())
    fra = TesseractOcr(lang="fra+eng")  # second instance, same process
    assert fra.recognize(rgba) == "OK"
    # engine-per-process: the module resolved once, reused by both
    # instances (sys.modules hit on later calls does not re-trigger the
    # gated import path)
    assert TesseractOcr._engine_module is fake_tess
    assert calls["langs"] == ["eng", "eng", "fra+eng"]
    # RGBA->Pix analog: PIL image carries the canvas geometry + RGBA mode
    assert all(i.mode == "RGBA" and i.size == (5, 7) for i in calls["images"])


def test_tesseract_gate_raises_without_module(monkeypatch):
    """The import gate stays loud when pytesseract is truly absent."""
    import builtins
    import sys

    from pgstosrt_spark.pgs.ocr import TesseractOcr

    real_import = builtins.__import__

    def blocking_import(name, *a, **kw):
        if name == "pytesseract":
            raise ImportError("blocked")
        return real_import(name, *a, **kw)

    monkeypatch.delitem(sys.modules, "pytesseract", raising=False)
    monkeypatch.setattr("builtins.__import__", blocking_import)
    monkeypatch.setattr(TesseractOcr, "_engine_module", None)
    with pytest.raises(NotImplementedError, match="GlyphAtlasOcr"):
        TesseractOcr()


def test_ebml_demux_roundtrip_equals_mkpg():
    """S2 (PgsParser.cs:30-50 + libse MatroskaFile): the same packet
    sequence framed as a real EBML container must decode to exactly the
    cues the MKPG framing produces — demux is pure framing."""
    from pgstosrt_spark.fixtures.encoder import build_display_set, build_mkv
    from pgstosrt_spark.pgs.decode import decode_media_payload, pack_mkv_packets
    from pgstosrt_spark.pgs.ebml import mkv_pgs_packets, mkv_tracks

    packets = []
    for i, (text, start, end) in enumerate(
        [("HELLO", 90_000, 180_000), ("WORLD", 270_000, 360_000)]
    ):
        ds = build_display_set(text, 0, i, mkv=True, state=0x80)
        packets.append((start // 90, end // 90, ds))

    mkv = build_mkv(
        tracks=[
            (1, "V_MPEG4/ISO/AVC", "und", False),  # non-PGS track: skipped
            (3, "S_HDMV/PGS", "eng", False),
        ],
        packets_by_track={3: packets},
    )
    # track metadata round-trips
    ts = mkv_tracks(mkv)
    assert [(t.number, t.codec_id, t.language) for t in ts] == [
        (1, "V_MPEG4/ISO/AVC", "und"),
        (3, "S_HDMV/PGS", "eng"),
    ]
    # packet extraction round-trips (first PGS track auto-selected)
    assert mkv_pgs_packets(mkv) == packets
    # end-to-end decode equality vs the MKPG framing of the same packets
    assert decode_media_payload(mkv) == decode_media_payload(pack_mkv_packets(packets))


def test_ebml_demux_rejects_garbage_and_malformed_lace():
    from pgstosrt_spark.fixtures.encoder import build_mkv
    from pgstosrt_spark.pgs.ebml import mkv_pgs_packets, mkv_tracks
    from pgstosrt_spark.pgs.model import DecodeError
    import pytest as _pytest

    with _pytest.raises(DecodeError):
        mkv_tracks(b"\x00\x01\x02\x03 not ebml")
    # flags claim EBML lacing but the payload is not a valid lace: the
    # demux must refuse loudly, never mis-parse
    mkv = build_mkv([(3, "S_HDMV/PGS", "eng", False)], {3: [(10, 10, b"\x16\x00\x00")]})
    laced = mkv.replace(b"\x00" + b"\x16\x00\x00", b"\x06" + b"\x16\x00\x00")
    with _pytest.raises(DecodeError):
        mkv_pgs_packets(laced)


def test_ebml_lacing_roundtrip_equals_unlaced_twin():
    """Xiph / fixed-size / EBML lacing (libse MatroskaFile semantics,
    VERDICT r2 gap 3): a laced cluster must demux to the exact packet list
    of its un-laced twin, and decode identically end-to-end."""
    from pgstosrt_spark.fixtures.encoder import build_display_set, build_mkv
    from pgstosrt_spark.pgs.decode import decode_media_payload
    from pgstosrt_spark.pgs.ebml import mkv_pgs_packets

    tracks = [(3, "S_HDMV/PGS", "eng", False)]
    ds = build_display_set("LACED STREAM TEST", 0, 0, mkv=True, state=0x80)
    # xiph/ebml: one display set split into 3 unequal frames at one
    # timestamp (first > 255 bytes => multi-0xFF xiph sizes); the packet
    # assembler buffers frames until the END probe, so the split is
    # semantically invisible
    cut1, cut2 = 300, 350
    chunks = [ds[:cut1], ds[cut1:cut2], ds[cut2:]]
    assert len(chunks[0]) > 255
    split_pkts = [(10, 10, c) for c in chunks]
    for mode in ("xiph", "ebml"):
        plain = build_mkv(tracks, {3: split_pkts})
        laced = build_mkv(tracks, {3: split_pkts}, lace=mode)
        assert laced != plain  # the lacing actually changed the wire bytes
        assert mkv_pgs_packets(laced) == mkv_pgs_packets(plain) == split_pkts
        assert decode_media_payload(laced) == decode_media_payload(plain)
    # fixed-size: equal-length frames (three whole display sets of the
    # same text differ only in comp_num => identical lengths)
    sets = [
        build_display_set("FIXED", 0, i, mkv=True, state=0x80) for i in range(3)
    ]
    assert len({len(s) for s in sets}) == 1
    fixed_pkts = [(20, 20, s) for s in sets]
    plain = build_mkv(tracks, {3: fixed_pkts})
    laced = build_mkv(tracks, {3: fixed_pkts}, lace="fixed")
    assert laced != plain
    assert mkv_pgs_packets(laced) == mkv_pgs_packets(plain) == fixed_pkts
    assert decode_media_payload(laced) == decode_media_payload(plain)


def test_ebml_unknown_size_clusters_resync():
    """Unknown-size Clusters (live/streamed muxes) must not swallow later
    clusters: the demux resyncs at each next top-level Cluster header
    (ADVICE r2) instead of parsing them as unrecognized children."""
    from pgstosrt_spark.fixtures.encoder import build_display_set, build_mkv
    from pgstosrt_spark.pgs.decode import decode_media_payload
    from pgstosrt_spark.pgs.ebml import mkv_pgs_packets

    tracks = [(3, "S_HDMV/PGS", "eng", False)]
    packets = []
    for i, (text, start, end) in enumerate(
        [("ONE", 90_000, 180_000), ("TWO", 270_000, 360_000), ("THREE", 450_000, 540_000)]
    ):
        ds = build_display_set(text, 0, i, mkv=True, state=0x80)
        packets.append((start // 90, end // 90, ds))  # BlockGroup+duration path
    known = build_mkv(tracks, {3: packets})
    unknown = build_mkv(tracks, {3: packets}, unknown_size_clusters=True)
    assert unknown != known
    assert mkv_pgs_packets(unknown) == mkv_pgs_packets(known) == packets
    assert decode_media_payload(unknown) == decode_media_payload(known)
