"""Interleaved-documents corpus synthesis (deterministic, no external data).

Builds tables of the authoritative shape (BASELINE.json ``input_hint``)

    documents(doc_id, spans: array<struct<kind,text,media_ref,offset>>)

from plain text (the driver's ``documents`` table supplies the words).
Each doc interleaves prose text spans with media spans whose payloads are
encoder-built PGS streams of the doc's own words; a deterministic variant
(``CAST(doc_id AS BIGINT) % 7`` for numeric ids — SQL-expressible so the
DuckDB twin can recompute it, VERDICT r4 item 1; crc32 fallback for
non-numeric ids) rotates through the fixture classes — plain SUP,
multi-fragment ODS, long-form RLE, Matroska-style packets, duplicate
chains, multi-object compositions, real EBML/Matroska containers — so
every decode path (including the S2 demux) is exercised at corpus scale.  Expected outputs come from the pure-Python oracle
(pgs/decode.py), never hand-derived.
"""

from __future__ import annotations

import base64
import zlib

import pandas as pd
from pyspark.sql import functions as F

from ..pgs.decode import decode_media_payload, pack_mkv_packets
from ..pgs.glyphs import atlas
from . import encoder as enc

__all__ = [
    "normalize_for_atlas",
    "doc_to_span_rows",
    "expected_extracted_rows",
    "corpus_kernel",
    "synthesize_documents",
    "synthesize_skewed_documents",
]

_ATLAS_CHARS = None

N_VARIANTS = 7
_TICK_500MS = 45_000


def variant_of(doc_id: str) -> int:
    """Fixture-class variant for one doc.

    Numeric doc_ids (the driver corpus) key on ``int(doc_id) % 7`` — the
    same value DuckDB computes as ``CAST(doc_id AS BIGINT) % 7`` — so the
    ``extract_interleaved`` oracle twin can re-derive which encoding class
    each payload uses (only negative ids would diverge: Python ``%`` is
    always non-negative, SQL ``%`` keeps the sign; driver ids are >= 0).
    Non-numeric ids keep the crc32 key (rows-only paths, unit fixtures).
    """
    if doc_id.isdigit():
        return int(doc_id) % N_VARIANTS
    return zlib.crc32(doc_id.encode()) % N_VARIANTS


def normalize_for_atlas(text: str) -> str:
    global _ATLAS_CHARS
    if _ATLAS_CHARS is None:
        _ATLAS_CHARS = set(atlas().keys()) | {" "}
    up = text.upper()
    return " ".join("".join(c for c in up if c in _ATLAS_CHARS).split())


def _cue_texts(text: str, max_cues: int = 6, words_per_cue: int = 4) -> list[str]:
    words = normalize_for_atlas(text).split()
    if not words:
        return ["EMPTY"]
    cues = [
        " ".join(words[i : i + words_per_cue])
        for i in range(0, len(words), words_per_cue)
    ]
    return cues[:max_cues]


def _timed(cues: list[str], base: int = 90_000) -> list[tuple[str, int, int]]:
    out = []
    t = base
    for c in cues:
        out.append((c, t, t + _TICK_500MS))
        t += 2 * _TICK_500MS
    return out


def _media_payload(cues: list[str], variant: int) -> bytes:
    """Encode cue texts into one media payload per the variant's class."""
    timed = _timed(cues)
    if variant == 1:  # F03 multi-fragment ODS
        return enc.build_sup_from_cues(timed, fragment_count=3)
    if variant == 2:  # F02 long-form RLE opcodes
        return enc.build_sup_from_cues(timed, force_long_rle=True)
    if variant == 3:  # F12 Matroska-style packets, container timing
        packets = []
        for i, (text, start, end) in enumerate(timed):
            ds = enc.build_display_set(text, 0, i, mkv=True, state=0x80)
            packets.append((start // 90, end // 90, ds))
        return pack_mkv_packets(packets)
    if variant == 4:  # F07 duplicate chains: 3 chains x 3 re-sends
        dup: list[tuple[str, int, int]] = []
        t = 90_000
        for text, _s, _e in timed[:3] or [("DUP", 0, 0)]:
            for _ in range(3):
                dup.append((text, t, t + 900))
                t += 900
            t += 90_000
        return enc.build_sup_from_cues(dup)
    if variant == 5:  # F06 multi-object composition (opacity quirk)
        text, start, end = timed[0]
        head = enc.build_sup_from_cues(
            [(text, start, end)], extra_objects=[("ALT", (800, 900), 1)]
        )
        return head + enc.build_sup_from_cues(timed[1:]) if len(timed) > 1 else head
    if variant == 6:  # S2: real EBML/Matroska container (pgs/ebml.py demux)
        packets = []
        for i, (text, start, end) in enumerate(timed):
            ds = enc.build_display_set(text, 0, i, mkv=True, state=0x80)
            packets.append((start // 90, end // 90, ds))
        return enc.build_mkv(
            tracks=[(3, "S_HDMV/PGS", "eng", False)], packets_by_track={3: packets}
        )
    return enc.build_sup_from_cues(timed)  # F01 plain .sup


def doc_to_span_rows(doc_id: str, text: str) -> list[dict]:
    """One source doc -> interleaved span dicts (media text = base64)."""
    variant = variant_of(doc_id)
    cues = _cue_texts(text)
    half = max(len(cues) // 2, 1)
    words = text.split()
    mid = max(len(words) // 2, 1)
    spans = [
        {"kind": "text", "text": " ".join(words[:mid]), "media_ref": "", "offset": 0},
        {
            "kind": "media",
            "text": base64.b64encode(_media_payload(cues[:half], variant)).decode(),
            "media_ref": f"pgs://{doc_id}/0",
            "offset": 1,
        },
        {"kind": "text", "text": " ".join(words[mid:]), "media_ref": "", "offset": 2},
    ]
    if len(cues) > half:
        spans.append(
            {
                "kind": "media",
                "text": base64.b64encode(
                    _media_payload(cues[half:], (variant + 1) % N_VARIANTS)
                ).decode(),
                "media_ref": f"pgs://{doc_id}/1",
                "offset": 3,
            }
        )
    return spans


def expected_extracted_rows(doc_id: str, text: str) -> list[dict]:
    """Oracle-computed expected output spans for one doc (FIXTURES.md §2)."""
    out: list[dict] = []
    for span in doc_to_span_rows(doc_id, text):
        if span["kind"] == "text":
            out.append(span)
        else:
            payload = base64.b64decode(span["text"])
            for _seq, cue in decode_media_payload(payload):
                out.append(
                    {
                        "kind": "cue",
                        "text": cue,
                        "media_ref": span["media_ref"],
                        "offset": span["offset"],
                    }
                )
    return out


def corpus_kernel(batches):
    """mapInPandas kernel: (doc_id, text) -> interleaved documents rows."""
    for pdf in batches:
        rows = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            rows.append({"doc_id": str(doc_id), "spans": doc_to_span_rows(str(doc_id), text)})
        yield pd.DataFrame(rows)


def _skew_span(doc_id: str, idx: int, n_cues: int) -> dict:
    """One media span with ``n_cues`` deterministic cues (text varies per
    cue so dup-merge cannot collapse the work)."""
    cues = [f"SKEW {doc_id[-6:]} S{idx} C{j}" for j in range(n_cues)]
    return {
        "kind": "media",
        "text": base64.b64encode(enc.build_sup_from_cues(_timed(cues))).decode(),
        "media_ref": f"pgs://{doc_id}/{idx}",
        "offset": idx,
    }


def synthesize_skewed_documents(
    spark,
    n_wide_spans: int = 1000,
    n_monster_docs: int = 8,
    monster_cues: int = 12_000,
    wide_cues: int = 4,
):
    """The north_rule's skew shapes, deterministic and self-contained:

      * ONE document with ``n_wide_spans`` small media spans — doc-level
        skew: the final groupBy(doc_id) folds 10^3 spans into one row;
      * ``n_monster_docs`` documents of ONE multi-MB media span each
        (``monster_cues`` compositions, ~400 B/display-set -> ~5 MB of
        payload): span-level skew, where the kernel pins one task per
        payload for the whole decode+OCR (SURVEY.md §4.3.1).

    Payloads are encoder-built on executors (one task per monster doc /
    wide-span slice), never on the driver.
    """
    import pyspark.sql.functions as _F

    wide_slices = 32  # build the wide doc's 1000 spans across tasks
    spec = [("monster", i, 0, 0) for i in range(n_monster_docs)] + [
        ("wide", 0, s, wide_slices) for s in range(wide_slices)
    ]
    spec_df = spark.createDataFrame(
        spec, "shape string, idx int, slice int, n_slices int"
    ).repartition(len(spec))

    per_slice = n_wide_spans // wide_slices

    def kernel(batches):
        for pdf in batches:
            rows = []
            for shape, idx, sl, _n in zip(
                pdf["shape"], pdf["idx"], pdf["slice"], pdf["n_slices"]
            ):
                if shape == "monster":
                    doc_id = f"skew-monster-{idx}"
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "spans": [_skew_span(doc_id, 0, monster_cues)],
                        }
                    )
                else:  # one slice of the wide doc's span list
                    doc_id = "skew-wide-0"
                    spans = [
                        _skew_span(doc_id, sl * per_slice + k, wide_cues)
                        for k in range(per_slice)
                    ]
                    rows.append({"doc_id": f"_slice:{doc_id}:{sl}", "spans": spans})
            yield pd.DataFrame(rows)

    from ..sources.tables import DOCUMENTS_SCHEMA

    built = spec_df.mapInPandas(kernel, schema=DOCUMENTS_SCHEMA)
    # fold the wide doc's slices into the single skewed document
    return (
        built.withColumn(
            "doc_id",
            _F.when(
                _F.col("doc_id").startswith("_slice:"),
                _F.split("doc_id", ":").getItem(1),
            ).otherwise(_F.col("doc_id")),
        )
        .select("doc_id", _F.explode("spans").alias("span"))
        .groupBy("doc_id")
        .agg(
            _F.transform(
                _F.array_sort(
                    _F.collect_list(
                        _F.struct(
                            _F.col("span.offset").alias("offset"),
                            _F.col("span.kind").alias("kind"),
                            _F.col("span.text").alias("text"),
                            _F.col("span.media_ref").alias("media_ref"),
                        )
                    )
                ),
                lambda s: _F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans")
        )
    )


def synthesize_documents(spark, sf_dir: str):
    """Driver ``documents`` table -> interleaved corpus DataFrame."""
    from ..sources.tables import DOCUMENTS_SCHEMA

    src = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    slots = spark.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < slots:
        # hash, not round-robin: plain repartition(n) local-sorts rows first
        # (sortBeforeRepartition); doc_id is unique so buckets stay balanced
        src = src.repartition(slots, F.col("doc_id"))  # CPU-bound kernel
    return src.mapInPandas(corpus_kernel, schema=DOCUMENTS_SCHEMA)
