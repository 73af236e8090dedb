"""Arrow-vectorized extraction kernels (SURVEY.md §2 K-parse/K-decode/K-ocr).

All kernels are ``mapInPandas`` batch iterators — Arrow transfer in, Arrow
out, no row-at-a-time Python UDFs.  Each media payload is one self-contained
PGS stream, so the sequential display-set state machine (the part Catalyst
cannot express, SURVEY.md §2.3 A1) runs per payload *inside* the kernel
while Spark parallelizes across payloads; pixel/byte work is numpy.

Two physical strategies (``pipeline.extract``'s ``mode`` picks):
  * fused     — one kernel does parse -> merge -> decode -> OCR.  No extra
                shuffle; right when payload sizes are uniform.
  * two-phase — kernel A does the cheap, inherently-sequential byte walk
                (parse+assemble+merge) and emits per-composition rows;
                after a hash rebalance on (doc_id, offset, seq) — NOT
                round-robin, which would local-sort the pickled binaries
                (pipeline.py two_phase) — kernel B does the expensive
                decode+OCR per composition.  Right for skew: one monster
                payload fans out to many tasks (SURVEY.md §4.3.1).

Input contract: the fused and parse kernels take the pipeline's span rows
``(doc_id, offset, kind, media_ref, text, payload)``.  Only ``kind='media'``
rows are decoded; every other row — text spans, unknown kinds, the
null-kind row of a document without spans — passes through unchanged as
one row with ``seq=0`` and its kind, text (the parse kernel carries it in
``info``) and media_ref.  The OCR kernel passes every non-``comp`` row
through the same way, so text rides the one Python stage with the media
and the plan needs no second branch or scan to bring it back.

The kernels take no decode switches: they decode with the reference's
defaults (duplicate merge on, the multi-object opacity quirk replicated).
``skip_merge``, ``force_merge_all`` and ``multi_object_opacity_fix`` remain
parameters of ``pgs.decode``/``pgs.merge``/``pgs.compose``, where they
document the reference semantics.

Error policy: the reference silently drops failing items
(PgsOcr.cs:103-106); these kernels never stay silent — every failure emits
a ``kind='_error'`` row and every payload a ``kind='_metric'`` row (JSON
counters), which the pipeline routes to a metrics side-channel.  The fused
kernel emits one ``_error`` row per composition its decode drops, with that
composition's ``seq``, as the two-phase OCR kernel does.  A media row with
a null ``offset`` becomes one ``_error`` row (``seq`` 0, null offset) in
both plans.

Every kernel body first calls :func:`_stamp_checked_zip_invalidation`:
pyspark's worker calls ``importlib.invalidate_caches()`` before each task,
which on CPython < 3.13 re-reads every zipimported archive (``pyspark.zip``,
``--py-files``) — a fixed ~0.25 CPU-s per task that the helper removes.
"""

from __future__ import annotations

import functools
import json
import os
import pickle
import sys
import time
import zipimport
from collections.abc import Iterator

import pandas as pd

from .pgs.decode import decode_media_payload, decode_to_display_sets
from .pgs.model import PcsData
from .pgs.ocr import GlyphAtlasOcr, OcrBackend, wants_mask
from .pgs.srt import cue_text

CUE_SCHEMA = (
    "doc_id string, offset int, seq int, kind string, text string, media_ref string"
)

COMP_SCHEMA = (
    "doc_id string, offset int, seq int, kind string, media_ref string, pcs binary, info string"
)


def _stamp_checked_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` skip re-reading unchanged zips.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task (``worker_util.setup_spark_files``).  CPython before 3.13
    answers that eagerly: each ``zipimporter`` re-reads its archive's whole
    central directory (3.11.7 and 3.12.1 do; 3.13.0 only pops the directory
    cache and reads lazily).  A worker holds ~16 importers over
    ``pyspark.zip`` (1,328 entries), so every task paid ~0.25 CPU-s.

    Once per process this wraps the method: an importer re-reads its
    archive only when the archive's ``os.stat`` stamp ``(st_mtime_ns,
    st_size, st_ino)`` differs from the stamp taken when *that importer*
    last read it, so a zip rewritten or replaced mid-job (``--py-files``)
    is still re-read.  If the stat fails, the original method runs.
    Idempotent; a no-op on Python >= 3.13.
    """
    if sys.version_info >= (3, 13):
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stamp_checked", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self.__dict__.pop("_dir_stamp", None)
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        if self.__dict__.get("_dir_stamp") != stamp:
            original(self)
            self._dir_stamp = stamp

    invalidate_caches._stamp_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# A media span without an offset cannot be placed in its document: the
# file read does not enforce DOCUMENTS_SCHEMA's NOT NULL, so it becomes one
# _error row (seq 0, null offset) and the rest of its document survives.
NULL_OFFSET_ERROR = "ValueError: media span has a null offset"


def _error_text(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"


def _frame(rows: list[tuple], schema: str) -> pd.DataFrame:
    """Row tuples -> the output batch of a kernel declared with ``schema``.
    Tuples and ``from_records``, not dicts: list-of-dicts construction and
    Series item access cost ~20% of the whole kernel at scale."""
    return pd.DataFrame.from_records(
        rows, columns=[field.split()[0] for field in schema.split(",")]
    )


def make_fused_kernel(backend: OcrBackend | None = None):
    """Fused K-parse∘K-decode∘K-ocr over span rows (doc_id, offset, kind,
    media_ref, text, payload); non-media rows pass through."""

    def payload_rows(payload, ocr: OcrBackend, part: int) -> list[tuple[int, str, str]]:
        """One media payload -> its (seq, kind, text) rows: cues, one
        ``_error`` per dropped composition and a ``_metric`` row — or a
        single ``_error`` row if the payload fails as a whole (no partial
        rows: an exception must become an ``_error`` row, never a dead
        task)."""
        t0 = time.perf_counter()
        dropped: list = []
        try:
            cues = decode_media_payload(bytes(payload), backend=ocr, errors=dropped)
            rows = [(seq, "cue", text) for seq, text in cues]
            rows += [(seq, "_error", _error_text(exc)) for seq, exc in dropped]
            metric = {
                "bytes": len(payload),
                "cues": len(cues),
                # task partition id: per-partition lineage — which physical
                # partition produced each span's metrics (north_rule)
                "part": part,
                "wall_ms": round((time.perf_counter() - t0) * 1e3, 3),
            }
            rows.append((0, "_metric", json.dumps(metric, sort_keys=True)))
            return rows
        except Exception as exc:  # never silent (vs PgsOcr.cs:103-106)
            return [(0, "_error", _error_text(exc))]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        _stamp_checked_zip_invalidation()
        tc = TaskContext.get()
        part = tc.partitionId() if tc is not None else -1
        ocr = backend or GlyphAtlasOcr()
        for pdf in batches:
            out: list[tuple] = []
            for doc_id, offset, kind, media_ref, text, payload in zip(
                pdf["doc_id"].tolist(),
                pdf["offset"].tolist(),
                pdf["kind"].tolist(),
                pdf["media_ref"].tolist(),
                pdf["text"].tolist(),
                pdf["payload"].tolist(),
            ):
                if kind != "media":  # text and every other row pass through
                    out.append((doc_id, offset, 0, kind, text, media_ref))
                    continue
                if pd.isna(offset):
                    out.append((doc_id, None, 0, "_error", NULL_OFFSET_ERROR, media_ref))
                    continue
                offset = int(offset)
                out += [
                    (doc_id, offset, seq, k, t, media_ref)
                    for seq, k, t in payload_rows(payload, ocr, part)
                ]
            yield _frame(out, CUE_SCHEMA)

    return kernel


def make_parse_kernel():
    """Two-phase kernel A: payload -> per-composition rows (cheap byte walk).

    Emits one ``kind='comp'`` row per merged display set with the PcsData
    pickled into a binary cell; decode+OCR happen downstream after a
    rebalance, so a single skewed payload spreads across the cluster.
    Non-media rows pass through with ``seq`` 0, their text in ``info``.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        _stamp_checked_zip_invalidation()
        tc = TaskContext.get()
        part = tc.partitionId() if tc is not None else -1
        for pdf in batches:
            out: list[tuple] = []
            for doc_id, offset, kind, media_ref, text, payload in zip(
                pdf["doc_id"].tolist(),
                pdf["offset"].tolist(),
                pdf["kind"].tolist(),
                pdf["media_ref"].tolist(),
                pdf["text"].tolist(),
                pdf["payload"].tolist(),
            ):
                if kind != "media":  # text and every other row pass through
                    out.append((doc_id, offset, 0, kind, media_ref, None, text))
                    continue
                if pd.isna(offset):
                    out.append((doc_id, None, 0, "_error", media_ref, None, NULL_OFFSET_ERROR))
                    continue
                offset = int(offset)
                t0 = time.perf_counter()
                try:
                    sets = decode_to_display_sets(bytes(payload))
                    blobs = [pickle.dumps(p, protocol=pickle.HIGHEST_PROTOCOL) for p in sets]
                    metric = {
                        "comps": len(sets),
                        "bytes": len(payload),
                        "parse_ms": round((time.perf_counter() - t0) * 1e3, 3),
                        "part": part,
                    }
                    out += [
                        (doc_id, offset, seq, "comp", media_ref, blob, "")
                        for seq, blob in enumerate(blobs, 1)
                    ]
                    info = json.dumps(metric, sort_keys=True)
                    out.append((doc_id, offset, 0, "_metric", media_ref, None, info))
                except Exception as exc:
                    info = _error_text(exc)
                    out.append((doc_id, offset, 0, "_error", media_ref, None, info))
            yield _frame(out, COMP_SCHEMA)

    return kernel


def make_ocr_kernel(backend: OcrBackend | None = None):
    """Two-phase kernel B: composition rows -> cue rows (decode + OCR).

    Non-``comp`` rows (the parse kernel's ``_metric``/``_error`` side
    channel and its pass-through rows) pass through unchanged, ``info``
    re-labelled as ``text``.
    Routing them through this kernel instead of a separate filter branch
    means the expensive parse kernel executes exactly once — a second
    uncached branch would re-parse every payload (round-1 bench showed
    that costing a full extra 128-task parse stage)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .pgs.compose import rasterize

        _stamp_checked_zip_invalidation()
        ocr = backend or GlyphAtlasOcr()
        mask = wants_mask(ocr)
        for pdf in batches:
            out: list[tuple] = []
            for doc_id, offset, seq, kind, media_ref, blob, text in zip(
                pdf["doc_id"].tolist(),
                pdf["offset"].tolist(),
                pdf["seq"].tolist(),
                pdf["kind"].tolist(),
                pdf["media_ref"].tolist(),
                pdf["pcs"].tolist(),
                pdf["info"].tolist(),
            ):
                if kind == "comp":  # every other row passes through
                    try:
                        pcs: PcsData = pickle.loads(bytes(blob))
                        img = rasterize(pcs, mask=mask)
                        kind, text = "cue", cue_text(pcs.start, pcs.end, ocr.recognize(img))
                    except Exception as exc:
                        kind, text = "_error", _error_text(exc)
                out.append((doc_id, offset, seq, kind, text, media_ref))
            yield _frame(out, CUE_SCHEMA)

    return kernel
