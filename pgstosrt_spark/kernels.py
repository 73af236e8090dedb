"""Arrow-vectorized extraction kernels (SURVEY.md §2 K-parse/K-decode/K-ocr).

All kernels are ``mapInPandas`` batch iterators — Arrow transfer in, Arrow
out, no row-at-a-time Python UDFs.  Each media payload is one self-contained
PGS stream, so the sequential display-set state machine (the part Catalyst
cannot express, SURVEY.md §2.3 A1) runs per payload *inside* the kernel
while Spark parallelizes across payloads; pixel/byte work is numpy.

Two physical strategies (pipeline.py picks):
  * fused     — one kernel does parse -> merge -> decode -> OCR.  No extra
                shuffle; right when payload sizes are uniform.
  * two-phase — kernel A does the cheap, inherently-sequential byte walk
                (parse+assemble+merge) and emits per-composition rows;
                after a hash rebalance on (doc_id, offset, seq) — NOT
                round-robin, which would local-sort the pickled binaries
                (pipeline.py two_phase) — kernel B does the expensive
                decode+OCR per composition.  Right for skew: one monster
                payload fans out to many tasks (SURVEY.md §4.3.1).

Error policy: the reference silently drops failing items
(PgsOcr.cs:103-106); these kernels never stay silent — every failure emits
a ``kind='_error'`` row and every payload a ``kind='_metric'`` row (JSON
counters), which the pipeline routes to a metrics side-channel.  The fused
kernel emits one ``_error`` row per composition its decode drops, with that
composition's ``seq``, as the two-phase OCR kernel does.

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


def _error_text(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"


def make_fused_kernel(
    backend: OcrBackend | None = None,
    skip_merge: bool = False,
    force_merge_all: bool = False,
    multi_object_opacity_fix: bool = False,
):
    """Fused K-parse∘K-decode∘K-ocr over (doc_id, offset, media_ref, payload)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        _stamp_checked_zip_invalidation()
        tc = TaskContext.get()
        part = tc.partitionId() if tc is not None else -1
        ocr = backend or GlyphAtlasOcr()
        for pdf in batches:
            # column-list accumulation + .tolist() iteration: pandas Series
            # item access and list-of-dicts DataFrame construction cost
            # ~20% of the whole kernel at scale; plain python lists don't
            c_doc: list = []
            c_off: list = []
            c_seq: list = []
            c_kind: list = []
            c_text: list = []
            c_ref: list = []
            for doc_id, offset, media_ref, payload in zip(
                pdf["doc_id"].tolist(),
                pdf["offset"].tolist(),
                pdf["media_ref"].tolist(),
                pdf["payload"].tolist(),
            ):
                offset = int(offset)
                t0 = time.perf_counter()
                # buffer this payload's (seq, kind, text) rows locally and
                # flush to the column lists only after try/except resolves —
                # a mid-append exception must never leave the six lists
                # misaligned (that would kill the task instead of emitting
                # an _error row)
                out_rows: list[tuple[int, str, str]] = []
                dropped: list = []
                try:
                    cues = decode_media_payload(
                        bytes(payload),
                        backend=ocr,
                        skip_merge=skip_merge,
                        force_merge_all=force_merge_all,
                        multi_object_opacity_fix=multi_object_opacity_fix,
                        errors=dropped,
                    )
                    for seq, text in cues:
                        out_rows.append((seq, "cue", text))
                    for seq, exc in dropped:
                        out_rows.append((seq, "_error", _error_text(exc)))
                    out_rows.append(
                        (
                            0,
                            "_metric",
                            json.dumps(
                                {
                                    "bytes": len(payload),
                                    "cues": len(cues),
                                    # task partition id: per-partition
                                    # lineage — which physical partition
                                    # produced each span's metrics
                                    # (north_rule)
                                    "part": part,
                                    "wall_ms": round(
                                        (time.perf_counter() - t0) * 1e3, 3
                                    ),
                                },
                                sort_keys=True,
                            ),
                        )
                    )
                except Exception as exc:  # never silent (vs PgsOcr.cs:103-106)
                    out_rows = [(0, "_error", _error_text(exc))]
                for seq, kind, text in out_rows:
                    c_doc.append(doc_id)
                    c_off.append(offset)
                    c_seq.append(seq)
                    c_kind.append(kind)
                    c_text.append(text)
                    c_ref.append(media_ref)
            yield pd.DataFrame(
                {
                    "doc_id": c_doc,
                    "offset": c_off,
                    "seq": c_seq,
                    "kind": c_kind,
                    "text": c_text,
                    "media_ref": c_ref,
                }
            )

    return kernel


def make_parse_kernel(skip_merge: bool = False, force_merge_all: bool = False):
    """Two-phase kernel A: payload -> per-composition rows (cheap byte walk).

    Emits one ``kind='comp'`` row per merged display set with the PcsData
    pickled into a binary cell; decode+OCR happen downstream after a
    rebalance, so a single skewed payload spreads across the cluster.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        _stamp_checked_zip_invalidation()
        tc = TaskContext.get()
        part = tc.partitionId() if tc is not None else -1
        for pdf in batches:
            rows: list[dict] = []
            for doc_id, offset, media_ref, payload in zip(
                pdf["doc_id"], pdf["offset"], pdf["media_ref"], pdf["payload"]
            ):
                t0 = time.perf_counter()
                try:
                    sets = decode_to_display_sets(
                        bytes(payload), skip_merge=skip_merge, force_merge_all=force_merge_all
                    )
                    for i, pcs in enumerate(sets):
                        rows.append(
                            {
                                "doc_id": doc_id,
                                "offset": int(offset),
                                "seq": i + 1,
                                "kind": "comp",
                                "media_ref": media_ref,
                                "pcs": pickle.dumps(pcs, protocol=pickle.HIGHEST_PROTOCOL),
                                "info": "",
                            }
                        )
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "offset": int(offset),
                            "seq": 0,
                            "kind": "_metric",
                            "media_ref": media_ref,
                            "pcs": None,
                            "info": json.dumps(
                                {
                                    "comps": len(sets),
                                    "bytes": len(payload),
                                    "parse_ms": round((time.perf_counter() - t0) * 1e3, 3),
                                    "part": part,
                                },
                                sort_keys=True,
                            ),
                        }
                    )
                except Exception as exc:
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "offset": int(offset),
                            "seq": 0,
                            "kind": "_error",
                            "media_ref": media_ref,
                            "pcs": None,
                            "info": _error_text(exc),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "offset", "seq", "kind", "media_ref", "pcs", "info"],
            )

    return kernel


def make_ocr_kernel(
    backend: OcrBackend | None = None, multi_object_opacity_fix: bool = False
):
    """Two-phase kernel B: composition rows -> cue rows (decode + OCR).

    Non-``comp`` rows (the parse kernel's ``_metric``/``_error`` side
    channel) pass through unchanged, ``info`` re-labelled as ``text``.
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
            c_doc: list = []
            c_off: list = []
            c_seq: list = []
            c_kind: list = []
            c_text: list = []
            c_ref: list = []
            for doc_id, offset, seq, in_kind, media_ref, blob, info in zip(
                pdf["doc_id"].tolist(),
                pdf["offset"].tolist(),
                pdf["seq"].tolist(),
                pdf["kind"].tolist(),
                pdf["media_ref"].tolist(),
                pdf["pcs"].tolist(),
                pdf["info"].tolist(),
            ):
                if in_kind != "comp":  # side-channel pass-through
                    kind, out = in_kind, info
                else:
                    try:
                        pcs: PcsData = pickle.loads(bytes(blob))
                        img = rasterize(
                            pcs,
                            multi_object_opacity_fix=multi_object_opacity_fix,
                            mask=mask,
                        )
                        text = ocr.recognize(img)
                        kind, out = "cue", cue_text(pcs.start, pcs.end, text)
                    except Exception as exc:
                        kind, out = "_error", _error_text(exc)
                c_doc.append(doc_id)
                c_off.append(int(offset))
                c_seq.append(int(seq))
                c_kind.append(kind)
                c_text.append(out)
                c_ref.append(media_ref)
            yield pd.DataFrame(
                {
                    "doc_id": c_doc,
                    "offset": c_off,
                    "seq": c_seq,
                    "kind": c_kind,
                    "text": c_text,
                    "media_ref": c_ref,
                }
            )

    return kernel
