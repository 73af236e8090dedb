"""The Arrow-vectorized extraction kernel (SURVEY.md §2 K-parse/K-decode/K-ocr).

One ``mapInPandas`` batch iterator — Arrow transfer in, Arrow out, no
row-at-a-time Python UDFs.  Each media payload is one self-contained PGS
stream, so the sequential display-set state machine (the part Catalyst
cannot express, SURVEY.md §2.3 A1) runs per payload *inside* the kernel
while Spark parallelizes across payloads; pixel/byte work is numpy.  The
kernel does parse -> merge -> decode -> OCR in one pass by calling the
oracle itself (``pgs.decode.decode_media_payload``) once per payload.

Input contract: the kernel takes the pipeline's span rows ``(doc_id,
offset, kind, media_ref, text, payload)``.  Only ``kind='media'`` rows are
decoded; every other row — text spans, unknown kinds, the null-kind row of
a document without spans — passes through unchanged as one row with
``seq=0`` and its kind, text and media_ref, so text rides the one Python
stage with the media and the plan needs no second branch or scan to bring
it back.

The kernel takes no decode switches: it decodes with the reference's
defaults (duplicate merge on, the multi-object opacity quirk replicated).
``skip_merge``, ``force_merge_all`` and ``multi_object_opacity_fix`` remain
parameters of ``pgs.decode``/``pgs.merge``/``pgs.compose``, where they
document the reference semantics.

Error policy: the reference silently drops failing items
(PgsOcr.cs:103-106); this kernel never stays silent.  A payload that fails
as a whole becomes one ``_error`` row (``seq`` 0); a composition the decode
drops becomes one ``_error`` row with its ``seq``; a media row with a null
``offset`` becomes one ``_error`` row (``seq`` 0, null offset).  The
pipeline routes these rows to a metrics side channel.

Metric record: every parsed payload gives one ``kind='_metric'`` row
(``seq`` 0) whose text is the JSON object of ``METRIC_SCHEMA`` — ``bytes``
(payload size), ``comps`` (merged display sets; each ends as exactly one
cue or one ``_error`` row), ``part`` (the task's partition id) and
``wall_ms``, the payload's time in the kernel: parse, decode and OCR.

The kernel body first calls two helpers, one per fixed cost that
pyspark puts on each task of a Python worker:
  * :func:`_stamp_checked_zip_invalidation` — the worker calls
    ``importlib.invalidate_caches()`` before each task, which on CPython
    < 3.13 re-reads every zipimported archive (``pyspark.zip``,
    ``--py-files``): ~0.25 CPU-s per task;
  * :func:`_freeze_import_heap` — the daemon runs ``gc.collect()`` after
    each task of a reused worker, a full collection over the ~73.6k objects
    the worker's imports leave tracked: ~20–30 ms of CPU per task.
"""

from __future__ import annotations

import functools
import gc
import json
import os
import sys
import time
import zipimport
from collections.abc import Iterator

import pandas as pd

from .pgs.decode import decode_media_payload
from .pgs.ocr import OcrBackend

CUE_SCHEMA = (
    "doc_id string, offset int, seq int, kind string, text string, media_ref string"
)

METRIC_SCHEMA = "bytes long, comps long, part int, wall_ms double"


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


def _freeze_import_heap() -> None:
    """Move the worker's import-time heap out of the cyclic GC's reach.

    pyspark's daemon runs ``gc.collect()`` after every task of a reused
    worker (``pyspark/daemon.py``).  A full collection walks every tracked
    object, and the ~73.6k that the worker's imports (pandas, pyarrow,
    numpy, pyspark, this package) leave behind made it cost ~20–30 ms of
    CPU per task.  ``gc.freeze()`` moves them to the permanent generation,
    which collections skip (then ~0.001 ms); objects made by later tasks
    are collected as before.  Once per process: freezing again would also
    pin whatever the previous task left, so once the permanent generation
    is non-empty later calls are no-ops.
    """
    if not gc.get_freeze_count():
        gc.freeze()


# A media span without an offset cannot be placed in its document: the
# file read does not enforce DOCUMENTS_SCHEMA's NOT NULL, so it becomes one
# _error row (seq 0, null offset) and the rest of its document survives.
NULL_OFFSET_ERROR = "ValueError: media span has a null offset"


def _error_text(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"


def _columns(schema: str) -> list[str]:
    return [field.split()[0] for field in schema.split(",")]


def _frame(rows: list[tuple]) -> pd.DataFrame:
    """Row tuples -> the kernel's ``CUE_SCHEMA`` output batch.  Tuples and
    ``from_records``, not dicts: list-of-dicts construction and Series item
    access cost ~20% of the whole kernel at scale."""
    return pd.DataFrame.from_records(rows, columns=_columns(CUE_SCHEMA))


def _metric(payload: bytes, comps: int, part: int, t0: float) -> str:
    """The one ``_metric`` record of a parsed payload, as JSON text with the
    fields of ``METRIC_SCHEMA``; ``wall_ms`` is the time since ``t0``."""
    wall_ms = round((time.perf_counter() - t0) * 1e3, 3)
    values = (len(payload), comps, part, wall_ms)
    return json.dumps(dict(zip(_columns(METRIC_SCHEMA), values)), sort_keys=True)


def _media_rows(payload: bytes, part: int, backend: OcrBackend | None) -> list[tuple]:
    """One media payload -> its ``(seq, kind, text)`` rows: its cues, one
    ``_error`` row per dropped composition, then its ``_metric`` row."""
    t0 = time.perf_counter()
    dropped: list = []
    cues = decode_media_payload(payload, backend=backend, errors=dropped)
    rows = [(seq, "cue", text) for seq, text in cues]
    rows += [(seq, "_error", _error_text(exc)) for seq, exc in dropped]
    rows.append((0, "_metric", _metric(payload, len(rows), part, t0)))
    return rows


def make_fused_kernel(backend: OcrBackend | None = None):
    """The extraction kernel, K-parse∘K-decode∘K-ocr over span rows
    ``(doc_id, offset, kind, media_ref, text, payload)``: non-media rows
    pass through with ``seq`` 0, a null-offset media row becomes one
    ``_error`` row, and each other media row becomes its cue, ``_error``
    and ``_metric`` rows — or, if its decode raises anything, one seq-0
    ``_error`` row (an exception must become an ``_error`` row, never a
    dead task)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        _stamp_checked_zip_invalidation()
        _freeze_import_heap()
        tc = TaskContext.get()
        # task partition id: per-partition lineage — which physical
        # partition produced each span's metrics (north_rule)
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
                    out.append((doc_id, offset, 0, kind, text, media_ref))
                    continue
                if pd.isna(offset):
                    out.append((doc_id, None, 0, "_error", NULL_OFFSET_ERROR, media_ref))
                    continue
                offset = int(offset)
                try:
                    rows = _media_rows(bytes(payload), part, backend)
                except Exception as exc:  # never silent (vs PgsOcr.cs:103-106)
                    rows = [(0, "_error", _error_text(exc))]
                out += [(doc_id, offset, seq, k, t, media_ref) for seq, k, t in rows]
            yield _frame(out)

    return kernel
