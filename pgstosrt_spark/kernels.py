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

One code path: the fused and parse kernels are the same row loop
(:func:`_span_kernel`) and differ only in what one media payload becomes;
the OCR kernel runs the oracle's own composition step
(``pgs.decode.display_sets_to_cue_rows``) on one composition at a time.

Input contract: the fused and parse kernels take the pipeline's span rows
``(doc_id, offset, kind, media_ref, text, payload)``.  Only ``kind='media'``
rows are decoded; every other row — text spans, unknown kinds, the
null-kind row of a document without spans — passes through unchanged as
one row with ``seq=0`` and its kind, text and media_ref.  The parse kernel
writes ``COMP_SCHEMA`` rows (``CUE_SCHEMA`` plus the pickled composition in
``pcs``, null on every other row); the OCR kernel turns each ``comp`` row
into a cue or an ``_error`` row and passes every other row through, so text
rides the one Python stage with the media and the plan needs no second
branch or scan to bring it back.

The kernels take no decode switches: they decode with the reference's
defaults (duplicate merge on, the multi-object opacity quirk replicated).
``skip_merge``, ``force_merge_all`` and ``multi_object_opacity_fix`` remain
parameters of ``pgs.decode``/``pgs.merge``/``pgs.compose``, where they
document the reference semantics.

Error policy: the reference silently drops failing items
(PgsOcr.cs:103-106); these kernels never stay silent.  A payload that fails
as a whole becomes one ``_error`` row (``seq`` 0); a composition the decode
drops becomes one ``_error`` row with its ``seq``, in both plans; a media
row with a null ``offset`` becomes one ``_error`` row (``seq`` 0, null
offset).  The pipeline routes these rows to a metrics side channel.

Metric record: every parsed payload gives one ``kind='_metric'`` row
(``seq`` 0) whose text is the JSON object of ``METRIC_SCHEMA`` — ``bytes``
(payload size), ``comps`` (merged display sets; each ends as exactly one
cue or one ``_error`` row), ``part`` (the task's partition id) and
``wall_ms``, the payload's time in the kernel that parsed it: parse,
decode and OCR in the fused plan, parse alone in the two-phase plan.

Every kernel body first calls two helpers, one per fixed cost that
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
import pickle
import sys
import time
import zipimport
from collections.abc import Callable, Iterator

import pandas as pd

from .pgs.decode import decode_media_payload, decode_to_display_sets, display_sets_to_cue_rows
from .pgs.ocr import OcrBackend

CUE_SCHEMA = (
    "doc_id string, offset int, seq int, kind string, text string, media_ref string"
)

COMP_SCHEMA = CUE_SCHEMA + ", pcs binary"

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


def _frame(rows: list[tuple], schema: str) -> pd.DataFrame:
    """Row tuples -> the output batch of a kernel declared with ``schema``.
    Tuples and ``from_records``, not dicts: list-of-dicts construction and
    Series item access cost ~20% of the whole kernel at scale."""
    return pd.DataFrame.from_records(rows, columns=_columns(schema))


def _metric(payload: bytes, comps: int, part: int, t0: float) -> str:
    """The one ``_metric`` record of a parsed payload, as JSON text with the
    fields of ``METRIC_SCHEMA``; ``wall_ms`` is the time since ``t0``."""
    wall_ms = round((time.perf_counter() - t0) * 1e3, 3)
    values = (len(payload), comps, part, wall_ms)
    return json.dumps(dict(zip(_columns(METRIC_SCHEMA), values)), sort_keys=True)


# One media payload and the task's partition id -> its (seq, kind, text,
# *extra) rows; ``extra`` fills the columns ``schema`` adds to CUE_SCHEMA.
MediaRows = Callable[[bytes, int], list[tuple]]


def _span_kernel(schema: str, media_rows: MediaRows):
    """The row loop of the fused and parse kernels over span rows
    ``(doc_id, offset, kind, media_ref, text, payload)``: non-media rows
    pass through with ``seq`` 0, a null-offset media row becomes one
    ``_error`` row, and each other media row becomes ``media_rows(payload,
    part)`` — or, if that raises anything, one seq-0 ``_error`` row (an
    exception must become an ``_error`` row, never a dead task)."""
    pad = (None,) * (len(_columns(schema)) - len(_columns(CUE_SCHEMA)))

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
                    out.append((doc_id, offset, 0, kind, text, media_ref, *pad))
                    continue
                if pd.isna(offset):
                    out.append((doc_id, None, 0, "_error", NULL_OFFSET_ERROR, media_ref, *pad))
                    continue
                offset = int(offset)
                try:
                    rows = media_rows(bytes(payload), part)
                except Exception as exc:  # never silent (vs PgsOcr.cs:103-106)
                    rows = [(0, "_error", _error_text(exc), *pad)]
                out += [(doc_id, offset, seq, k, t, media_ref, *extra) for seq, k, t, *extra in rows]
            yield _frame(out, schema)

    return kernel


def make_fused_kernel(backend: OcrBackend | None = None):
    """Fused K-parse∘K-decode∘K-ocr: each media payload -> its cues, one
    ``_error`` row per dropped composition, then its ``_metric`` row."""

    def media_rows(payload: bytes, part: int) -> list[tuple]:
        t0 = time.perf_counter()
        dropped: list = []
        cues = decode_media_payload(payload, backend=backend, errors=dropped)
        rows = [(seq, "cue", text) for seq, text in cues]
        rows += [(seq, "_error", _error_text(exc)) for seq, exc in dropped]
        rows.append((0, "_metric", _metric(payload, len(rows), part, t0)))
        return rows

    return _span_kernel(CUE_SCHEMA, media_rows)


def make_parse_kernel():
    """Two-phase kernel A: each media payload -> one ``comp`` row per merged
    display set, its ``PcsData`` pickled into ``pcs`` (the cheap byte walk),
    then its ``_metric`` row.  Decode+OCR happen downstream after a
    rebalance, so a single skewed payload spreads across the cluster."""

    def media_rows(payload: bytes, part: int) -> list[tuple]:
        t0 = time.perf_counter()
        sets = decode_to_display_sets(payload)
        rows = [
            (seq, "comp", None, pickle.dumps(pcs, protocol=pickle.HIGHEST_PROTOCOL))
            for seq, pcs in enumerate(sets, 1)
        ]
        rows.append((0, "_metric", _metric(payload, len(sets), part, t0), None))
        return rows

    return _span_kernel(COMP_SCHEMA, media_rows)


def make_ocr_kernel(backend: OcrBackend | None = None):
    """Two-phase kernel B: ``COMP_SCHEMA`` rows -> ``CUE_SCHEMA`` rows.

    Each ``comp`` row goes through the oracle's composition step and
    becomes its cue, or one ``_error`` row if the composition is dropped
    or its blob does not unpickle.  Every other row (the parse kernel's
    ``_metric``/``_error`` side channel and its pass-through rows) passes
    through unchanged.  Routing them through this kernel instead of a
    separate filter branch means the expensive parse kernel executes
    exactly once — a second uncached branch would re-parse every payload
    (round-1 bench showed that costing a full extra 128-task parse stage)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _stamp_checked_zip_invalidation()
        _freeze_import_heap()
        for pdf in batches:
            out: list[tuple] = []
            for doc_id, offset, seq, kind, text, media_ref, blob in zip(
                *(pdf[c].tolist() for c in _columns(COMP_SCHEMA))
            ):
                if kind == "comp":  # every other row passes through
                    dropped: list = []
                    try:
                        pcs = pickle.loads(bytes(blob))
                        cues = display_sets_to_cue_rows([pcs], backend, errors=dropped)
                    except Exception as exc:
                        dropped.append((seq, exc))
                    if dropped:
                        kind, text = "_error", _error_text(dropped[0][1])
                    else:
                        kind, text = "cue", cues[0][1]
                out.append((doc_id, offset, seq, kind, text, media_ref))
            yield _frame(out, CUE_SCHEMA)

    return kernel
