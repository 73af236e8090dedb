"""The extraction DataFrame plan (SURVEY.md §3.4 lifecycle).

    documents ──posexplode_outer──▶ span rows (doc_id, offset, kind,
       one scan                      media_ref, text, payload)
                                           │ payload = unbase64(text) for
                                           │ media spans only (JVM-side)
                                           ▼
                      mapInPandas extraction kernel
                                           │ media -> cue + _metric/_error
                                           │ rows; every other row passes
                                           ▼ through (seq 0)
                                     flat span rows
                                           │ groupBy(doc_id)            ← the
                                           │ sort_array(collect_list(     one
                                           │   when(text | cue, ...)))    shuffle
                                           ▼
                      extracted(doc_id, spans) — same shape as input

One row source and one fold: ``documents`` is read once, and the fold's
``groupBy`` is the only exchange on well-partitioned input.  A doc whose
spans all fail (or that has none) still reaches the fold through its
side-channel or marker rows — ``collect_list`` skips the nulls the
``when`` leaves for them — so it comes out with ``spans = []`` without a
join back to the input.

Scale notes (100 TB / 10^12 docs):
  * the explode and unbase64 are narrow — no shuffle; column pruning
    pushes the parquet/Iceberg scan down to (doc_id, spans);
  * the only required shuffle is the fold's groupBy(doc_id) of *small*
    string rows; text spans cross into the Python worker and back, which
    costs far less than the second scan and branch they replace;
  * an input with fewer than 4x slots partitions (many payloads in few
    files) is hash-repartitioned to 4x slots before the kernel, and then
    payload bytes do shuffle; no option changes the width or the gate.
    That is accepted: the scan was asked for 4x slots splits and made
    fewer (a few small files, or a coalesced DataFrame),
    and without the rebalance a few tasks would decode every payload on a
    few cores.  Traced on a 4-core VM, ``pipeline.shuffle_write_bytes`` is
    1,408,895 on extractbench ``skew`` (4 one-doc files, rebalanced)
    against 341,798 on ``uniform`` (16 files, the fold alone).  Input the
    scan can split never shuffles payload bytes.  This rebalance is the
    plan's skew handling: at ~200-250 us per composition, even a
    12k-composition payload is a few seconds of work for one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .kernels import CUE_SCHEMA, make_fused_kernel
from .pgs.ocr import OcrBackend
from .session import kernel_tasks

__all__ = [
    "extract_cue_rows",
    "assemble_spans",
    "extract",
    "split_side_channel",
    "render_srt_cues",
    "render_srt_documents",
]


def _span_rows(documents: DataFrame) -> DataFrame:
    """documents -> the one row source: (doc_id, offset, kind, media_ref,
    text, payload), one row per span, and for a doc with no spans one row
    that is null but for doc_id.  ``text`` is set for non-media spans,
    ``payload`` (the JVM-side base64 decode) for media spans only."""
    span = F.col("span")
    is_media = span["kind"].eqNullSafe("media")
    return documents.select(
        "doc_id", F.posexplode_outer("spans").alias("pos", "span")
    ).select(
        "doc_id",
        span["offset"].alias("offset"),
        span["kind"].alias("kind"),
        span["media_ref"].alias("media_ref"),
        F.when(~is_media, span["text"]).alias("text"),
        F.when(is_media, F.unbase64(span["text"])).alias("payload"),
    )


def _kernel_rows(rows: DataFrame, backend: OcrBackend | None = None) -> DataFrame:
    """Span rows -> flat ``CUE_SCHEMA`` rows: each media row becomes its
    cue/metric/error rows, every other row passes through with ``seq`` 0.

    The kernel is CPU-bound per *row*, which byte-based file splits and
    AQE's byte-based coalescing cannot see, so it runs on
    ``session.kernel_tasks`` partitions (4 per slot): several units per
    slot let dynamic scheduling absorb per-row cost variance and executor
    speed skew.  The span rows are rebalanced
    only when the input has fewer partitions than that.  The session
    already asks the scan for that many splits
    (``spark.sql.files.minPartitionNum``), so this fires only for input the
    scan cannot split; at production scale payload bytes never shuffle.
    The rebalance hashes on keys unique per row, NOT round-robin: plain
    ``repartition(n)`` local-sorts every column first
    (``spark.sql.execution.sortBeforeRepartition``), which is
    pathological for multi-KB payloads.
    """
    width = kernel_tasks(rows.sparkSession)
    if rows.rdd.getNumPartitions() < width:
        rows = rows.repartition(width, F.col("doc_id"), F.col("offset"))
    return rows.mapInPandas(make_fused_kernel(backend), schema=CUE_SCHEMA)


def extract_cue_rows(documents: DataFrame, backend: OcrBackend | None = None) -> DataFrame:
    """Media spans -> cue/metric/error rows (flat), pre-re-aggregation:
    the kernel of :func:`extract` over the media rows only."""
    media = _span_rows(documents).filter(F.col("kind") == "media")
    return _kernel_rows(media, backend)


def split_side_channel(cue_rows: DataFrame) -> tuple[DataFrame, DataFrame]:
    """-> (cue rows, metric/error rows) — lineage is never silent."""
    return (
        cue_rows.filter(F.col("kind") == "cue"),
        cue_rows.filter(F.col("kind").isin("_metric", "_error")),
    )


def _is_output_span() -> Column:
    """The flat rows that become output spans: text spans and the kernel's
    cues.  Cues carry ``seq`` >= 1; an input span of kind 'cue' passes
    through with ``seq`` 0 and, like every other unknown kind, is dropped."""
    kind = F.col("kind")
    return (kind == "text") | ((kind == "cue") & (F.col("seq") > 0))


def _fold(rows: DataFrame) -> DataFrame:
    """Flat span rows -> one (doc_id, spans) row per doc_id, spans ordered
    by (offset, seq) — the tail of the plan, one shuffle on doc_id.

    Rows that are not output spans (side channel, media markers, the
    null row of a doc without spans) become nulls, which
    ``collect_list`` skips: they keep their doc in the output, with
    ``spans = []`` if nothing else arrives."""
    ordered = rows.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.when(
                    _is_output_span(),
                    F.struct("offset", "seq", "kind", "text", "media_ref"),
                )
            )
        ).alias("ordered")
    )
    return ordered.select(
        "doc_id",
        F.transform(
            "ordered",
            lambda x: F.struct(
                x["kind"].alias("kind"),
                x["text"].alias("text"),
                x["media_ref"].alias("media_ref"),
                x["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )


def assemble_spans(documents: DataFrame, cue_rows: DataFrame) -> DataFrame:
    """Fold precomputed cue rows (:func:`extract_cue_rows`, side channel
    included or not) with the text spans of ``documents`` into the output
    documents shape: one scan of ``documents`` without payloads, no join —
    its media rows are the markers that keep every doc in the output."""
    spans = _span_rows(documents).select(
        "doc_id", "offset", F.lit(0).alias("seq"), "kind", "text", "media_ref"
    )
    return _fold(spans.unionByName(cue_rows))


def render_srt_cues(cues: DataFrame) -> DataFrame:
    """Cue rows (doc_id, media_ref, offset, seq, text) -> one numbered
    SubRip document per (doc_id, media_ref), rendered entirely JVM-side.

    Cue text carries ``"{start} --> {end}\\n{ocr_text}"``; SubRip blocks
    are ``"{n}\\r\\n{timecodes}\\r\\n{text}\\r\\n"`` joined with CRLF and
    a trailing CRLF — byte-identical to pgs.srt.render_srt (the
    pure-Python oracle pins this in tests/; the DuckDB twin of the driver
    ``srt_format`` query pins it cross-engine).  One narrow expression:
    no kernel, one groupBy shuffle of small strings.
    """
    grouped = cues.groupBy("doc_id", "media_ref").agg(
        F.sort_array(F.collect_list(F.struct("offset", "seq", "text"))).alias("cs")
    )
    block = lambda x, i: F.concat(  # noqa: E731
        (i + 1).cast("string"),
        F.lit("\r\n"),
        # the first \n separates the timecode line from the OCR text; SubRip
        # uses CRLF there while embedded text newlines stay as-is
        F.regexp_replace(x["text"], "^([^\n]*)\n", "$1\r\n"),
        F.lit("\r\n"),
    )
    return grouped.select(
        "doc_id",
        "media_ref",
        F.concat(
            F.array_join(F.transform("cs", block), "\r\n"), F.lit("\r\n")
        ).alias("srt"),
    )


def render_srt_documents(documents: DataFrame) -> DataFrame:
    """The SRT sink (SURVEY.md §2.5 O5, PgsOcr.cs:59-63): extraction +
    :func:`render_srt_cues` over the resulting cue rows."""
    cues, _side = split_side_channel(extract_cue_rows(documents))
    return render_srt_cues(cues)


def extract(documents: DataFrame, backend: OcrBackend | None = None) -> DataFrame:
    """Full pipeline: documents -> extracted (same shape, FIXTURES.md §2).

    Text spans pass through; each media span becomes one 'cue' span per
    merged composition, carrying the source media_ref/offset, ordered by
    (offset, seq) via the struct sort key.  One plan: the scan, one kernel
    that decodes each payload whole, then the fold.  The decode follows the
    reference defaults (no merge overrides, the multi-object opacity quirk
    replicated).
    """
    return _fold(_kernel_rows(_span_rows(documents), backend))
