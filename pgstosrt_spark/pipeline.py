"""The extraction DataFrame plan (SURVEY.md §3.4 lifecycle).

    documents ──posexplode_outer──▶ span rows (doc_id, offset, kind,
       one scan                      media_ref, text, payload)
                                           │ payload = unbase64(text) for
                                           │ media spans only (JVM-side)
                                           ▼
                      mapInPandas extraction kernel(s)
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
    string rows (payload bytes never shuffle in fused mode); text spans
    cross into the Python worker and back, which costs far less than the
    second scan and branch they replace;
  * ``mode='two_phase'`` adds one rebalance shuffle of parsed compositions
    (text rows ride it) so skewed payloads fan out before the expensive
    decode+OCR (north_rule skew).  The shuffled rows are pickled
    ``PcsData`` and are *not* smaller than the payloads: 22.3 MB pickled
    vs 20.5 MB raw for the 17,627 compositions of 3,000 sf0.1 docs;
  * ``balance=True`` hash-repartitions the span rows before the kernel
    when the *input* partitioning is skewed (many payloads in few files).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .kernels import (
    COMP_SCHEMA,
    CUE_SCHEMA,
    make_fused_kernel,
    make_ocr_kernel,
    make_parse_kernel,
)
from .pgs.ocr import OcrBackend

__all__ = [
    "explode_spans",
    "extract_cue_rows",
    "assemble_spans",
    "extract",
    "split_side_channel",
    "render_srt_cues",
    "render_srt_documents",
]


def explode_spans(documents: DataFrame) -> DataFrame:
    """documents -> one row per span (narrow, no shuffle)."""
    return documents.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


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


def _kernel_rows(
    rows: DataFrame,
    mode: str = "fused",
    backend: OcrBackend | None = None,
    balance: bool | str = "auto",
    rebalance_partitions: int | str | None = None,
    size_threshold: int = 4 << 20,
    skip_merge: bool = False,
    force_merge_all: bool = False,
    multi_object_opacity_fix: bool = False,
) -> DataFrame:
    """Span rows -> flat ``CUE_SCHEMA`` rows: each media row becomes its
    cue/metric/error rows, every other row passes through with ``seq`` 0.

    ``balance='auto'`` repartitions the rows only when the input has
    fewer partitions than the cluster has slots: the decode+OCR kernel is
    CPU-bound per *row*, which byte-based file splitting cannot see, so a
    small/compacted input would otherwise serialize the expensive stage.
    At production scale (input partitions >> slots) this is a no-op — the
    payload bytes never shuffle.
    """
    slots = rows.sparkSession.sparkContext.defaultParallelism
    if balance == "auto":
        # The session asks the scan for >= 4x slots splits
        # (spark.sql.files.minPartitionNum — scan-level, no shuffle); the
        # fallback below only fires for inputs the scan cannot split
        # (unsplittable codecs, a single giant row group).  The gate matches
        # the repartition width (4x slots) so a scan that yields e.g. 3x
        # slots still rebalances — undersubscribed CPU-bound waves cost
        # more than the payload-free hash shuffle does.
        balance = rows.rdd.getNumPartitions() < 4 * slots
    if balance:
        # Hash repartition, NOT round-robin: plain repartition(n) local-sorts
        # every column first (spark.sql.execution.sortBeforeRepartition, for
        # retry determinism), which is pathological for multi-KB payload
        # bytes.  Hash partitioning is deterministic by key, so it skips
        # that sort; (doc_id, offset) is unique per span -> balanced.
        rows = rows.repartition(
            rebalance_partitions if isinstance(rebalance_partitions, int) else 4 * slots,
            F.col("doc_id"),
            F.col("offset"),
        )

    kernel_kw = dict(
        backend=backend,
        skip_merge=skip_merge,
        force_merge_all=force_merge_all,
        multi_object_opacity_fix=multi_object_opacity_fix,
    )

    def fused(rows: DataFrame) -> DataFrame:
        return rows.mapInPandas(make_fused_kernel(**kernel_kw), schema=CUE_SCHEMA)

    def two_phase(rows: DataFrame) -> DataFrame:
        comps = rows.mapInPandas(
            make_parse_kernel(skip_merge=skip_merge, force_merge_all=force_merge_all),
            schema=COMP_SCHEMA,
        )
        # hash, not round-robin: avoids the sortBeforeRepartition local sort
        # of the pickled-composition binaries; (doc_id, offset, seq) is
        # unique per composition, so buckets stay balanced.  ALL rows ride
        # the one repartition — the tiny _metric/_error side channel and
        # the text rows pass through the OCR kernel unchanged instead of a
        # second filter branch, which (uncached) would re-execute the whole
        # parse kernel.
        #
        # Width: default 4x slots.  The decode+OCR stage is CPU-bound per
        # COMPOSITION, which byte-based AQE coalescing cannot see (it
        # balances shuffle bytes, and RLE size is a poor proxy for pixel
        # count x OCR cost).  Measured on the skewed bench corpus (BENCH/
        # BASELINE.md skew sections, probe-gated, two runs): every
        # two-phase width beats fused (clean 15.8s) by ~2x; among widths,
        # 1x slots is clean-fastest on this host (6.3-7.5s, single wave —
        # local[32] has uniform cores, so extra waves only add Python-
        # worker dispatch overhead), 4x ~7.6-8.3s, while 8x and
        # AQE-advisory are consistently worst — AQE coalesces the small
        # composition rows by BYTES into too few tasks for a
        # per-row-CPU-bound stage.  4x stays the default for the
        # production shape: on a heterogeneous multi-executor cluster,
        # several units per slot is what lets dynamic scheduling absorb
        # per-composition cost variance and executor speed skew, and it
        # bounds partition size at high composition counts; pass
        # ``rebalance_partitions=slots`` for the measured single-wave
        # fast path on uniform local hosts, or 'aqe' to repartition by
        # key only with AQE choosing the width.
        keys = (F.col("doc_id"), F.col("offset"), F.col("seq"))
        if rebalance_partitions == "aqe":
            rebalanced = comps.repartition(*keys)
        else:
            rebalanced = comps.repartition(rebalance_partitions or 4 * slots, *keys)
        return rebalanced.mapInPandas(
            make_ocr_kernel(
                backend=backend, multi_object_opacity_fix=multi_object_opacity_fix
            ),
            schema=CUE_SCHEMA,
        )

    if mode == "fused":
        return fused(rows)
    if mode == "two_phase":
        return two_phase(rows)
    if mode == "size_bucketed":
        # SURVEY.md §4.3.1: small payloads (and every non-media row) take
        # the no-extra-shuffle fused path; monster payloads (whose
        # per-composition decode+OCR would pin one task) take the
        # two-phase split/rebalance path.  The size predicate is a cheap
        # JVM expression over the already-decoded binary (null for
        # non-media rows, hence the coalesce); results are a bag union,
        # order restored by the fold.
        #
        # Cost note (deliberate tradeoff): the two branches are separate
        # physical pipelines, so the source is SCANNED TWICE — every
        # payload's bytes are read in both branches and discarded by the
        # filter in one.  That is worth it only when monster payloads are
        # rare and a second scan is cheaper than shuffling every small
        # payload's parsed compositions; when scan cost dominates, plain
        # two_phase (one scan, one composition-row shuffle) is the better
        # 100 TB default.
        big = F.coalesce(F.octet_length("payload") > size_threshold, F.lit(False))
        return fused(rows.filter(~big)).unionByName(two_phase(rows.filter(big)))
    raise ValueError(f"unknown mode: {mode!r} (fused | two_phase | size_bucketed)")


def extract_cue_rows(documents: DataFrame, **kw) -> DataFrame:
    """Media spans -> cue/metric/error rows (flat), pre-re-aggregation.

    The kernels of :func:`extract` over the media rows only; ``kw`` are
    :func:`extract`'s options (``mode``, ``backend``, ``balance``, ...)."""
    return _kernel_rows(_span_rows(documents).filter(F.col("kind") == "media"), **kw)


def split_side_channel(cue_rows: DataFrame) -> tuple[DataFrame, DataFrame]:
    """-> (cue rows, metric/error rows) — lineage is never silent."""
    return (
        cue_rows.filter(F.col("kind") == "cue"),
        cue_rows.filter(F.col("kind").isin("_metric", "_error")),
    )


def _is_output_span() -> Column:
    """The flat rows that become output spans: text spans and the kernels'
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


def render_srt_documents(documents: DataFrame, **kw) -> DataFrame:
    """The SRT sink (SURVEY.md §2.5 O5, PgsOcr.cs:59-63): extraction +
    :func:`render_srt_cues` over the resulting cue rows."""
    cues, _side = split_side_channel(extract_cue_rows(documents, **kw))
    return render_srt_cues(cues)




def extract(
    documents: DataFrame,
    mode: str = "fused",
    backend: OcrBackend | None = None,
    **kw,
) -> DataFrame:
    """Full pipeline: documents -> extracted (same shape, FIXTURES.md §2).

    Text spans pass through; each media span becomes one 'cue' span per
    merged composition, carrying the source media_ref/offset, ordered by
    (offset, seq) via the struct sort key.  ``kw``: ``balance``,
    ``rebalance_partitions``, ``size_threshold`` and the decode switches
    (``skip_merge``, ``force_merge_all``, ``multi_object_opacity_fix``).
    """
    return _fold(_kernel_rows(_span_rows(documents), mode=mode, backend=backend, **kw))
