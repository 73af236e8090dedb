"""Streaming extraction: readStream(documents) -> flat cue/text span rows,
plus the foreachBatch compaction that folds them to per-doc spans.

Two facades over the same batch kernel (kernels.py):

  * ``extract_stream`` — append-mode FLAT span rows (text passthrough +
    cues): the shape for downstream streaming consumers and ad-hoc
    compaction.
  * ``extract_stream_compacted`` — the per-doc tail: each micro-batch of
    *documents* runs the full batch ``pipeline.extract`` inside
    ``foreachBatch`` and appends its ``(doc_id, spans)`` rows to the
    output table.  A source document is exactly one parquet row, so every
    doc lands wholly in one micro-batch and per-batch extraction equals
    the batch run — append IS the per-doc MERGE (doc_ids never span
    batches).  On Iceberg the write becomes ``MERGE INTO ... ON doc_id``
    for exactly-once upserts; plain-parquet append relies on the
    checkpoint for no-replay (foreachBatch is at-least-once), which the
    resume/anti-join machinery in metrics.py already tolerates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..kernels import CUE_SCHEMA, make_fused_kernel
from ..pipeline import _is_output_span, _span_rows, extract
from ..sources.tables import DOCUMENTS_SCHEMA


def read_documents_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def extract_stream(documents: DataFrame) -> DataFrame:
    """Streaming documents -> flat span rows (text passthrough + cues)."""
    return (
        _span_rows(documents)
        .mapInPandas(make_fused_kernel(), schema=CUE_SCHEMA)
        .filter(_is_output_span())
    )


def extract_stream_compacted(documents: DataFrame, out_path: str, checkpoint_dir: str):
    """Streaming documents -> per-doc ``(doc_id, spans)`` output table at
    ``out_path`` (parquet append; see module docstring for the Iceberg
    MERGE variant).  Returns the DataStreamWriter — caller picks the
    trigger (``.trigger(availableNow=True).start()`` drains the backlog
    and stops, the equivalence-test mode)."""
    def compact(batch_docs: DataFrame, _batch_id: int) -> None:
        # the full batch pipeline per micro-batch: kernel, shape
        # preservation, ordering — byte-identical rows to a batch run
        extract(batch_docs).write.mode("append").parquet(out_path)

    return (
        documents.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(compact)
    )
