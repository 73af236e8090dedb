#!/usr/bin/env python
"""Cluster entrypoint for the interleaved-document extraction pipeline.

Ships per the north_rule's submission contract:

    python package_pyfiles.py
    spark-submit --master <cluster> \
        --py-files dist/pgstosrt_spark.zip \
        jobs/extract_job.py \
        --input  <iceberg/parquet table of documents(doc_id, spans)> \
        --output <output dir> \
        [--mode fused|two_phase] \
        [--n-batches 64] [--max-batches N]

The job is self-contained on the executors: everything it imports beyond
PySpark comes from the --py-files zip.  It runs the checkpointed extraction
(pgstosrt_spark.metrics.run_with_checkpoints): per-batch snapshot commits
of data + metrics side-channel + an atomic manifest record, so a killed run
resumes from the last committed batch with no recomputation (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

On a real cluster, SparkSession comes from spark-submit's conf (master,
executors, memory); the get_spark() factory is only a local-mode
convenience, so this entrypoint builds from SparkSession.builder directly
with the same workload-tuned settings.
"""

from __future__ import annotations

import argparse
import json


def build_session(app: str):
    from pyspark.sql import SparkSession

    from pgstosrt_spark.session import WORKLOAD_CONF

    # master/executors come from spark-submit; these are workload confs only
    return SparkSession.builder.appName(app).config(map=WORKLOAD_CONF).getOrCreate()


def _tune_scan_parallelism(spark) -> None:
    """Set spark.sql.files.minPartitionNum >= TASKS_PER_SLOT x slots (same
    rationale as session.get_spark): the CPU-bound kernels need at least a
    few waves of scan splits even when the input is small/compacted.  Must
    run after getOrCreate() because defaultParallelism (executors x cores)
    is only known once the session exists."""
    from pgstosrt_spark.session import TASKS_PER_SLOT

    slots = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.files.minPartitionNum", str(TASKS_PER_SLOT * slots))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents table (parquet dir)")
    ap.add_argument("--output", required=True, help="checkpointed output dir")
    ap.add_argument("--mode", default="fused", choices=["fused", "two_phase"])
    ap.add_argument("--n-batches", type=int, default=64)
    ap.add_argument("--max-batches", type=int, default=None)
    args = ap.parse_args()

    # imports resolve from --py-files on driver AND executors
    from pgstosrt_spark.metrics import committed_batches, run_with_checkpoints
    from pgstosrt_spark.sources.tables import read_documents

    spark = build_session("pgstosrt-extract")
    _tune_scan_parallelism(spark)
    docs = read_documents(spark, args.input)
    committed = run_with_checkpoints(
        spark,
        docs,
        args.output,
        n_batches=args.n_batches,
        mode=args.mode,
        max_batches=args.max_batches,
    )
    print(
        json.dumps(
            {
                "committed_this_run": committed,
                "committed_total": committed_batches(args.output),
                "output": args.output,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
