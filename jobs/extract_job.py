#!/usr/bin/env python
"""Cluster entrypoint for the interleaved-document extraction pipeline.

Ships per the north_rule's submission contract:

    python package_pyfiles.py
    spark-submit --master <cluster> \
        --py-files dist/pgstosrt_spark.zip \
        jobs/extract_job.py \
        --input  <iceberg/parquet table of documents(doc_id, spans)> \
        --output <output dir> \
        [--n-batches 64] [--max-batches N]

The job is self-contained on the executors: everything it imports beyond
PySpark comes from the --py-files zip.  It runs the checkpointed extraction
(pgstosrt_spark.metrics.run_with_checkpoints): per-batch snapshot commits
of data + metrics side-channel + an atomic manifest record, so a killed run
resumes from the last committed batch with no recomputation (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

On a real cluster, SparkSession comes from spark-submit's conf (master,
executors, memory); the get_spark() factory is only a local-mode
convenience, so this entrypoint passes SparkSession.builder straight to
session.workload_session, the same workload confs and scan split floor.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents table (parquet dir)")
    ap.add_argument("--output", required=True, help="checkpointed output dir")
    ap.add_argument("--n-batches", type=int, default=64)
    ap.add_argument("--max-batches", type=int, default=None)
    args = ap.parse_args()

    # imports resolve from --py-files on driver AND executors
    from pyspark.sql import SparkSession

    from pgstosrt_spark.metrics import committed_batches, run_with_checkpoints
    from pgstosrt_spark.session import workload_session
    from pgstosrt_spark.sources.tables import read_documents

    # master/executors come from spark-submit; these are workload confs only
    spark = workload_session(SparkSession.builder.appName("pgstosrt-extract"))
    docs = read_documents(spark, args.input)
    committed = run_with_checkpoints(
        spark,
        docs,
        args.output,
        n_batches=args.n_batches,
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
