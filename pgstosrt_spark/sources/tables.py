"""Declared schemas + readers (SURVEY.md §2.1 scans).

The authoritative input shape is BASELINE.json ``input_hint``:

    documents(doc_id string,
              spans array<struct<kind string, text string,
                                 media_ref string, offset int>>)

At production scale this is an Iceberg table (partition pruning, snapshot
checkpoints, atomic commits); the Iceberg jars are not in this image, so
``read_documents`` tries ``spark.table``/format("iceberg") first and falls
back to parquet with the *declared* schema — never inferred.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
    ]
)


def read_documents(spark: SparkSession, source: str) -> DataFrame:
    """Interleaved documents table: Iceberg table name or parquet path."""
    if "/" not in source:
        try:
            return spark.table(source)  # Iceberg/catalog table
        except Exception:
            pass
    return spark.read.schema(DOCUMENTS_SCHEMA).parquet(source)
