"""Text -> embedding featurizer: deterministic hashed-n-gram projection.

Closes the training-data pipeline loop (VERDICT r4 item 5): the ANN /
near-dup operators in :mod:`.similarity` consume a ready-made embedding
column; a real pipeline derives one from text first.  ``embed_text`` maps
each document to an L2-normalized ``dim``-bucket count vector of its word
n-grams — the classic hashing trick (feature hashing), deterministic and
training-free, so the whole documents -> embed -> embedding_near_dup chain
is reproducible and cross-engine checkable.

Physical shape (one shuffle): explode raw n-grams -> one codegen'd hash +
pmod per gram -> ``dim`` conditional sums per doc (HashAggregate with
map-side partial aggregation collapses each doc's grams to one dim-column
row before the only shuffle, ~8*dim bytes/doc regardless of doc size) ->
one narrow normalize expression.  No Python in the hot path.  NOTE: above
~100 aggregate columns Spark's whole-stage codegen falls back to
interpreted evaluation (spark.sql.codegen.maxFields); dim<=64 stays fully
codegen, larger dims still run map-side-combined HashAggregate.

``bucket_hash`` swaps the gram hash (default JVM xxhash64); the driver
twin uses the md5-prefix hash (identical in DuckDB, see
``__spark_entry__._md5_60``) so the embedding VALUES — and any cosine
derived from them — are oracle-checkable: integer bucket counts are exact
in double, and the L2 normalize is one IEEE sqrt + divide per component,
bit-equal across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import ngrams_col

__all__ = ["embed_text"]


def embed_text(
    df: DataFrame,
    dim: int = 64,
    n: int = 4,
    col: str = "text",
    bucket_hash=None,
) -> DataFrame:
    """-> (doc_id, embedding: array<double>), L2-normalized hashed-n-gram
    counts.  Documents with fewer than ``n`` tokens embed to the zero
    vector (kept, not dropped — shape preservation like the pipeline)."""
    grams = df.select("doc_id", F.explode_outer(ngrams_col(n, col)).alias("_g"))
    h = F.xxhash64("_g") if bucket_hash is None else bucket_hash(F.col("_g"))
    # materialize the bucket BEFORE the aggregate: each of the dim
    # conditional sums references the bucket column, and aggregate
    # expressions do not share subexpressions — an inline bucket would
    # re-run the hash chain dim times per gram.  Guard on _g: xxhash64
    # (NULL) is the seed hash, so a zero-gram doc's explode_outer row
    # would otherwise count one phantom gram.
    bucketed = grams.select(
        "doc_id",
        F.when(F.col("_g").isNotNull(), F.pmod(h, F.lit(dim))).alias("_b"),
    )
    per = bucketed.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("_b") == i, 1).otherwise(0)).alias(f"_c{i}")
            for i in range(dim)
        ]
    )
    # Normalize via higher-order functions, NOT a flat expression: a
    # dim-element array whose every element embeds the dim-term norm sum
    # is a dim^2-term janino compile (blows whole-stage codegen at 64);
    # HOFs evaluate interpreted at ~dim ops/row.  The 1-element transform
    # binds the norm as a lambda VALUE so the aggregate runs once per row,
    # not once per component.
    counts = per.select(
        "doc_id",
        F.array(*[F.col(f"_c{i}").cast("double") for i in range(dim)]).alias("_c"),
    )
    sq = F.aggregate("_c", F.lit(0.0), lambda a, x: a + x * x)
    vec = F.element_at(
        F.transform(
            F.array(F.sqrt(sq)),
            lambda nrm: F.transform(
                "_c", lambda x: F.when(nrm > 0, x / nrm).otherwise(0.0)
            ),
        ),
        1,
    )
    return counts.select("doc_id", vec.alias("embedding"))
