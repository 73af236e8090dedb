"""Replicates the driver's correctness gate locally: every queries() entry
with an oracle_sql() twin must match DuckDB exactly (row count, columns,
values) at sf0.01.  Exact equality — the engine is engineered for
cross-engine determinism (decimal sums, per-row rounding, pinned UTC).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


ORACLES = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLES)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    got = _canon(q(spark, SF_DIR).toPandas())
    want = _canon(duck.execute(entrymod.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns), f"{name}: column mismatch"
    assert len(got) == len(want), f"{name}: row count {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if np.issubdtype(a.dtype, np.floating):
            mism = ~((a == b) | (np.isnan(a) & np.isnan(b)))
        elif np.issubdtype(a.dtype, np.datetime64):
            mism = ~((a == b) | (np.isnat(a) & np.isnat(b)))
        else:
            mism = a != b
        assert not mism.any(), (
            f"{name}.{c}: {int(mism.sum())} mismatches; "
            f"first: {a[mism][:3]} vs {b[mism][:3]}"
        )


def test_dataset_manifest_oracle_types_match_spark(spark, duck):
    """The DuckDB twin's column types equal the Spark query's: DuckDB's
    sum(BIGINT) is HUGEINT unless cast back, where Spark's sum(long) is a
    bigint (value parity alone hides this, _canon casts both to int64)."""
    to_duck = {"string": "VARCHAR", "bigint": "BIGINT", "double": "DOUBLE"}
    spark_types = {
        f.name: to_duck[f.dataType.simpleString()]
        for f in entrymod.queries()["dataset_manifest"](spark, SF_DIR).schema
    }
    sql = entrymod.oracle_sql()["dataset_manifest"]
    duck_types = {row[0]: row[1] for row in duck.execute(f"DESCRIBE {sql}").fetchall()}
    assert duck_types == spark_types


def test_all_queries_have_oracle_or_are_documented():
    qs = set(entrymod.queries().keys())
    oracles = set(entrymod.oracle_sql().keys())
    assert oracles <= qs
    rows_only = qs - oracles
    # every rows-only query must be one of the documented non-SQL ops
    documented = {
        "extract_metrics",
        "srt_render",
        "simhash_fingerprint",
        "ann_ivf_topk",
        "ann_lsh_topk",
    }
    assert rows_only == documented


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5000).collect()
    assert len(rows) > 0
    assert {"doc_id", "pos", "kind", "text", "media_ref", "offset"} <= set(df.columns)


def test_pii_scrub_counts_phones_on_email_masked_text(spark):
    """Digits inside an email address are part of the <EMAIL>, not a
    phone, in both the Spark query and its DuckDB twin."""
    import hashlib

    from pgstosrt_spark.functions.text import pii_scrub

    text = "555-123-4567@x.com"
    want = (1, hashlib.md5(b"<EMAIL>").hexdigest(), 1, 0)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    [row] = pii_scrub(df).collect()
    assert tuple(row) == want
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT 1::BIGINT AS doc_id, ? AS text", [text])
    assert con.execute(entrymod.oracle_sql()["pii_scrub"]).fetchall() == [want]
