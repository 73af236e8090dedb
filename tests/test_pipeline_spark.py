"""End-to-end Spark pipeline tests: span-sequence equality vs the oracle.

The correctness contract (BASELINE.json): per doc, the extracted span
sequence equals the pure-Python oracle on (kind, text, media_ref, order).
"""

from __future__ import annotations

import base64

import pytest
from pyspark.sql import functions as F

from pgstosrt_spark.fixtures import corpus, encoder as enc
from pgstosrt_spark.pgs.decode import decode_media_payload
from pgstosrt_spark.pipeline import extract, extract_cue_rows, split_side_channel
from pgstosrt_spark.sources.tables import DOCUMENTS_SCHEMA

SF_DIR = "/root/testdata/sf0.001"


def _expected(doc_rows):
    return {
        d: [(s["kind"], s["text"], s["media_ref"]) for s in corpus.expected_extracted_rows(d, t)]
        for d, t in doc_rows
    }


def _collect_spans(df):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in df.collect()
    }


def _oracle_spans(docs):
    """The pure-Python oracle over a documents DataFrame: per doc, text
    spans pass through, each media span becomes its decoded cues, every
    other kind is dropped, in (offset, seq) order."""
    out = {}
    for r in docs.collect():
        spans = []
        for s in sorted(r["spans"], key=lambda s: s["offset"]):
            if s["kind"] == "text":
                spans.append(("text", s["text"], s["media_ref"]))
            elif s["kind"] == "media":
                cues = decode_media_payload(base64.b64decode(s["text"]))
                spans += [("cue", text, s["media_ref"]) for _seq, text in cues]
        out[r["doc_id"]] = spans
    return out


def _error_rows(payload: bytes):
    """(seq, ``<error class>: ...``) of each composition the oracle drops."""
    dropped: list = []
    decode_media_payload(payload, errors=dropped)
    return [(seq, f"{type(exc).__name__}: {exc}") for seq, exc in dropped]


@pytest.fixture(scope="module")
def small_docs(spark):
    """16 synthesized interleaved docs covering all corpus variants."""
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text").limit(16)
    rows = [(str(r["doc_id"]), r["text"]) for r in src.collect()]
    docs = spark.createDataFrame(
        [{"doc_id": d, "spans": corpus.doc_to_span_rows(d, t)} for d, t in rows],
        schema=DOCUMENTS_SCHEMA,
    )
    return docs, rows


def test_extract_fused_matches_oracle(spark, small_docs):
    docs, rows = small_docs
    got = _collect_spans(extract(docs))
    assert got == _expected(rows)


def test_extract_balance_equivalent(spark, small_docs):
    """One input partition: the rebalance fires and changes nothing."""
    docs, rows = small_docs
    got = _collect_spans(extract(docs.coalesce(1)))
    assert got == _expected(rows)


def test_span_order_is_offset_then_seq(spark):
    """Cues from one media span keep stream order; spans keep doc order."""
    cues = [("CUE ONE", 90_000, 135_000), ("CUE TWO", 180_000, 225_000)]
    payload = base64.b64encode(enc.build_sup_from_cues(cues)).decode()
    docs = spark.createDataFrame(
        [
            {
                "doc_id": "d1",
                "spans": [
                    {"kind": "text", "text": "intro", "media_ref": "", "offset": 0},
                    {"kind": "media", "text": payload, "media_ref": "pgs://d1/0", "offset": 1},
                    {"kind": "text", "text": "outro", "media_ref": "", "offset": 2},
                ],
            }
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    [row] = extract(docs).collect()
    kinds = [s["kind"] for s in row["spans"]]
    texts = [s["text"] for s in row["spans"]]
    assert kinds == ["text", "cue", "cue", "text"]
    assert texts[0] == "intro" and texts[3] == "outro"
    assert texts[1].endswith("CUE ONE") and texts[2].endswith("CUE TWO")
    offsets = [s["offset"] for s in row["spans"]]
    assert offsets == [0, 1, 1, 2]


@pytest.mark.parametrize("plan", ["fused"])  # the id names the one plan
def test_metrics_side_channel_and_error_rows(spark, plan):
    good = base64.b64encode(enc.build_sup_from_cues([("OK", 90_000, 180_000)])).decode()
    bad = base64.b64encode(b"MKPG" + b"\xff" * 8).decode()  # truncated container
    docs = spark.createDataFrame(
        [
            {
                "doc_id": "d1",
                "spans": [
                    {"kind": "media", "text": good, "media_ref": "pgs://d1/0", "offset": 0},
                    {"kind": "media", "text": bad, "media_ref": "pgs://d1/1", "offset": 1},
                ],
            }
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    rows = extract_cue_rows(docs)
    cues, side = split_side_channel(rows)
    side_rows = {r["kind"]: r for r in side.collect()}
    assert "_metric" in side_rows and "_error" in side_rows
    assert '"comps": 1' in side_rows["_metric"]["text"]
    assert cues.count() == 1
    # errors never silently vanish from the side channel, but the extracted
    # output keeps only the success path (reference drops failed items)
    [doc] = extract(docs).collect()
    assert [s["kind"] for s in doc["spans"]] == ["cue"]

    # per-partition lineage rollup: payload/comp/byte/wall totals reconcile
    from pgstosrt_spark.metrics import partition_lineage

    lin = partition_lineage(side).collect()
    assert sum(r["n_payloads"] for r in lin) == 1  # the good payload
    assert sum(r["n_comps"] for r in lin) == 1
    assert all(r["n_errors"] == 1 for r in lin)  # the bad payload, global
    assert all(r["wall_ms"] >= 0 and r["n_bytes"] > 0 for r in lin)


def test_fused_and_parse_kernels_write_one_metric_record():
    """Direct kernel call: the payload's one ``_metric`` row carries the
    keys of METRIC_SCHEMA."""
    import json

    import pandas as pd

    from pgstosrt_spark.kernels import METRIC_SCHEMA, make_fused_kernel

    payload = enc.build_sup_from_cues([("OK", 90_000, 180_000)])
    batch = pd.DataFrame(
        {
            "doc_id": ["d"],
            "offset": [0],
            "kind": ["media"],
            "media_ref": ["pgs://d/0"],
            "text": [None],
            "payload": [payload],
        }
    )
    (fused,) = make_fused_kernel()(iter([batch]))
    keys = [set(json.loads(t)) for t in fused.loc[fused["kind"] == "_metric", "text"]]
    assert keys == [{field.split()[0] for field in METRIC_SCHEMA.split(",")}]


def test_all_failed_doc_keeps_shape(spark):
    """A doc whose ONLY span is a corrupt media payload must still appear
    in the extracted table (empty spans) — shape preservation; the error
    itself lands in the side channel, never silently."""
    bad = base64.b64encode(b"MKPG" + b"\xff" * 8).decode()
    docs = spark.createDataFrame(
        [
            {
                "doc_id": "only-bad",
                "spans": [
                    {"kind": "media", "text": bad, "media_ref": "pgs://b/0", "offset": 0}
                ],
            }
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    [doc] = extract(docs).collect()
    assert doc["doc_id"] == "only-bad" and doc["spans"] == []
    _cues, side = split_side_channel(extract_cue_rows(docs))
    assert side.filter(side.kind == "_error").count() == 1


@pytest.mark.parametrize("plan", ["fused"])  # the id names the one plan
def test_doc_without_spans_keeps_shape(spark, plan):
    """A doc with ``spans=[]`` comes out with ``[]``.  (That
    its all-null row shares a kernel batch with other rows is pinned by
    ``test_kernels_pass_non_media_rows_through_once``.)"""
    payload = base64.b64encode(enc.build_sup_from_cues([("SOLO", 90_000, 180_000)])).decode()
    docs = spark.createDataFrame(
        [
            {"doc_id": "empty", "spans": []},
            {
                "doc_id": "m",
                "spans": [
                    {"kind": "text", "text": "t", "media_ref": "", "offset": 0},
                    {"kind": "media", "text": payload, "media_ref": "pgs://m/0", "offset": 1},
                ],
            },
        ],
        schema=DOCUMENTS_SCHEMA,
    ).coalesce(1)
    got = _collect_spans(extract(docs))
    assert got == {
        "empty": [],
        "m": [("text", "t", ""), ("cue", "00:00:01,000 --> 00:00:02,000\nSOLO", "pgs://m/0")],
    }


def test_unknown_kind_spans_are_dropped(spark):
    """Spans of any kind but text and media (including an input span that
    claims kind 'cue') pass through the kernel and are dropped by the
    fold: the doc keeps only its text spans and extracted cues."""
    payload = base64.b64encode(enc.build_sup_from_cues([("SOLO", 90_000, 180_000)])).decode()
    docs = spark.createDataFrame(
        [
            {
                "doc_id": "d",
                "spans": [
                    {"kind": "image", "text": "x", "media_ref": "img://d/0", "offset": 0},
                    {"kind": "text", "text": "t", "media_ref": "", "offset": 1},
                    {"kind": "cue", "text": "forged", "media_ref": "", "offset": 2},
                    {"kind": "media", "text": payload, "media_ref": "pgs://d/3", "offset": 3},
                ],
            }
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    want = {"d": [("text", "t", ""), ("cue", "00:00:01,000 --> 00:00:02,000\nSOLO", "pgs://d/3")]}
    assert _collect_spans(extract(docs)) == want
    assert _oracle_spans(docs) == want


def test_kernels_pass_non_media_rows_through_once():
    """Direct kernel calls: a text row and a null-kind row (a doc without
    spans) each come out exactly once, with ``seq=0``, their kind, text
    and media_ref; the media row becomes the oracle's cue."""
    import pandas as pd

    from pgstosrt_spark.kernels import make_fused_kernel

    payload = enc.build_sup_from_cues([("SOLO", 90_000, 180_000)])
    batch = pd.DataFrame(
        {
            "doc_id": ["d", "d", "e"],
            "offset": [0, 1, None],
            "kind": ["text", "media", None],
            "media_ref": ["", "pgs://d/1", None],
            "text": ["hello", None, None],
            "payload": [None, payload, None],
        }
    )
    (out,) = make_fused_kernel()(iter([batch]))
    text = out[out["kind"] == "text"]
    assert text[["doc_id", "offset", "seq", "text", "media_ref"]].values.tolist() == [
        ["d", 0, 0, "hello", ""]
    ]
    null = out[out["kind"].isna()]
    assert len(null) == 1 and null["doc_id"].tolist() == ["e"]
    assert null["seq"].tolist() == [0] and null["offset"].isna().all()
    cue = out[out["kind"] == "cue"]
    assert list(zip(cue["seq"], cue["text"])) == decode_media_payload(payload)
    assert out["kind"].tolist().count("_metric") == 1


def test_kernels_turn_a_null_offset_media_row_into_one_error():
    """Direct kernel calls: a media row without an offset becomes exactly
    one ``_error`` row (seq 0, null offset) naming the cause; the batch's
    other media row becomes the oracle's cue."""
    import pandas as pd

    from pgstosrt_spark.kernels import make_fused_kernel

    payload = enc.build_sup_from_cues([("SOLO", 90_000, 180_000)])
    batch = pd.DataFrame(
        {
            "doc_id": ["d", "d"],
            "offset": [None, 2],
            "kind": ["media", "media"],
            "media_ref": ["pgs://d/1", "pgs://d/2"],
            "text": [None, None],
            "payload": [payload, payload],
        }
    )
    (out,) = make_fused_kernel()(iter([batch]))
    err = out[out["offset"].isna()]
    assert err[["doc_id", "seq", "kind", "media_ref"]].values.tolist() == [
        ["d", 0, "_error", "pgs://d/1"]
    ]
    assert "null offset" in err["text"].iloc[0]
    cue = out[out["kind"] == "cue"]
    assert cue["media_ref"].tolist() == ["pgs://d/2"]
    assert list(zip(cue["seq"], cue["text"])) == decode_media_payload(payload)
    assert out["kind"].tolist().count("_metric") == 1


def test_null_offset_media_span_is_one_error_row(spark, tmp_path):
    """A parquet ``documents`` table written with a nullable ``offset``
    (the read does not enforce DOCUMENTS_SCHEMA's NOT NULL) and one media
    span without an offset: the job completes, that span is one
    ``_error`` row (seq 0, null offset) naming the cause, and the doc
    keeps its other spans."""
    from pyspark.sql import types as T

    from pgstosrt_spark.sources.tables import SPAN_STRUCT, read_documents

    span = T.StructType([T.StructField(f.name, f.dataType, True) for f in SPAN_STRUCT.fields])
    schema = T.StructType(
        [T.StructField("doc_id", T.StringType()), T.StructField("spans", T.ArrayType(span))]
    )
    payload = base64.b64encode(enc.build_sup_from_cues([("SOLO", 90_000, 180_000)])).decode()
    src = str(tmp_path / "documents")
    spark.createDataFrame(
        [
            {
                "doc_id": "d",
                "spans": [
                    {"kind": "text", "text": "t", "media_ref": "", "offset": 0},
                    {"kind": "media", "text": payload, "media_ref": "pgs://d/1", "offset": None},
                    {"kind": "media", "text": payload, "media_ref": "pgs://d/2", "offset": 2},
                ],
            }
        ],
        schema=schema,
    ).write.parquet(src)
    docs = read_documents(spark, src)
    want = {"d": [("text", "t", ""), ("cue", "00:00:01,000 --> 00:00:02,000\nSOLO", "pgs://d/2")]}
    assert _collect_spans(extract(docs)) == want
    _cues, side = split_side_channel(extract_cue_rows(docs))
    [err] = [tuple(r) for r in side.filter(side.kind == "_error").collect()]
    assert err[:4] == ("d", None, 0, "_error") and err[5] == "pgs://d/1"
    assert "null offset" in err[4]


def test_fused_job_reports_planted_huge_ods(spark, small_docs):
    """A 65535x65535 ODS inside a Spark job: the job completes, its doc
    keeps the other cues, the dropped composition is exactly one
    ``_error`` row in the side channel, the one the oracle drops, and every
    other doc still matches the oracle."""
    docs, rows = small_docs
    planted = (
        enc.build_sup_from_cues([("ONE", 90_000, 180_000)])
        + enc.set_first_ods_size(enc.build_sup_from_cues([("TWO", 270_000, 360_000)]), 65535, 65535)
        + enc.build_sup_from_cues([("THREE", 450_000, 540_000)])
    )
    span = {"kind": "media", "text": base64.b64encode(planted).decode(), "media_ref": "pgs://huge/0", "offset": 0}
    docs = docs.unionByName(
        spark.createDataFrame([{"doc_id": "huge", "spans": [span]}], schema=DOCUMENTS_SCHEMA)
    )

    got = _collect_spans(extract(docs))
    assert [t.split("\n", 1)[1] for _k, t, _r in got.pop("huge")] == ["ONE", "THREE"]
    assert got == _expected(rows)

    _cues, side = split_side_channel(extract_cue_rows(docs))
    [err] = [tuple(r) for r in side.filter(side.kind == "_error").collect()]
    assert err[:4] == ("huge", 0, 2, "_error") and err[4].startswith("DecodeError: ")
    assert _error_rows(planted) == [(err[2], err[4])]


def test_media_only_and_text_only_docs(spark):
    payload = base64.b64encode(enc.build_sup_from_cues([("SOLO", 90_000, 180_000)])).decode()
    docs = spark.createDataFrame(
        [
            {"doc_id": "t", "spans": [{"kind": "text", "text": "just text", "media_ref": "", "offset": 0}]},
            {"doc_id": "m", "spans": [{"kind": "media", "text": payload, "media_ref": "pgs://m/0", "offset": 0}]},
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    got = _collect_spans(extract(docs))
    assert got["t"] == [("text", "just text", "")]
    assert got["m"] == [("cue", "00:00:01,000 --> 00:00:02,000\nSOLO", "pgs://m/0")]


def test_skew_doc_many_media_spans(spark):
    """F14 skew: one doc with many media spans — extract == the oracle."""
    spans = []
    for i in range(60):
        p = base64.b64encode(
            enc.build_sup_from_cues([(f"SKEW {i}", 90_000 + i * 90_000, 135_000 + i * 90_000)])
        ).decode()
        spans.append({"kind": "media", "text": p, "media_ref": f"pgs://skew/{i}", "offset": i})
    docs = spark.createDataFrame([{"doc_id": "skew", "spans": spans}], schema=DOCUMENTS_SCHEMA)
    fused = _collect_spans(extract(docs))
    assert fused == _oracle_spans(docs)
    assert len(fused["skew"]) == 60


def test_skew_bench_corpus_mode_equivalence(spark):
    """The bench's skewed corpus (1 wide doc + monster single-span docs,
    fixtures.corpus.synthesize_skewed_documents) must extract exactly as
    the pure-Python oracle decodes it — the skew bench (VERDICT r2 item 2)
    times this extraction, so its correctness is the precondition for the
    timing meaning anything."""
    from pgstosrt_spark.fixtures.corpus import synthesize_skewed_documents

    sk = synthesize_skewed_documents(
        spark, n_wide_spans=64, n_monster_docs=2, monster_cues=40, wide_cues=2
    ).cache()
    shapes = sorted(
        (r["doc_id"], r["n"])
        for r in sk.select("doc_id", F.size("spans").alias("n")).collect()
    )
    assert shapes == [
        ("skew-monster-0", 1),
        ("skew-monster-1", 1),
        ("skew-wide-0", 64),
    ]
    want = _collect_spans(extract(sk))
    assert len(want["skew-monster-0"]) == 40
    assert _oracle_spans(sk) == want
    sk.unpersist()


def test_srt_render_matches_pure_python(spark, small_docs):
    """O5: Spark-side SubRip rendering == pgs.srt.render_srt byte-for-byte."""
    from pgstosrt_spark.pipeline import render_srt_documents

    docs, rows = small_docs
    got = {
        (r["doc_id"], r["media_ref"]): r["srt"]
        for r in render_srt_documents(docs).collect()
    }
    expected = {}
    for d, t in rows:
        for span in corpus.doc_to_span_rows(d, t):
            if span["kind"] != "media":
                continue
            cues = decode_media_payload(base64.b64decode(span["text"]))
            blocks = []
            for _seq, cue in cues:
                tc, text = cue.split("\n", 1)
                start, end = tc.split(" --> ")
                blocks.append((start, end, text))
            srt = "\r\n".join(
                f"{n}\r\n{s} --> {e}\r\n{x}\r\n" for n, (s, e, x) in enumerate(blocks, 1)
            ) + ("\r\n" if blocks else "")
            if blocks:
                expected[(d, span["media_ref"])] = srt
    assert got == expected


def test_extract_takes_mode_and_backend_only(spark, small_docs):
    """The extraction API is one plan: no mode, no tuning knobs."""
    import inspect

    assert list(inspect.signature(extract).parameters) == ["documents", "backend"]
    docs, _rows = small_docs
    with pytest.raises(TypeError, match="mode"):
        extract(docs, mode="fused")


def test_workload_session_policy(spark):
    """One session policy for get_spark and the spark-submit job: every
    WORKLOAD_CONF value, and the scan split floor ``minPartitionNum`` at
    ``kernel_tasks`` = TASKS_PER_SLOT x slots, re-applied on every call."""
    from pyspark.sql import SparkSession

    from pgstosrt_spark.session import (
        TASKS_PER_SLOT,
        WORKLOAD_CONF,
        kernel_tasks,
        workload_session,
    )

    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    s = workload_session(SparkSession.builder)
    assert s is spark
    assert kernel_tasks(s) == TASKS_PER_SLOT * s.sparkContext.defaultParallelism == 32
    assert s.conf.get("spark.sql.files.minPartitionNum") == str(kernel_tasks(s))
    for key, value in WORKLOAD_CONF.items():
        assert s.conf.get(key) == value, key
