"""Workload inputs and their oracle digests.

Inputs are built once per checkout and cached under the work directory;
each run then draws its own input from the cache with ``--seed``:

* ``uniform`` pool — the 5000 documents of the sf0.1 ``documents`` test
  table (its ``doc_id`` and ``text`` columns, stored verbatim in
  ``SOURCE_DIR``) turned into interleaved PGS documents by
  ``fixtures.corpus.synthesize_documents``.  A run takes a seed-chosen
  sample of ``UNIFORM_DOCS`` of them, written as ``UNIFORM_FILES`` parquet
  files.
* ``skew`` base — ``fixtures.corpus.synthesize_skewed_documents`` with
  ``SKEW_POOL_MONSTERS`` single-payload documents of ``SKEW_CUES``
  compositions each (their cue texts differ per document) plus one
  document of ``SKEW_WIDE_SPANS`` small media spans.  A run takes the wide
  document and a seed-chosen ``SKEW_MONSTERS`` monsters, one file each.

The expected output of every document comes from the pure-Python oracle
(``expected_extracted_rows`` for the pool, ``decode_media_payload`` for
the skew payloads), reduced to a digest of its span sequence.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import random
import shutil
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

import pyarrow as pa
import pyarrow.parquet as pq

SOURCE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.1")
UNIFORM_DOCS = 600
UNIFORM_FILES = 16
SKEW_POOL_MONSTERS = 6
SKEW_MONSTERS = 3
SKEW_CUES = 2000
SKEW_WIDE_SPANS = 1000
WARMUP_DOCS = 32

def span_digest(spans) -> str:
    """Digest of one document's ordered (kind, text, media_ref, offset) spans."""
    seq = [[s["kind"], s["text"], s["media_ref"], int(s["offset"])] for s in spans]
    return hashlib.blake2b(json.dumps(seq).encode(), digest_size=16).hexdigest()


def digests_of(table: pa.Table) -> dict[str, str]:
    """``doc_id -> span digest`` of an extracted ``(doc_id, spans)`` table."""
    out = {}
    for doc_id, spans in zip(table.column("doc_id").to_pylist(), table.column("spans").to_pylist()):
        out[doc_id] = span_digest(spans or [])
    return out


def mismatches(expected: dict[str, str], got: dict[str, str]) -> set[str]:
    """Doc ids whose output is missing, unexpected or differs from the oracle."""
    return {d for d in expected.keys() | got.keys() if expected.get(d) != got.get(d)}


def _expected_doc(args: tuple[str, str]) -> tuple[str, str]:
    from pgstosrt_spark.fixtures.corpus import expected_extracted_rows

    doc_id, text = args
    return doc_id, span_digest(expected_extracted_rows(doc_id, text))


def _expected_payload(args: tuple[str, int, str, bytes]) -> tuple[str, int, list]:
    from pgstosrt_spark.pgs.decode import decode_media_payload

    doc_id, offset, media_ref, payload = args
    cues = decode_media_payload(payload)
    return doc_id, offset, [("cue", text, media_ref, offset) for _seq, text in cues]


def _pool(workers: int) -> ProcessPoolExecutor:
    return ProcessPoolExecutor(max_workers=workers, mp_context=get_context("spawn"))


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _read_json(path: str):
    with open(path) as f:
        return json.load(f)


def uniform_pool_dir(cache: str) -> str:
    return os.path.join(cache, "uniform-pool-sf0.1")


def skew_base_dir(cache: str) -> str:
    return os.path.join(cache, f"skew-base-{SKEW_POOL_MONSTERS}x{SKEW_CUES}-{SKEW_WIDE_SPANS}")


def is_built(root: str) -> bool:
    return os.path.exists(os.path.join(root, "expected.json"))


def build_uniform_pool(spark, cache: str, workers: int) -> str:
    """Cache the uniform pool (parquet + oracle digests); returns its dir."""
    from pgstosrt_spark.fixtures.corpus import synthesize_documents

    root = uniform_pool_dir(cache)
    done = os.path.join(root, "expected.json")
    if is_built(root):
        return root
    shutil.rmtree(root, ignore_errors=True)
    synthesize_documents(spark, SOURCE_DIR).write.parquet(os.path.join(root, "documents"))
    source = pq.read_table(os.path.join(SOURCE_DIR, "documents.parquet"))
    jobs = [
        (str(d), t)
        for d, t in zip(source.column("doc_id").to_pylist(), source.column("text").to_pylist())
    ]
    with _pool(workers) as ex:
        expected = dict(ex.map(_expected_doc, jobs, chunksize=64))
    _write_json(done, expected)
    return root


def build_skew_base(spark, cache: str, workers: int) -> str:
    """Cache the skew base (one parquet file per document + digests)."""
    from pyspark.sql import functions as F

    from pgstosrt_spark.fixtures.corpus import synthesize_skewed_documents

    root = skew_base_dir(cache)
    done = os.path.join(root, "expected.json")
    if is_built(root):
        return root
    shutil.rmtree(root, ignore_errors=True)
    base = synthesize_skewed_documents(
        spark,
        n_wide_spans=SKEW_WIDE_SPANS,
        n_monster_docs=SKEW_POOL_MONSTERS,
        monster_cues=SKEW_CUES,
    )
    staged = os.path.join(root, "staged")
    base.repartition(SKEW_POOL_MONSTERS + 1, F.col("doc_id")).write.parquet(staged)
    table = pq.read_table(staged)
    docs_dir = os.path.join(root, "docs")
    os.makedirs(docs_dir)
    jobs = []
    for i, doc_id in enumerate(table.column("doc_id").to_pylist()):
        pq.write_table(table.slice(i, 1), os.path.join(docs_dir, f"{doc_id}.parquet"))
        for span in table.column("spans")[i].as_py():
            if span["kind"] == "media":
                jobs.append((doc_id, span["offset"], span["media_ref"], base64.b64decode(span["text"])))
    shutil.rmtree(staged)
    spans: dict[str, list] = {}
    with _pool(workers) as ex:
        for doc_id, offset, rows in ex.map(_expected_payload, jobs, chunksize=8):
            spans.setdefault(doc_id, []).append((offset, rows))
    expected = {
        doc_id: span_digest(
            dict(zip(("kind", "text", "media_ref", "offset"), r))
            for _off, rows in sorted(parts, key=lambda p: p[0])
            for r in rows
        )
        for doc_id, parts in spans.items()
    }
    _write_json(done, expected)
    return root


def sample_uniform(pool_dir: str, seed: int, out: str) -> dict[str, str]:
    """Write the seed's uniform sample to ``out``; returns its digests."""
    expected = _read_json(os.path.join(pool_dir, "expected.json"))
    table = pq.read_table(os.path.join(pool_dir, "documents"))
    rng = random.Random(seed)
    rows = rng.sample(range(table.num_rows), UNIFORM_DOCS)
    picked = table.take(pa.array(rows))
    os.makedirs(out)
    per = -(-UNIFORM_DOCS // UNIFORM_FILES)
    for f in range(UNIFORM_FILES):
        pq.write_table(picked.slice(f * per, per), os.path.join(out, f"part-{f:03d}.parquet"))
    return {d: expected[d] for d in picked.column("doc_id").to_pylist()}


def sample_warmup(pool_dir: str, out: str) -> None:
    """The small fixed table each set-up extracts: four files, so the scan
    has a task per slot of a 4-core host and forks its Python workers."""
    table = pq.read_table(os.path.join(pool_dir, "documents")).slice(0, WARMUP_DOCS)
    os.makedirs(out)
    per = WARMUP_DOCS // 4
    for f in range(4):
        pq.write_table(table.slice(f * per, per), os.path.join(out, f"part-{f:03d}.parquet"))


def sample_skew(base_dir: str, seed: int, out: str) -> dict[str, str]:
    """Write the wide document and the seed's monsters to ``out``.

    The picked monsters are renamed ``skew-monster-<k>`` (their payloads and
    media_refs unchanged), so which tasks they land on after the doc_id hash
    does not vary with the seed."""
    import pyarrow.compute as pc

    expected = _read_json(os.path.join(base_dir, "expected.json"))
    docs = sorted(expected)
    wide = [d for d in docs if "wide" in d]
    monsters = sorted(random.Random(seed).sample([d for d in docs if "monster" in d], SKEW_MONSTERS))
    os.makedirs(out)
    picked = {d: d for d in wide} | {f"skew-monster-{k}": d for k, d in enumerate(monsters)}
    for new_id, doc_id in picked.items():
        table = pq.read_table(os.path.join(base_dir, "docs", f"{doc_id}.parquet"))
        ids = pc.replace_substring(table["doc_id"], doc_id, new_id)
        table = table.set_column(table.schema.get_field_index("doc_id"), table.schema.field("doc_id"), ids)
        pq.write_table(table, os.path.join(out, f"{new_id}.parquet"))
    return {new_id: expected[doc_id] for new_id, doc_id in picked.items()}
