#!/usr/bin/env python
"""Driver bench: the multi-query wall-clock line.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE compact
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` = wall seconds of the flagship extraction query (fused pipeline
over the interleaved corpus); per-query seconds in ``queries``; extraction
throughput in docs/sec alongside.  The interleaved corpus is synthesized
deterministically from the driver's text documents, replicated
$SPARK_GRAFT_REPLICATE times (default 8) and cached under .bench_cache/ so
corpus *generation* is not billed to extraction.

Sampling: PASSES interleaved round-robin passes over every query, then the
min per query.  Co-tenant interference on a shared host is additive (a
burst can only inflate a wall time), so the fastest sample is the tightest
upper bound on the true runtime; interleaving keeps a burst from landing on
one query only.  The benchmark of record is ``extractbench/run.py``, whose
``cpu_s`` resists host noise; this line is the driver's wide view.

A "skew" section times the extraction on the skew shapes — one doc with
10^3 media spans plus $SPARK_GRAFT_REPLICATE multi-MB single-span payloads
(SURVEY.md §4.3.1).

Per-query sample lists go to a sidecar file (default
.bench_cache/bench_detail.json, override $SPARK_GRAFT_BENCH_DETAIL) named by
the line's "detail_file": the driver keeps only a bounded stdout tail, so
the printed line must stay under 2,000 characters.

Scaling runs (local[4] vs local[16]) are a separate entrypoint:
``python bench_scaling.py`` -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

PASSES = 4

# the relational / training-data headliners timed beside the extraction
DRIVER_QUERIES = (
    "pricing_summary",
    "broadcast_join_enrich",
    "run_length_dedup",
    "fragment_reassembly",
    "sessionize",
    "token_count",
    "quality_score",
    "exact_dedup",
    "ngram_jaccard_dups",
    "minhash_lsh_dups",
    "simhash_dups",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "embedding_near_dup",
    "track_fanout",
    "rollup_revenue",
    "global_topk",
    "shipping_priority",
    "local_supplier_volume",
    "salted_skew_agg",
    "doc_chunks",
    "contamination_check",
)


def _build_corpus_cache(spark, sf_dir: str, cache_dir: str) -> str:
    from pyspark.sql import functions as F

    from pgstosrt_spark.fixtures.corpus import synthesize_documents

    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(cache_dir, tag, "documents_interleaved")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        # parallel file layout: the driver's source parquet is one small
        # file; repartition (hash — round-robin would local-sort payloads)
        # so every downstream scan parallelizes
        n = max(spark.sparkContext.defaultParallelism * 2, 64)
        synthesize_documents(spark, sf_dir).repartition(n, F.col("doc_id")).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def _replicate_corpus(spark, corpus: str, factor: int) -> str:
    """Deterministic xN replication: the extraction headline should measure
    the work-dominated regime (the 10^12-doc spec), not job constants."""
    from pyspark.sql import functions as F

    if factor <= 1:
        return corpus
    rep_path = f"{corpus}_x{factor}"
    if not os.path.exists(os.path.join(rep_path, "_SUCCESS")):
        (
            spark.read.parquet(corpus)
            .select(
                F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("_r"),
                "doc_id",
                "spans",
            )
            .select(F.concat_ws("-", "doc_id", "_r").alias("doc_id"), "spans")
            .repartition(128, F.col("doc_id"))
            .write.mode("overwrite")
            .parquet(rep_path)
        )
    return rep_path


def _build_skew_cache(spark, cache_dir: str, n_monsters: int) -> str:
    from pyspark.sql import functions as F

    from pgstosrt_spark.fixtures.corpus import synthesize_skewed_documents

    path = os.path.join(cache_dir, f"documents_skewed_1000_{n_monsters}x12000")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # monster docs one row each; keep file layout parallel but do NOT
        # pre-split beyond doc granularity — span-level skew must survive
        # into the scan, that is the point of the corpus
        synthesize_skewed_documents(
            spark, n_wide_spans=1000, n_monster_docs=n_monsters, monster_cues=12000
        ).repartition(16, F.col("doc_id")).write.mode("overwrite").parquet(path)
    return path


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _measure(
    thunks: list[tuple[str, object]], passes: int = PASSES
) -> tuple[dict[str, float], dict[str, list[float]]]:
    """Run every query once per pass, round robin -> (min sec per query,
    every sample per query)."""
    samples: dict[str, list[float]] = {name: [] for name, _ in thunks}
    for pass_no in range(passes):
        for name, thunk in thunks:
            t0 = time.perf_counter()
            thunk()
            dt = time.perf_counter() - t0
            samples[name].append(round(dt, 3))
            print(f"[bench] pass={pass_no} {name} sec={dt:.3f}", file=sys.stderr)
    return {name: min(ss) for name, ss in samples.items()}, samples


def run_bench(sf_dir: str, cpus: int) -> dict:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))

    import __spark_entry__ as entrymod
    from pgstosrt_spark.pipeline import extract
    from pgstosrt_spark.session import get_spark
    from pgstosrt_spark.sources.tables import read_documents

    spark = get_spark("pgstosrt-bench", cpus=cpus)
    cache_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")
    # one size knob: the replication factor is also the skew section's
    # monster count, so a small run is small in both sections
    replicate = int(os.environ.get("SPARK_GRAFT_REPLICATE", "8"))
    corpus_path = _replicate_corpus(spark, _build_corpus_cache(spark, sf_dir, cache_dir), replicate)
    skew_path = _build_skew_cache(spark, cache_dir, replicate)
    docs = read_documents(spark, corpus_path)
    n_docs = docs.count()
    skew_docs = read_documents(spark, skew_path)
    n_skew_docs = skew_docs.count()

    qdefs = entrymod.queries()

    # warm the JVM + Python workers on a small slice, then ONE unrecorded
    # full pass: the first full extraction otherwise
    # pays corpus page-cache population (measured ~2.5x: 20.9s cold vs
    # 8.5s warm), an artifact of the cold FS cache that a long-running
    # production job never sees.  The record says so: warm_full_pass.
    _noop(extract(docs.limit(64)))
    _noop(extract(docs))

    thunks: list[tuple[str, object]] = [
        ("extract_fused", lambda: _noop(extract(docs))),
    ] + [
        (name, lambda name=name: _noop(qdefs[name](spark, sf_dir)))
        for name in DRIVER_QUERIES
    ]
    timings, samples = _measure(thunks)

    # ---- skew section ---------------------------------------------------
    skew_timings, skew_samples = _measure(
        [("skew_fused", lambda: _noop(extract(skew_docs)))]
    )

    extract_sec = timings["extract_fused"]
    result = {
        "metric": "extraction wall-clock (fused pipeline, interleaved corpus "
        "replicated into the work-dominated regime; min of {} interleaved "
        "passes)".format(PASSES),
        "value": extract_sec,
        "unit": "sec",
        "queries": timings,
        "sf": os.path.basename(os.path.normpath(sf_dir)),
        "docs": n_docs,
        "docs_per_sec": round(n_docs / extract_sec, 1) if extract_sec else None,
        "cpus": cpus,
        # every sample follows one unrecorded full extraction pass (see
        # the warm-up above): the timings are warm page-cache timings
        "warm_full_pass": True,
        "samples": samples,
        "skew": {
            "docs": n_skew_docs,
            "shapes": f"1 doc x 1000 media spans + {replicate} docs x 1 multi-MB "
            "span (12k compositions each)",
            "queries": skew_timings,
            "samples": skew_samples,
        },
    }
    spark.stop()
    return result


def _compact(result: dict, detail_file: str) -> str:
    """The printed line: ``result`` without its sample lists and skew
    shapes, plus the name of the detail file that holds them."""
    line = {k: v for k, v in result.items() if k not in ("samples", "skew")}
    line["skew"] = {k: result["skew"][k] for k in ("docs", "queries")}
    line["detail_file"] = detail_file
    return json.dumps(line)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    result = run_bench(sf_dir, cpus)

    detail_file = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache", "bench_detail.json"),
    )
    os.makedirs(os.path.dirname(detail_file), exist_ok=True)
    with open(detail_file, "w") as f:
        json.dump(result, f, indent=1)
    print(_compact(result, detail_file))


if __name__ == "__main__":
    sys.exit(main())
