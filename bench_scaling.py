#!/usr/bin/env python
"""Scaling-efficiency run: the sandbox proxy for the north_rule's N-vs-4N
executor criterion (BASELINE.md row 3).

Runs the identical extraction job at two parallelism-level *pairs* on the
same pre-built interleaved corpus:

  * primary      local[4]  vs local[16]   ("N and 4N cores")
  * supplementary local[8] vs local[32]   (the rule's example pair)

and rewrites the generated head of BENCH/BASELINE.md with throughput at
every level plus scaling efficiency
eff = throughput(4N) / (4 x throughput(N))  (target >= 0.8).

Sampling is ``bench.py``'s rule: interference on a shared host only ever
adds time, so the min over all samples is the tightest bound per level.
Every launch is a fresh interpreter and JVM running :func:`time_level`,
and launches interleave the levels so a host-noise burst cannot land on
one level only.  The workload ceiling (the kernel under plain
multiprocessing, zero Spark) decides whether a window could show >= 0.8
at all (BASELINE.md's window-validity rule).

Usage: python bench_scaling.py [--sf-dir DIR] [--launches 2] [--replicate 8]
                               [--skip-supplementary]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import bench

INNER = 2  # timed extractions per launch
TARGET = 0.8
MARKER = "<!-- MANUAL SECTIONS (preserved across bench_scaling.py runs) -->"
REPO = os.path.dirname(os.path.abspath(__file__))


def time_level(cpus: int, corpus: str) -> dict:
    """One launch at local[cpus]: warm the JVM and Python workers on 256
    docs, then time ``INNER`` full extractions of ``corpus``."""
    from pgstosrt_spark.pipeline import extract
    from pgstosrt_spark.session import get_spark
    from pgstosrt_spark.sources.tables import read_documents

    spark = get_spark("pgstosrt-scaling", cpus=cpus)
    docs = read_documents(spark, corpus)
    n_docs = docs.count()
    bench._noop(extract(docs.limit(256)))
    _, samples = bench._measure(
        [("extract", lambda: bench._noop(extract(docs)))], passes=INNER
    )
    spark.stop()
    return {"cpus": cpus, "docs": n_docs, "secs": samples["extract"]}


def run_launch(corpus: str, cpus: int) -> dict:
    code = f"import json, bench_scaling as b; print(json.dumps(b.time_level({cpus}, {corpus!r})))"
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=REPO, check=True
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def efficiency(samples: dict[int, list[float]], pairs: list[tuple[int, int]]) -> dict:
    """eff(lo -> hi) = min(lo) / (4 x min(hi)): throughput at ``hi`` cores
    over 4x throughput at ``lo`` cores, each level's fastest sample."""
    return {
        f"{lo}->{hi}": round(min(samples[lo]) / (4 * min(samples[hi])), 3)
        for lo, hi in pairs
    }


_WL_PAYLOADS: list[bytes] = []


def _wl_work(dur: float) -> int:
    from pgstosrt_spark.pgs.decode import decode_media_payload

    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < dur:
        decode_media_payload(_WL_PAYLOADS[n % len(_WL_PAYLOADS)])
        n += 1
    return n


def workload_ceiling(corpus: str, pairs: list[tuple[int, int]], dur: float = 10.0) -> dict:
    """The extraction workload itself under plain multiprocessing — zero
    Spark — at the same process counts: the truest per-workload host
    ceiling (memory-system contention included, framework excluded)."""
    import base64

    import duckdb

    global _WL_PAYLOADS
    rows = duckdb.sql(
        "select s.text from (select unnest(spans) as s from "
        f"read_parquet('{corpus}/*.parquet') limit 4000) where s.kind='media' limit 500"
    ).fetchall()
    _WL_PAYLOADS = [base64.b64decode(r[0]) for r in rows]
    from multiprocessing import Pool

    rates: dict[int, float] = {}
    for nproc in sorted({p for pair in pairs for p in pair}):
        best = 0.0
        for _ in range(2):
            with Pool(nproc) as pool:
                best = max(best, sum(pool.map(_wl_work, [dur] * nproc)) / dur)
        rates[nproc] = best
    return {
        f"{lo}->{hi}": round(rates[hi] / (4 * rates[lo]), 3) for lo, hi in pairs
    }


def write_report(path: str, report: dict, launches: int, replicate: int) -> None:
    """Rewrite the generated head of ``path`` from ``report``; everything
    from ``MARKER`` on (skew analyses, round records, validity criteria) is
    kept byte for byte."""
    tail = MARKER + "\n"
    if os.path.exists(path):
        with open(path) as f:
            old = f.read()
        if MARKER in old:
            tail = old[old.index(MARKER) :]
    effs, ceiling = report["efficiency"], report["workload_ceiling_multiproc"]
    level_rows = "\n".join(
        f"| local[{r['cpus']}] | {r['runs_sec']} | {r['best_sec']} | {r['docs_per_sec']} |"
        for r in report["levels"].values()
    )
    eff_rows = "\n".join(
        f"| {pair} | {effs[pair]} | {ceiling[pair]} | {round(effs[pair] / ceiling[pair], 2)} |"
        for pair in effs
    )
    head = f"""# BENCH/BASELINE — scaling efficiency (N vs 4N proxy)

The identical extraction job at two parallelism levels on one pre-built
interleaved corpus ({report['docs']} docs, sf = {report['sf']} replicated x{replicate} into the
work-dominated regime): the sandbox proxy for the north_rule's
two-cluster-size criterion.  Primary pair: **local[4] vs local[16]** ("N
and 4N cores"); supplementary: local[8] vs local[32].

Sampling: a fresh JVM per launch, levels interleaved across launches
({launches} launches x {INNER} timed extractions per level, after a 256-doc
warm-up), min over all samples per level — interference only ever adds
time.  The workload ceiling is the kernel (decode_media_payload) under
plain multiprocessing at the same process counts, zero Spark; a window is
valid only when it clears the target (window-validity criterion below).

| level | runs (sec) | best (sec) | throughput (docs/sec) |
|---|---|---|---|
{level_rows}

| pair | efficiency (min over all) | workload ceiling | efficiency / workload ceiling |
|---|---|---|---|
{eff_rows}

**Primary scaling efficiency (4 -> 16 cores)** = **{report['scaling_efficiency']}**
(target >= {TARGET}: {"PASS" if report["pass"] else "FAIL"}).

generated {report['generated']}; identical deterministic input at every
level, noop sink so no collect/write skew.

"""
    with open(path, "w") as f:
        f.write(head + tail)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--launches", type=int, default=2, help="fresh JVMs per level")
    # the criterion is about the work-dominated regime (at 10^12 docs,
    # compute >> fixed job overhead); a small corpus measures scheduler
    # constants, so the deterministic corpus is replicated until decode
    # work dominates
    ap.add_argument("--replicate", type=int, default=8, help="corpus replication factor")
    ap.add_argument("--skip-supplementary", action="store_true")
    args = ap.parse_args()

    # build the cached corpus once, shared by all levels
    from pgstosrt_spark.session import get_spark

    spark = get_spark("pgstosrt-corpus", cpus=16)
    corpus = bench._build_corpus_cache(spark, args.sf_dir, os.path.join(REPO, ".bench_cache"))
    corpus = bench._replicate_corpus(spark, corpus, args.replicate)
    spark.stop()

    pairs = [(4, 16)] + ([] if args.skip_supplementary else [(8, 32)])
    levels = sorted({p for pair in pairs for p in pair})
    samples: dict[int, list[float]] = {lv: [] for lv in levels}
    n_docs = 0
    for _ in range(args.launches):  # interleave levels across launches
        for lv in levels:
            r = run_launch(corpus, lv)
            n_docs = r["docs"]
            samples[lv].extend(r["secs"])

    effs = efficiency(samples, pairs)
    report = {
        "sf": os.path.basename(os.path.normpath(args.sf_dir)),
        "docs": n_docs,
        "levels": {
            lv: {
                "cpus": lv,
                "runs_sec": [round(s, 2) for s in samples[lv]],
                "best_sec": round(min(samples[lv]), 2),
                "docs_per_sec": round(n_docs / min(samples[lv]), 1),
            }
            for lv in levels
        },
        "efficiency": effs,
        "workload_ceiling_multiproc": workload_ceiling(corpus, pairs),
        "primary": "4->16",
        "scaling_efficiency": effs["4->16"],
        "target": TARGET,
        "pass": effs["4->16"] >= TARGET,
        "generated": time.strftime("%Y-%m-%d %H:%M:%S"),
    }
    write_report(os.path.join(REPO, "BENCH", "BASELINE.md"), report, args.launches, args.replicate)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
