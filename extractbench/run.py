#!/usr/bin/env python3
"""Layered extraction benchmark.

    python3 extractbench/run.py --workload uniform --seed 1 --seconds 15 --trace 0

Workloads (see ``inputs.py`` for how each input is drawn from ``--seed``):

* ``uniform``      ``pipeline.extract`` over interleaved PGS documents;
* ``skew``         ``pipeline.extract`` over a few monster payloads plus
                   one document of 1000 media spans;
* ``checkpointed`` ``metrics.run_with_checkpoints`` over the ``uniform``
                   input, into a fresh directory every run.  About 15 s a
                   run on 4 cores, so ``BENCHMARK.json`` leaves it out of
                   the repeated runs; every traced run still measures the
                   checkpoint path once (the ``metrics.*`` layer).

Both entry points are called with their default arguments.  One process
drives Spark ``local[nproc]`` in a closed loop: set-up (several session
starts, each through one small warm-up extraction), one unrecorded full
pass, then back-to-back runs for ``--seconds`` (at least one).  Every
run's output is compared per document with the oracle digest.

``setup_s`` is the median of the set-ups.  Only set-up 1 launches the
driver JVM; the others stop the session and start a new one inside that
JVM (a new SparkContext and Python daemon, forked workers, the warm-up
extraction).  The median therefore leaves JVM launch out.  On a 4-core
VM set-up 1 takes 15-30 s and a restart 4-6 s; three launches per run
would not fit the benchmark's time budget.  The detail line lists every
set-up, the first with its launch.

``--trace 0`` reports the end-to-end medians.  ``--trace 1`` makes one
set-up and the warm-up pass, then runs the traced passes and reports the
per-layer metrics.  The line before the last holds the full detail record
(samples, sample counts, set-up and warm-up times, tracing overhead, plan
counts, stage table, slowest payloads); the last line is the result.

Everything the benchmark writes stays under ``extractbench/_work``.  The
process makes itself the subreaper of its tree, and before it prints the
result it stops every process it started (JVM, Python daemon and workers,
process pools and their resource tracker) and waits until each has ended.
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
SETUPS = 3
WORKLOADS = ("uniform", "skew", "checkpointed")


def _prepare_env() -> None:
    """Keep Spark, the JVM and Python's temp files inside the work dir, and
    let Python workers import the package from the checkout."""
    for sub in ("tmp", "spark-local", "warehouse", "cache", "runs"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    # the workloads fit a 1 GiB driver heap; the session default is 16 GiB
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    sys.path.insert(0, str(ROOT))


def _session(cpus: int):
    from pgstosrt_spark.session import get_spark

    return get_spark(
        "extractbench",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
        },
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python daemon)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


PR_SET_CHILD_SUBREAPER = 36


def _adopt_orphans() -> None:
    """Make this process the subreaper of its tree: a descendant whose
    parent ends (the Python daemon when the JVM exits, the workers it
    forked) is re-parented here rather than to init, so ``_reap_children``
    can wait for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap_children(grace: float = 10.0) -> list[int]:
    """Stop every process this one started and wait until each has ended.

    The multiprocessing resource tracker (left by the input builders'
    process pools) exits only when told.  Whatever else is left gets
    ``grace`` seconds to exit on its own, then SIGTERM, then SIGKILL.
    Returns the pids still alive after that (none, unless one is stuck in
    the kernel)."""
    import signal
    from multiprocessing import resource_tracker

    from probes import tree_pids

    resource_tracker._resource_tracker._stop()
    me = os.getpid()
    start = time.monotonic()
    while True:
        while True:  # collect every child that has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = [p for p in tree_pids(me) if p != me]
        waited = time.monotonic() - start
        if not left or waited > grace + 20:
            return left
        if waited > grace:
            sig = signal.SIGKILL if waited > grace + 5 else signal.SIGTERM
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Extracting:
    """``extract(documents)`` collected to the driver, digests checked."""

    def __init__(self, path: str, expected: dict[str, str]) -> None:
        self.path = path
        self.expected = expected

    def run(self, spark):
        from pgstosrt_spark.pipeline import extract
        from pgstosrt_spark.sources.tables import read_documents

        return extract(read_documents(spark, self.path)).toArrow()

    def check(self, result) -> tuple[set[str], dict]:
        from inputs import digests_of, mismatches

        return mismatches(self.expected, digests_of(result)), {}


class Checkpointing:
    """``run_with_checkpoints`` into a fresh directory; the committed data
    is read back and checked, and every batch must have its manifest."""

    def __init__(self, path: str, expected: dict[str, str], runs_dir: str) -> None:
        self.path = path
        self.expected = expected
        self.runs_dir = runs_dir
        self.n = 0

    def run(self, spark):
        from pgstosrt_spark.metrics import run_with_checkpoints
        from pgstosrt_spark.sources.tables import read_documents

        self.n += 1
        out = os.path.join(self.runs_dir, f"ckpt-{self.n}")
        return out, run_with_checkpoints(spark, read_documents(spark, self.path), out)

    def check(self, result) -> tuple[set[str], dict]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from inputs import digests_of, mismatches
        from pgstosrt_spark.metrics import run_with_checkpoints

        out, committed = result
        bad = mismatches(self.expected, digests_of(pq.read_table(os.path.join(out, "data"))))
        side = pq.read_table(os.path.join(out, "metrics"), columns=["doc_id", "kind"])
        errors = pc.filter(side, pc.equal(side["kind"], "_error"))
        bad |= set(errors["doc_id"].to_pylist())
        mdir = os.path.join(out, "_manifest")
        manifests = []
        for name in sorted(os.listdir(mdir)):
            if name.endswith(".json") and not name.startswith("."):
                with open(os.path.join(mdir, name)) as f:
                    manifests.append(json.load(f))
        batches = [d for d in os.listdir(os.path.join(out, "data")) if d.startswith("batch=")]
        n_batches = inspect.signature(run_with_checkpoints).parameters["n_batches"].default
        info = {
            "manifests_ok": len(manifests) == len(committed) == len(batches) == n_batches,
            "batch_wall_s": [m["wall_s"] for m in manifests],
            "write_bytes": sum(
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out) for f in fs
            ),
        }
        shutil.rmtree(out)
        return bad, info


def _measure(op, spark, seconds: float, n_docs: int) -> tuple[list[dict], int, bool]:
    """Closed loop of runs for ``seconds``: at least one, and another only
    while the median run still fits in the window."""
    from probes import RssPeak, host_cpu_s, tree_cpu_s

    pid = os.getpid()
    samples: list[dict] = []
    failed = 0
    ok = True
    end = time.monotonic() + seconds
    while not samples or (
        time.monotonic() + statistics.median(s["wall_s"] for s in samples) <= end
    ):
        # every run starts from a collected driver heap, so its peak RSS does
        # not depend on how many runs came before it
        spark.sparkContext._jvm.System.gc()
        cpu0, host0 = tree_cpu_s(pid), host_cpu_s()
        with RssPeak(pid) as rss:
            t0 = time.perf_counter()
            result = op.run(spark)
            wall = time.perf_counter() - t0
        cpu = tree_cpu_s(pid) - cpu0
        host = {k: v - host0[k] for k, v in host_cpu_s().items()}
        bad, info = op.check(result)
        failed += len(bad)
        ok = ok and info.get("manifests_ok", True)
        samples.append(
            {
                "wall_s": wall,
                "cpu_s": cpu,
                "peak_rss_mb": rss.peak / 2**20,
                "failed": len(bad),
                "host_steal_s": host["steal"],
                "host_iowait_s": host["iowait"],
                "host_busy_s": sum(host.values()) - host["idle"] - host["iowait"] - host["steal"],
            }
        )
        print(f"[extractbench] run {len(samples)} wall={wall:.3f}s cpu={cpu:.2f}s", file=sys.stderr)
    return samples, len(samples) * n_docs, ok


def _payloads(path: str) -> list[tuple[str, str, bytes]]:
    import base64

    import pyarrow.parquet as pq

    table = pq.read_table(path)
    out = []
    for doc_id, spans in zip(table.column("doc_id").to_pylist(), table.column("spans").to_pylist()):
        for s in spans:
            if s["kind"] == "media":
                out.append((doc_id, s["media_ref"], base64.b64decode(s["text"])))
    return out


def _traced(spark, path: str, expected: dict[str, str], cpus: int) -> tuple[dict, dict, int, set]:
    """The traced passes over the workload's input: returns (per-layer
    metrics, detail, docs checked, failed docs).  ``detail["layer_samples"]``
    holds each metric's sample count."""
    import pyarrow.compute as pc

    import probes
    from tracer import pgs_layer_pass, quantile_summary
    from pgstosrt_spark.metrics import partition_lineage
    from pgstosrt_spark.pipeline import (
        assemble_spans,
        extract,
        extract_cue_rows,
        split_side_channel,
    )
    from pgstosrt_spark.sources.tables import read_documents

    from inputs import digests_of, mismatches

    docs = read_documents(spark, path)
    layers: dict = {}
    detail: dict = {"phase_s": {}}
    mark = [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        detail["phase_s"][name] = now - mark[0]
        mark[0] = now

    # extract: plan counts before it runs, then its stage table and the
    # exact bytes its scans read.  The stages' own input bytes are not used:
    # they miss what is read on the thread that feeds the Python workers.
    df = extract(docs)
    plan = probes.plan_counts(df)
    detail["plan"] = plan
    layers.update({k: v for k, v in plan.items() if k != "balance_fired"})
    s0 = probes.last_stage_id(spark)
    failed = mismatches(expected, digests_of(df.toArrow()))
    checked = len(expected)
    stages = probes.stage_metrics(spark, s0)
    executed_scans, layers["scan.input_bytes"] = probes.scanned_file_bytes(df)
    detail["stages"] = stages
    layers["pipeline.shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in stages)
    layers["pipeline.shuffle_read_bytes"] = sum(s["shuffle_read_bytes"] for s in stages)
    layers["pipeline.spill_bytes"] = sum(s["spill_bytes"] for s in stages)
    lap("extract")

    # kernels: cue rows only, no re-assembly
    s1 = probes.last_stage_id(spark)
    t0 = time.perf_counter()
    _noop(extract_cue_rows(docs))
    layers["kernels.wall_s"] = time.perf_counter() - t0
    kstages = probes.stage_metrics(spark, s1)
    kernel_stage = max(kstages, key=lambda s: s["run_s"])
    layers["kernels.task_skew"] = kernel_stage["task_ms_max"] / max(kernel_stage["task_ms_p50"], 1.0)
    detail["kernel_stage"] = kernel_stage
    lap("kernels")

    # side channel and the re-assembly tail over pre-materialised cue rows
    flat = extract_cue_rows(docs).cache()
    try:
        rows = flat.toArrow()
        lineage = partition_lineage(split_side_channel(flat)[1]).toArrow().to_pylist()
        t0 = time.perf_counter()
        _noop(assemble_spans(docs, flat))
        layers["pipeline.tail_s"] = time.perf_counter() - t0
    finally:
        flat.unpersist()
    metric_rows = pc.filter(rows, pc.equal(rows["kind"], "_metric")).to_pylist()
    error_rows = pc.filter(rows, pc.equal(rows["kind"], "_error")).to_pylist()
    failed |= {r["doc_id"] for r in error_rows}
    walls = [(json.loads(r["text"])["wall_ms"], r["doc_id"], r["media_ref"]) for r in metric_rows]
    q = quantile_summary([w for w, _, _ in walls])
    layers["kernels.payload_ms_p50"] = q["p50"]
    layers["kernels.payload_ms_p99"] = q["p99"]
    layers["kernels.payloads"] = len(metric_rows) + len(error_rows)
    layers["kernels.error_rows"] = len(error_rows)
    detail["payload_ms"] = q
    detail["slowest_payloads"] = [
        {"doc_id": d, "media_ref": m, "wall_ms": w} for w, d, m in sorted(walls, reverse=True)[:10]
    ]
    detail["partition_lineage"] = sorted(lineage, key=lambda r: r["part"])
    lap("side_channel_and_tail")

    # metrics layer: the manifests run_with_checkpoints writes
    ck = Checkpointing(path, expected, os.path.dirname(path))
    e1 = probes.last_execution_id(spark)
    bad, info = ck.check(ck.run(spark))
    failed |= bad
    checked += len(expected)
    scans = probes.executed_scans(spark, e1)
    layers["metrics.batch_wall_s_p50"] = statistics.median(info["batch_wall_s"])
    layers["metrics.write_bytes"] = info["write_bytes"]
    layers["metrics.scans"] = scans
    detail["batch_wall_s"] = info["batch_wall_s"]
    detail["manifests_ok"] = info["manifests_ok"]
    lap("checkpoints")

    # pgs layers: an in-process pass over the same payloads, no Spark.  Its
    # untraced side is the baseline; traced minus untraced is what the
    # wrappers cost.
    pgs = pgs_layer_pass([p for _, _, p in _payloads(path)])
    lap("pgs")
    layers.update({k: v for k, v in pgs.items() if k.startswith("pgs.")})
    layers["trace.overhead_s"] = pgs["cpu_s"] - pgs["untraced_cpu_s"]
    layers["kernels.overhead_cpu_s"] = layers["kernels.wall_s"] * cpus - pgs["untraced_cpu_s"]
    detail["trace_overhead_s"] = layers["trace.overhead_s"]
    detail["pgs"] = {k: v for k, v in pgs.items() if not k.startswith("pgs.")}

    n = dict.fromkeys(layers, 1)
    n.update(dict.fromkeys([k for k in layers if k.startswith("pgs.")], pgs["payloads"]))
    n.update(dict.fromkeys([k for k in layers if k.endswith("_per_comp")], pgs["comps"]))
    n.update(dict.fromkeys(["kernels.payload_ms_p50", "kernels.payload_ms_p99"], q["n"]))
    n.update(dict.fromkeys(["kernels.payloads", "kernels.error_rows"], len(metric_rows) + len(error_rows)))
    n.update(dict.fromkeys([k for k in layers if k.startswith("pipeline.") and k.endswith("_bytes")], len(stages)))
    n["scan.input_bytes"] = executed_scans
    n["metrics.scans"] = scans
    n["trace.overhead_s"] = pgs["payloads"]
    n["kernels.task_skew"] = kernel_stage["tasks"]
    n["metrics.batch_wall_s_p50"] = len(info["batch_wall_s"])
    detail["layer_samples"] = n
    return layers, detail, checked, failed


LAYER_UNITS = {
    "scan.file_scans": "count",
    "scan.input_bytes": "bytes",
    "pipeline.exchanges": "count",
    "pipeline.python_stages": "count",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.shuffle_read_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    "pipeline.tail_s": "s",
    "kernels.wall_s": "s",
    "kernels.overhead_cpu_s": "s",
    "kernels.payload_ms_p50": "ms",
    "kernels.payload_ms_p99": "ms",
    "kernels.task_skew": "ratio",
    "kernels.payloads": "count",
    "kernels.error_rows": "count",
    "pgs.assemble.us_per_payload": "us",
    "pgs.merge.us_per_payload": "us",
    "pgs.merge.kept_ratio": "ratio",
    "pgs.compose.us_per_comp": "us",
    "pgs.rle.us_per_comp": "us",
    "pgs.palette.us_per_comp": "us",
    "pgs.compose.pixels_per_comp": "px",
    "pgs.ocr.us_per_comp": "us",
    "pgs.srt.us_per_comp": "us",
    "metrics.batch_wall_s_p50": "s",
    "metrics.write_bytes": "bytes",
    "metrics.scans": "count",
    "trace.overhead_s": "s",
}

E2E_UNITS = {
    "wall_s": "s",
    "docs_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "pgstosrt_spark" / "__init__.py").is_file():
        print(f"extractbench: no pgstosrt_spark package under {ROOT}", file=sys.stderr)
        return 2

    _adopt_orphans()
    try:
        detail, result = _run(args)
    finally:
        left = _reap_children()
    if left:
        print(f"extractbench: processes {left} did not stop", file=sys.stderr)
        return 1
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps(result), flush=True)
    return 0


def _run(args) -> tuple[dict, dict]:
    """One benchmark run: returns (detail record, result line)."""
    _prepare_env()
    import inputs
    from pgstosrt_spark.pipeline import extract
    from pgstosrt_spark.sources.tables import read_documents

    cpus = len(os.sched_getaffinity(0))  # what nproc prints
    run_dir = WORK / "runs" / f"{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    cache = str(WORK / "cache")
    spark = None
    try:
        t0 = time.perf_counter()
        pool, base = inputs.uniform_pool_dir(cache), inputs.skew_base_dir(cache)
        wanted = [pool] + ([base] if args.workload == "skew" else [])
        if not all(inputs.is_built(d) for d in wanted):
            spark = _session(cpus)
            inputs.build_uniform_pool(spark, cache, cpus)
            if args.workload == "skew":
                inputs.build_skew_base(spark, cache, cpus)
        warm = str(run_dir / "warmup")
        inputs.sample_warmup(pool, warm)
        path = str(run_dir / "input")
        if args.workload == "skew":
            expected = inputs.sample_skew(base, args.seed, path)
        else:
            expected = inputs.sample_uniform(pool, args.seed, path)
        inputs_s = time.perf_counter() - t0

        # set-up 1 launches the driver JVM (the one that built the inputs is
        # shut down first); the later set-ups restart the session inside it,
        # which forks a new Python daemon but skips the JVM launch
        if spark is not None:
            _stop(spark)
            spark = None
        # a traced run reports no end-to-end metric: one set-up, the warm-up
        # pass, then the traced passes
        setups = []
        for _ in range(1 if args.trace else SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = _session(cpus)
            extract(read_documents(spark, warm)).toArrow()
            setups.append(time.perf_counter() - t0)

        if args.workload == "checkpointed":
            op = Checkpointing(path, expected, str(run_dir))
        else:
            op = Extracting(path, expected)
        t0 = time.perf_counter()
        bad, info = op.check(op.run(spark))
        warmup_s = time.perf_counter() - t0
        failed_docs = len(bad)
        attempted = len(expected)
        manifests_ok = info.get("manifests_ok", True)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "slots": cpus,
            "docs": len(expected),
            "inputs_s": inputs_s,
            "setup_s": setups,
            "warmup_s": warmup_s,
        }
        if args.trace:
            layers, tdetail, checked, tfailed = _traced(spark, path, expected, cpus)
            attempted += checked
            failed_docs += len(tfailed)
            detail.update(tdetail)
            manifests_ok = manifests_ok and tdetail["manifests_ok"]
            metrics = {k: (layers[k], u) for k, u in LAYER_UNITS.items()}
        else:
            samples, runs_attempted, runs_ok = _measure(op, spark, args.seconds, len(expected))
            failed_docs += sum(s["failed"] for s in samples)
            attempted += runs_attempted
            manifests_ok = manifests_ok and runs_ok
            wall = statistics.median(s["wall_s"] for s in samples)
            e2e = {
                "wall_s": wall,
                "docs_per_s": len(expected) / wall,
                "cpu_s": statistics.median(s["cpu_s"] for s in samples),
                "peak_rss_mb": statistics.median(s["peak_rss_mb"] for s in samples),
                "setup_s": statistics.median(setups),
            }
            detail["runs"] = samples
            detail["end_to_end"] = e2e
            metrics = {k: (e2e[k], u) for k, u in E2E_UNITS.items()}
        detail["failed_share"] = failed_docs / attempted
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    return detail, {
        "correct": failed_docs == 0 and manifests_ok,
        "attempted": attempted,
        "failed": failed_docs,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
