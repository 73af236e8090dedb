"""Tests of the benchmark's own machinery (no Spark).

    python3 -m pytest extractbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
from tracer import (  # noqa: E402
    Tracer,
    pgs_layer_pass,
    quantile,
    quantile_summary,
    traced_pgs,
)


class FakeClock:
    def __init__(self) -> None:
        self.now = 0

    def __call__(self) -> int:
        return self.now

    def advance(self, ns: int) -> None:
        self.now += ns


def test_self_time_subtracts_direct_children_only():
    clock = FakeClock()
    t = Tracer(clock)
    with t.span("outer"):
        clock.advance(10)
        with t.span("mid"):
            clock.advance(5)
            with t.span("leaf"):
                clock.advance(7)
            clock.advance(3)
        with t.span("leaf"):
            clock.advance(2)
        clock.advance(1)
    assert t.total_ns == {"outer": 28, "mid": 15, "leaf": 9}
    assert t.self_ns == {"outer": 28 - 15 - 2, "mid": 15 - 7, "leaf": 9}
    assert t.calls == {"outer": 1, "mid": 1, "leaf": 2}
    assert sum(t.self_ns.values()) == t.roots_ns[0] == 28


def test_self_time_survives_exceptions():
    clock = FakeClock()
    t = Tracer(clock)

    def boom():
        clock.advance(4)
        raise ValueError

    wrapped = t.wrap("child", boom)
    with t.span("root"):
        clock.advance(1)
        try:
            wrapped()
        except ValueError:
            pass
    assert t.self_ns == {"root": 1, "child": 4}


def test_quantile_sample_counts():
    values = [float(v) for v in range(1, 1001)]
    q = quantile_summary(values)
    assert (q["p50"], q["p99"], q["n"], q["beyond_p99"]) == (500.0, 990.0, 1000, 10)
    # a tail too thin to measure shows as fewer than ten beyond p99
    assert quantile_summary(values[:200])["beyond_p99"] == 2
    assert quantile([3.0], 0.99) == 3.0


def _doc(text_suffix: str = "") -> list[dict]:
    return [
        {"kind": "text", "text": "hello", "media_ref": "", "offset": 0},
        {"kind": "cue", "text": "00:00:01,000 --> 00:00:01,500\nHI" + text_suffix,
         "media_ref": "pgs://d/0", "offset": 1},
    ]


def test_digest_check_catches_planted_mismatch():
    import pyarrow as pa

    expected = {"a": inputs.span_digest(_doc()), "b": inputs.span_digest(_doc())}
    good = pa.table({"doc_id": ["a", "b"], "spans": [_doc(), _doc()]})
    assert inputs.mismatches(expected, inputs.digests_of(good)) == set()

    planted = pa.table({"doc_id": ["a", "b"], "spans": [_doc(), _doc("X")]})
    assert inputs.mismatches(expected, inputs.digests_of(planted)) == {"b"}

    reordered = pa.table({"doc_id": ["a", "b"], "spans": [_doc()[::-1], _doc()]})
    assert inputs.mismatches(expected, inputs.digests_of(reordered)) == {"a"}

    missing_and_extra = pa.table({"doc_id": ["a", "c"], "spans": [_doc(), _doc()]})
    assert inputs.mismatches(expected, inputs.digests_of(missing_and_extra)) == {"b", "c"}


def test_pgs_pass_counts_layers_and_restores_functions():
    from pgstosrt_spark.fixtures import encoder
    from pgstosrt_spark.pgs import decode, merge, rle
    from pgstosrt_spark.pgs.ocr import GlyphAtlasOcr

    before = (decode.rasterize, merge.rasterize, rle.decode_rle_runs, GlyphAtlasOcr.recognize)
    cues = [("HELLO", 90_000, 135_000), ("WORLD", 180_000, 225_000)]
    payload = encoder.build_sup_from_cues(cues)
    out = pgs_layer_pass([payload, payload])
    assert (out["payloads"], out["comps"]) == (2, 4)
    assert out["pgs.merge.kept_ratio"] == 1.0
    assert out["pgs.compose.pixels_per_comp"] > 0
    for name in ("pgs.assemble.us_per_payload", "pgs.rle.us_per_comp", "pgs.ocr.us_per_comp"):
        assert out[name] > 0
    assert sum(out["self_s"].values()) <= out["cpu_s"] + 1e-9
    assert out["untraced_cpu_s"] > 0
    after = (decode.rasterize, merge.rasterize, rle.decode_rle_runs, GlyphAtlasOcr.recognize)
    assert after == before

    with traced_pgs(Tracer()):
        assert decode.rasterize is not before[0]
    assert decode.rasterize is before[0]


def test_plan_counts_from_plan_text():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- Project [doc_id#1, spans#9]
   +- SortMergeJoin [doc_id#1], [doc_id#20], LeftOuter
      :- Exchange hashpartitioning(doc_id#1, 8), ENSURE_REQUIREMENTS, [plan_id=1]
      :  +- FileScan parquet [doc_id#1] Batched: true
      +- Exchange hashpartitioning(doc_id#20, 8), ENSURE_REQUIREMENTS, [plan_id=2]
         +- MapInPandas kernel(doc_id#20, offset#21, media_ref#22, payload#23)
            +- Exchange hashpartitioning(doc_id#20, offset#21, 16), REPARTITION_BY_NUM
               +- FileScan parquet [doc_id#20,spans#2] Batched: false
"""

    class Plan:
        def __init__(self, text):
            self.text = text

        def toString(self):  # noqa: N802 - the JVM method name
            return self.text

    class QE:
        def executedPlan(self):  # noqa: N802
            return Plan(plan)

    class JDF:
        def queryExecution(self):  # noqa: N802
            return QE()

    class DF:
        _jdf = JDF()

    assert probes.plan_counts(DF()) == {
        "scan.file_scans": 2,
        "pipeline.exchanges": 3,
        "pipeline.python_stages": 1,
        "balance_fired": True,
    }


class _Seq(list):
    def apply(self, i):
        return self[i]

    def length(self):
        return len(self)


class _Option:
    def __init__(self, value=None):
        self.value = value

    def isDefined(self):  # noqa: N802 - the Scala method names
        return self.value is not None

    def get(self):
        return self.value


class _Node:
    def __init__(self, kind, children=(), inner=None, files_size=None):
        self.kind, self.kids, self.inner, self.files_size = kind, children, inner, files_size

    def getClass(self):  # noqa: N802
        kind = self.kind
        return type("Cls", (), {"getSimpleName": staticmethod(lambda: kind)})

    def children(self):
        return _Seq(self.kids)

    def executedPlan(self):  # noqa: N802
        return self.inner

    def plan(self):
        return self.inner

    def metrics(self):
        size = self.files_size
        metric = None if size is None else type("M", (), {"value": staticmethod(lambda: size)})
        return type("Map", (), {"get": staticmethod(lambda key: _Option(metric if key == "filesSize" else None))})


def test_scanned_file_bytes_walks_adaptive_stages():
    scan_a = _Node("FileSourceScanExec", files_size=1000)
    scan_b = _Node("FileSourceScanExec", files_size=234)
    stage = _Node("ShuffleQueryStageExec", inner=_Node("ShuffleExchangeExec", [scan_b]))
    final = _Node("SortMergeJoinExec", [_Node("WholeStageCodegenExec", [scan_a]), stage])
    root = _Node("AdaptiveSparkPlanExec", inner=final)

    class DF:
        class _jdf:  # noqa: N801 - the PySpark attribute name
            @staticmethod
            def queryExecution():  # noqa: N802
                return type("QE", (), {"executedPlan": staticmethod(lambda: root)})

    assert probes.scanned_file_bytes(DF()) == (2, 1234)


def test_process_tree_probes():
    pid = os.getpid()
    assert pid in probes.tree_pids(pid)
    assert probes.tree_cpu_s(pid) > 0
    host = probes.host_cpu_s()
    assert {"user", "idle", "iowait", "steal"} <= host.keys() and host["idle"] > 0
    with probes.RssPeak(pid, interval=0.01) as rss:
        blob = bytearray(32 << 20)
        blob[::4096] = b"x" * len(blob[::4096])
    assert rss.peak >= 32 << 20


def test_reported_metrics_match_benchmark_json():
    import json

    path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_reaper_stops_orphans_and_the_resource_tracker():
    """A grandchild orphaned by its parent and the multiprocessing resource
    tracker are both gone when ``_reap_children`` returns."""
    import subprocess

    script = f"""
import os, subprocess, sys
sys.path.insert(0, {str(run.HERE)!r})
import run
from multiprocessing import resource_tracker
run._adopt_orphans()
resource_tracker.ensure_running()
tracker = resource_tracker._resource_tracker._pid
out = subprocess.run(
    [sys.executable, "-c",
     "import subprocess, sys; "
     "print(subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)'], "
     "stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).pid)"],
    capture_output=True, text=True, check=True)
orphan = int(out.stdout)
assert os.path.exists(f"/proc/{{orphan}}")
print(run._reap_children(grace=0.5), os.path.exists(f"/proc/{{orphan}}"),
      os.path.exists(f"/proc/{{tracker}}"))
"""
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["[]", "False", "False"]
