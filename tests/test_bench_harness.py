"""Unit tests for the driver bench's sampling and printed line (no Spark).

They pin the two rules that keep the driver-recorded headline honest:
  * the recorded time is the min over ALL samples, taken in interleaved
    round-robin passes — interference on a shared host is additive (a
    burst can only inflate a wall time);
  * the printed line fits the bounded stdout tail the driver keeps, so
    per-sample lists live only in the detail file.
"""

from __future__ import annotations

import json

import bench


def test_record_is_min_over_all_samples_not_min_over_clean(monkeypatch):
    """Every pass samples every query once, in round-robin order, and the
    record is the fastest sample wherever it landed (a slow first pass,
    24.4 s against a later 14.3 s, must not set the record)."""
    clock = [0.0]
    monkeypatch.setattr(bench.time, "perf_counter", lambda: clock[0])
    secs = {"a": iter([24.4, 14.3, 20.0, 15.0]), "b": iter([1.0] * bench.PASSES)}
    calls = []

    def thunk(name):
        def run():
            calls.append(name)
            clock[0] += next(secs[name])

        return run

    timings, samples = bench._measure([("a", thunk("a")), ("b", thunk("b"))])
    assert calls == ["a", "b"] * bench.PASSES
    assert samples == {"a": [24.4, 14.3, 20.0, 15.0], "b": [1.0] * bench.PASSES}
    assert timings == {"a": 14.3, "b": 1.0}


def _result() -> dict:
    """A full-size run_bench result: 24 queries + 1 skew query."""
    names = ["extract_fused", *bench.DRIVER_QUERIES]
    samples = {n: [123.456] * bench.PASSES for n in names}
    skew_samples = {"skew_fused": [123.456] * bench.PASSES}
    return {
        "metric": "extraction wall-clock (fused pipeline, interleaved corpus "
        "replicated into the work-dominated regime; min of 4 interleaved passes)",
        "value": 123.456,
        "unit": "sec",
        "queries": {n: min(ss) for n, ss in samples.items()},
        "sf": "sf0.1",
        "docs": 123456,
        "docs_per_sec": 12345.6,
        "cpus": 32,
        "warm_full_pass": True,
        "samples": samples,
        "skew": {
            "docs": 9,
            "shapes": "1 doc x 1000 media spans + 8 docs x 1 multi-MB span",
            "queries": {n: min(ss) for n, ss in skew_samples.items()},
            "samples": skew_samples,
        },
    }


def test_printed_line_fits_the_driver_tail():
    """The driver keeps the last 2,000 characters of stdout; a longer line
    records no headline at all."""
    result = _result()
    names = list(result["queries"])
    assert len(names) == 24
    detail_file = "/" + "d" * 120 + "/BENCH/r5_bench_detail.json"
    line = bench._compact(result, detail_file)
    assert len(line) < 2000
    assert "samples" not in line
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(names)
    assert set(parsed["skew"]["queries"]) == {"skew_fused"}
    assert parsed["detail_file"] == detail_file


def test_default_detail_file_is_untracked(monkeypatch, tmp_path, capsys):
    """Without $SPARK_GRAFT_BENCH_DETAIL the detail file goes to the
    gitignored .bench_cache/, never over a committed BENCH/ artifact."""
    monkeypatch.delenv("SPARK_GRAFT_BENCH_DETAIL", raising=False)
    monkeypatch.setattr(bench, "run_bench", lambda sf_dir, cpus: _result())
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    bench.main()
    detail_file = json.loads(capsys.readouterr().out)["detail_file"]
    assert detail_file.startswith(str(tmp_path / ".bench_cache") + "/")
    with open(detail_file) as f:
        assert json.load(f) == _result()
    assert not (tmp_path / "BENCH").exists()
