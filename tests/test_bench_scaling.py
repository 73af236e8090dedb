"""Unit tests for the scaling bench's efficiency rule and report (no Spark).

  * efficiency is the min-over-all rule: each level's fastest sample, as
    for every other record the bench harness keeps;
  * a regenerated report replaces only the generated head of
    BENCH/BASELINE.md — the manual sections after the marker are the
    round records and the window-validity rule, and survive byte for byte.
"""

from __future__ import annotations

import bench_scaling

# the 2026-08-18 22:17 run, the generated section of BENCH/BASELINE.md
LOCAL4 = [33.84, 31.35, 31.65, 31.61, 39.32, 42.55]
LOCAL16 = [13.56, 14.09, 12.72, 9.65, 11.4, 9.26]


def test_efficiency_is_min_over_all():
    samples = {4: LOCAL4, 16: LOCAL16}
    assert bench_scaling.efficiency(samples, [(4, 16)]) == {"4->16": 0.846}


def test_write_report_keeps_the_manual_tail(tmp_path):
    path = tmp_path / "BASELINE.md"
    tail = (
        bench_scaling.MARKER
        + "\n\n## Window validity criterion\n\n| run | eff |\n|---|---|\n"
        + "| r5 | 0.846 — PASS |\n\nno trailing newline"
    )
    path.write_text("# old generated head\n\nstale numbers 0.5\n\n" + tail)
    report = {
        "sf": "sf0.1",
        "docs": 40000,
        "levels": {
            lv: {
                "cpus": lv,
                "runs_sec": secs,
                "best_sec": min(secs),
                "docs_per_sec": round(40000 / min(secs), 1),
            }
            for lv, secs in ((4, LOCAL4), (16, LOCAL16))
        },
        "efficiency": {"4->16": 0.846},
        "workload_ceiling_multiproc": {"4->16": 0.906},
        "primary": "4->16",
        "scaling_efficiency": 0.846,
        "target": 0.8,
        "pass": True,
        "generated": "2026-08-18 22:17:44",
    }
    bench_scaling.write_report(str(path), report, launches=3, replicate=8)
    text = path.read_text()
    head, kept = text[: text.index(bench_scaling.MARKER)], text[text.index(bench_scaling.MARKER) :]
    assert kept == tail
    assert "stale numbers" not in head
    assert "| local[16] | [13.56, 14.09, 12.72, 9.65, 11.4, 9.26] | 9.26 | 4319.7 |" in head
    assert "| 4->16 | 0.846 | 0.906 | 0.93 |" in head
    assert "**0.846**" in head and "PASS" in head
