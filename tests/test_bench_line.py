"""The bench summary line must fit the recording driver's stdout-tail
window: the driver keeps the LAST 2000 BYTES of bench stdout and
json-parses the final line found there. Round 6's line (tier-2 timings
and ratios inlined) was ~6 KB, so the driver captured a mid-string
fragment and recorded ``parsed: null`` — a whole round of bench data
machine-invisible. These pins make that failure mode impossible to
reintroduce: every shape the line can take stays under LINE_BUDGET and
parses back, and omissions are always declared, never silent."""

from __future__ import annotations

import json
import os

import bench


def _detail(skipped=()):
    return {"tier2_total": 54.0, "tier2_skipped": list(skipped)}


def test_line_fits_and_parses_with_real_query_names():
    t1 = {n: 1.234 for n in bench.BENCH_QUERIES}
    t2 = {f"q_tier2_{i:03d}": 0.5 for i in range(108)}
    detail = {**_detail(), "cpus": 4}
    line = bench.compact_line(42.1, {**t1, **t2}, t1, detail, 0.644, 0.1)
    assert len(line.encode()) <= bench.LINE_BUDGET
    assert "\n" not in line
    p = json.loads(line)
    assert p["metric"] == "declared_query_wall_time"
    assert p["value"] == 42.1
    assert p["cpus"] == 4
    assert len(p["queries"]) == len(t1)
    # tier-2 entries are omitted from the line (they live in the
    # sidecar) and the omission is DECLARED
    assert p["queries_omitted"] == len(t2)
    assert p["detail"] == "bench_detail.json"


def test_line_truncates_slowest_first_and_declares_it():
    # pathological names force the drop-fastest fallback
    t1 = {("q_" + "y" * 40 + str(i)): float(i) for i in range(67)}
    line = bench.compact_line(42.1, t1, t1, _detail(), 0.644, 0.1)
    assert len(line.encode()) <= bench.LINE_BUDGET
    p = json.loads(line)
    kept = p["queries"]
    assert 0 < len(kept) < 67
    assert p["queries_omitted"] == 67 - len(kept)
    # the SLOWEST queries are the ones kept
    kept_vals = sorted(kept.values())
    assert min(kept_vals) >= 67 - len(kept)


def test_line_survives_near_zero_regression_ratios():
    """A ~3 ms query against a ~0.7 s calibration has ratio ~0.004; the
    worst-first sort divides by the stored ratios, so a value that
    rounds to 0.0 would crash the whole bench while printing (fail-soft
    gate turned fail-hard). Pin that tiny and zero-ish ratios print."""
    t1 = {n: 1.0 for n in list(bench.BENCH_QUERIES)[:3]}
    detail = {
        "tier2_total": 1.0,
        "tier2_skipped": [],
        "ratio_regressions": {"q_tiny": [1e-6, 0.004], "q_big": [1.0, 2.0]},
    }
    line = bench.compact_line(3.0, t1, t1, detail, 0.7, 0.1)
    p = json.loads(line)
    assert set(p["ratio_regressions"]) == {"q_tiny", "q_big"}


def test_line_budget_inside_driver_tail_window():
    # 2000-byte tail minus newline and a safety margin
    assert bench.LINE_BUDGET <= 1950


def test_ratio_baseline_excludes_current_round(monkeypatch):
    """The baseline is the newest round's BENCH_r<N>.json, never a
    per-host sidecar (BENCH_r16_c8.json); an explicit
    SPARK_GRAFT_BENCH_BASELINE_ROUND pins the newest round at or before
    it, so a rerun inside round N can be compared against round N-1."""
    import glob
    import re

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p)))
    ]
    monkeypatch.delenv("SPARK_GRAFT_BENCH_BASELINE_ROUND", raising=False)
    _f, base = bench.ratio_regressions({}, 0.5)
    if rounds:
        assert base == f"BENCH_r{max(rounds):02d}.json"
    # an explicit override pins an existing round exactly
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BASELINE_ROUND", "8")
    _f, base8 = bench.ratio_regressions({}, 0.5)
    assert base8 == "BENCH_r08.json"
    # a blank override falls back to the newest round
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BASELINE_ROUND", "")
    assert bench.ratio_regressions({}, 0.5)[1] == base


def test_main_loop_plumbing_signatures(monkeypatch):
    """Pin the exact call shapes main() uses for the subprocess
    helpers (r13 lesson: an auto_remeasure signature change with a
    stale 3-arg call site crashed AT THE END of a 10-minute sf0.1 run
    with stderr swallowed — the cheapest possible test would have
    caught it).  Each helper must no-op cleanly when its feature is
    disabled/empty, returning the tuple arity main() unpacks."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REMEASURE", "0")
    assert bench.auto_remeasure({}, "/root/testdata/sf0.001") == ({}, {}, [])
    flagged = {"q_x": [1.0, 2.0]}
    assert bench.auto_remeasure(flagged, "/x") == (flagged, {}, [])
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ISOLATE", "0")
    out = bench.run_isolated("/root/testdata/sf0.001", 1e9)
    assert isinstance(out, tuple) and len(out) == 4
