"""Benchmark harness: times the declared queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
The printed line is kept under 1900 bytes (the recording driver
parses the final line of a 2000-byte stdout tail); the full payload
(tier-2 timings, calibration ratios) is written to bench_detail.json.

Two tiers since r7: the 67-query HEADLINE set (min-of-3-passes; its
total is `value`, unchanged in composition since r4 so it stays
cross-round comparable) plus a single-pass sweep of EVERY other
declared query (lakehouse mutations, streaming drains, multimodal,
long-tail relational) so no code path is perf-invisible. All entries
carry `queries_ratio` (wall / calibration_sec) for host-load-immune
cross-round comparison.

Each query is forced with a cheap but complete action
(df.foreach no-op would still move rows to Python; we use
count() on a cached plan? No — write.format("noop") is the
standard sink that executes the full plan JVM-side with zero
serialization cost).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lab5_lakehouse_etl_spark import queries as Q
from lab5_lakehouse_etl_spark.session import DEFAULT_SF_DIR, build_session

#: Headline set: the scans/joins/aggs/windows that dominate real
#: workloads, plus the LLM-data operators. Streaming/side-effect
#: queries are excluded (they measure sink setup, not the engine).
BENCH_QUERIES = [
    "q_agg_groupby",
    "q_agg_rollup",
    "q_agg_countd",
    "q_join_inner",
    "q_join_star",
    "q_join_semi",
    "q_window_dedup",
    "q_topk_pergroup",
    "q_window_asof",
    "q_window_tumbling",
    "q_sort_limit",
    "q_set_except",
    "q_text_tokens",
    "q_text_quality",
    "q_fingerprint",
    "q_dedup_exact_docs",
    "q_dedup_minhash",
    "q_topk_similarity",
    "q_dedup_embedding",
    "q_corpus_curate",
    "q_pack_sequences",
    "q_subquery_scalar",
    "q_pivot",
    "q_pipeline_orders",
    "q_pipeline_items",
    "q_pipeline_products",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q6",
    "q_tpch_q10",
    "q_tpch_q12",
    "q_tpch_q14",
    "q_tpch_q18",
    "q_tpch_q7",
    "q_tpch_q15",
    "q_tpch_q17",
    "q_tpch_q19",
    "q_sessionize_batch",
    "q_funnel",
    "q_skew_salted_agg",
    "q_skew_salted_join",
    "q_vocab_topk",
    "q_tpch_q8",
    "q_tpch_q9",
    "q_tpch_q21",
    "q_keyword_search",
    "q_decontaminate",
    "q_embed_quantize",
    "q_outlier_mad",
    "q_histogram",
    "q_quality_gopher",
    "q_cohort_retention",
    "q_ingest_dedup",
    "q_dup_spans",
    "q_lm_unigram",
    "q_hybrid_search",
    "q_triangle_count",
    "q_dup_remove",
    "q_event_debounce",
    "q_bin_equidepth",
    "q_range_join_binned",
    "q_mixture_temperature",
    "q_kcore",
    "q_window_timerange",
    "q_dedup_prefix",
    "q_table_skipping",
    "q_table_skipping_dist",
]


def tier2_queries() -> list[str]:
    """Everything declared but not in the headline set — lakehouse
    mutation paths (merge/DV/clone/optimize), streaming drains,
    multimodal, sources, the long tail of relational/scalar ops.
    Timed ONCE per bench run (no min-of-N): the goal is regression
    VISIBILITY — a merge path that doubles in cost shows up here even
    at n=1, where before r7 it was never timed at all.  Side-effect
    queries include their sink setup by design (that IS their cost);
    cross-round comparison uses the calibration ratio like tier 1.

    ORDER: multi-job side-effect queries (streaming drains, lakehouse
    mutations, index stores) run FIRST, in the youngest driver.
    Measured round 8 (README "Bench environment variance"): per-job
    scheduler overhead grows with driver session age, so a 15-job
    drain measured at sweep slot ~190 reads 2-6x its fresh-session
    wall (q_stream_neardup 5s fresh -> 13-29s late-sweep) while
    single-plan queries barely move.  Front-loading the job-heavy
    family makes the sweep aging land on the queries it cannot
    distort — plan signal, not slot-number artifact."""
    rest = [n for n in Q.QUERIES if n not in BENCH_QUERIES]
    heavy_prefixes = (
        "q_stream_", "q_merge_", "q_mv_", "q_table_", "q_pipeline_",
        "q_ann_index", "q_ann_recall", "q_dedup_index", "q_dedup_epoch",
        "q_ingest_", "q_xlsx",
    )
    heavy = [n for n in rest if n.startswith(heavy_prefixes)]
    return heavy + [n for n in rest if n not in set(heavy)]


def force(df) -> None:
    """Execute the full plan JVM-side (noop sink: no collect, no IO)."""
    df.write.format("noop").mode("overwrite").save()


def calibration_query(spark, sf_dir):
    """Fixed host-speed probe: scan -> shuffle agg -> shuffle join ->
    final agg over lineitem+orders, written INLINE here so it never
    changes when the engine's operator code does. Its wall time moves
    only with ambient host load / IO, so `ratio = query_sec /
    calibration_sec` is comparable across rounds even when raw seconds
    drift uniformly (round 5 measured a ~10% whole-suite swing with
    zero perf commits — this query exists to factor that out).
    DO NOT EDIT this plan; a code change here invalidates cross-round
    ratio comparisons."""
    from pyspark.sql import functions as F

    from lab5_lakehouse_etl_spark.session import load_table

    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").alias("cal_qty"),
            F.count(F.lit(1)).alias("cal_lines"),
        )
    )
    return (
        load_table(spark, sf_dir, "orders")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.sum("cal_qty").alias("cal_sum_qty"),
            F.sum("cal_lines").alias("cal_sum_lines"),
            F.count(F.lit(1)).alias("cal_orders"),
        )
    )


#: Budget for the PRINTED summary line: the recording driver keeps the
#: last 2000 bytes of stdout and json-parses the final line within it,
#: so the line must fit entirely inside that tail (plus newline slack).
LINE_BUDGET = 1900


def env_probe() -> dict[str, bool]:
    """Record whether two optional dependencies are importable in THIS
    environment (r8 verdict #6): delta-spark (an external Delta reader
    for the ``_delta_log`` mirror) and protobuf inside pyspark (needed by
    transformWithStateInPandas, streaming/events.py).  Recorded in every
    bench line so the round the sandbox gains these deps, the skipped
    tests flipping to passes needs no archaeology — the flag flips in
    the same artifact."""
    import importlib.util

    def _has(mod: str) -> bool:
        try:
            # find_spec raises ModuleNotFoundError when even the PARENT
            # package is absent (google.protobuf without google)
            return importlib.util.find_spec(mod) is not None
        except ModuleNotFoundError:
            return False

    return {"delta_spark": _has("delta"), "protobuf": _has("google.protobuf")}


def ratio_regressions(
    tier1: dict[str, float], cal_sec: float
) -> tuple[dict[str, list], str | None]:
    """Fail-soft cross-round regression gate (r8 verdict #7): raw wall
    deltas are ambient-dominated (calibration drifted 0.571→0.735 s
    between r7 and r8 with no perf commits), so the stable signal is the
    per-query CALIBRATION RATIO (wall / calibration_sec).  Loads the
    newest BENCH_r*.json beside this file, recomputes its tier-1 ratios
    from its own calibration_sec, and reports every query whose ratio
    moved by more than 1.5x in either direction.  Report, never abort:
    the bench's job is visibility; adjudicating a flagged ratio (plan
    regression vs fixture change vs documented rewrite) is review work.

    The baseline is the newest ``BENCH_r<N>.json`` beside this file
    (per-host sidecars such as ``BENCH_r16_c8.json`` are not baselines);
    ``SPARK_GRAFT_BENCH_BASELINE_ROUND=N`` pins the newest round <= N
    instead.

    Returns ({name: [prev_ratio, cur_ratio]}, baseline_filename)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))

    def _round_of(p: str) -> int | None:
        m = re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p))
        return int(m.group(1)) if m else None

    try:
        pinned = int(os.environ.get("SPARK_GRAFT_BENCH_BASELINE_ROUND", ""))
    except ValueError:  # unset, blank or garbage env: newest round
        pinned = None
    rounds = sorted(
        (
            p
            for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
            if _round_of(p) is not None
            and (pinned is None or _round_of(p) <= pinned)
        ),
        key=_round_of,
    )
    if not rounds or cal_sec <= 0:
        return {}, None
    prev_path = rounds[-1]
    try:
        with open(prev_path) as fh:
            prev = json.load(fh)
        # the driver wraps the parsed bench line under "parsed"
        prev = prev.get("parsed") or prev
        prev_cal = float(prev["calibration_sec"])
        prev_q = prev["queries"]
    except (OSError, ValueError, KeyError, TypeError):
        return {}, None
    if prev_cal <= 0:
        return {}, None
    flagged: dict[str, list] = {}
    for name, cur_wall in tier1.items():
        pw = prev_q.get(name)
        if pw is None or pw <= 0 or cur_wall <= 0:
            continue
        prev_ratio = pw / prev_cal
        cur_ratio = cur_wall / cal_sec
        if cur_ratio > 1.5 * prev_ratio or prev_ratio > 1.5 * cur_ratio:
            # round to 3: a ~3 ms query against a ~0.7 s calibration has
            # ratio ~0.004, and a 2-decimal round would store 0.0 —
            # which compact_line's worst-first sort then DIVIDES by
            # (fail-soft gate turned fail-hard crash); the max() floor
            # below guards the same division against any future
            # smaller-than-rounding ratio
            flagged[name] = [
                max(round(prev_ratio, 3), 1e-6),
                max(round(cur_ratio, 3), 1e-6),
            ]
    return flagged, os.path.basename(prev_path)


#: reference calibration wall (seconds) for the printed
#: ``value_calibrated`` field (r13 verdict ask #7, literal form):
#: ``value * CAL_REF_SEC / calibration_sec`` — the tier-1 total
#: re-expressed as "seconds on a host where the fixed calibration
#: query takes 0.70 s" (the r13/r14 calibration band), so cross-round
#: comparison is one field in BENCH_r{N}.json itself with host-load
#: drift divided out.  The constant must NEVER move between rounds —
#: moving it silently rescales history.
CAL_REF_SEC = 0.70


def compact_line(
    total: float,
    all_timings: dict[str, float],
    tier1: dict[str, float],
    detail: dict,
    cal_sec: float,
    sf_val,
) -> str:
    """Size-guarded summary line: TIER-1 timings only, then degrade
    decimals, then drop the FASTEST queries (slow ones are the signal)
    — each step reported via queries_omitted, never silent. The full
    payload is in bench_detail.json (see `detail` key)."""

    # worst-first, capped at 8 names in the printed line (full map in
    # the sidecar) so a pathological round can't blow the byte budget
    regs = detail.get("ratio_regressions", {})
    regs_line = dict(
        sorted(
            regs.items(),
            key=lambda kv: -max(kv[1][0] / kv[1][1], kv[1][1] / kv[1][0]),
        )[:8]
    )

    def _line(qdict: dict[str, float], omitted: int, ndigits: int) -> str:
        payload = {
            "metric": "declared_query_wall_time",
            # `value` stays the TIER-1 total (same 67-query set since
            # r4) so it remains comparable across rounds
            "value": round(total, 3),
            "value_calibrated": round(total * CAL_REF_SEC / cal_sec, 3)
            if cal_sec > 0
            else None,
            "unit": "sec",
            "n_queries": len(all_timings),
            "tier2_total": detail["tier2_total"],
            "tier2_skipped_n": len(detail["tier2_skipped"]),
            "isolated_n": len(detail.get("isolated_sec", {})),
            "calibration_sec": cal_sec,
            "ratio_regressions": regs_line,
            "ratio_regressions_n": len(regs),
            "ratio_flags_cleared_n": len(
                detail.get("ratio_flags_cleared_by_remeasure", {})
            ),
            "env": detail.get("env", {}),
            "cpus": detail.get("cpus"),
            "queries": {n: round(t, ndigits) for n, t in qdict.items()},
            "queries_omitted": omitted,
            "detail": "bench_detail.json",
            "sf": sf_val,
        }
        return json.dumps(payload, separators=(",", ":"))

    n_t2 = len(all_timings) - len(tier1)
    line = _line(tier1, n_t2, 3)
    if len(line.encode()) > LINE_BUDGET:
        line = _line(tier1, n_t2, 2)
    kept = dict(sorted(tier1.items(), key=lambda kv: -kv[1]))
    while len(line.encode()) > LINE_BUDGET and kept:
        kept.pop(next(reversed(kept)))
        line = _line(kept, len(all_timings) - len(kept), 2)
    return line


def preflight() -> None:
    """Correctness gate before timing: run the differential-oracle suite
    at sf0.01 (the driver's correctness scale — fixture-scale edge cases
    like ties and null buckets surface here before the driver sees
    them). Opt-in via ``--preflight`` / SPARK_GRAFT_BENCH_PREFLIGHT=1 so
    the driver's timed run is never polluted; exits non-zero on any
    mismatch."""
    import subprocess

    env = dict(os.environ, SPARK_GRAFT_TEST_SF_DIR="/root/testdata/sf0.01")
    rc = subprocess.call(
        [sys.executable, "-m", "pytest", "tests/test_oracle.py", "-q", "-x"],
        env=env,
        cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    if rc != 0:
        sys.exit(rc)


def warmup(spark, sf_dir: str, build_artifacts: bool = True) -> None:
    """Untimed process bring-up — shared by the main sweep and the
    --isolate-run child so both measure the engine, not JVM/worker
    startup; see the inline comments for what each block buys.
    ``build_artifacts=False`` (the isolate child) skips the build-once
    fixture artifacts its queries never consume (~10 s saved from the
    child's budget)."""
    # Untimed warmup: exercise scan → shuffle → agg once so JVM JIT,
    # codegen compilation, and shuffle-service init don't land in the
    # first measured query, and spin up the Python/Arrow worker pool
    # (each worker imports pandas+numpy once) so Arrow-batched operators
    # measure execution, not interpreter startup. Measures the engine,
    # not process bring-up.
    import pandas as pd

    from pyspark.sql import functions as F

    from lab5_lakehouse_etl_spark.session import load_table

    force(
        load_table(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Touch every table's parquet once (count = footer + full column
    # stream) so measured queries hit a warm OS page cache uniformly —
    # otherwise whichever query first scans lineitem/documents pays a
    # multi-second cold read that belongs to the disk, not the plan.
    from lab5_lakehouse_etl_spark.session import TABLES

    for tbl in TABLES:
        load_table(spark, sf_dir, tbl).count()
    force(
        load_table(spark, sf_dir, "nation")
        .repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        .mapInPandas(
            lambda it: iter(pd.DataFrame({"x": [1]}) for _ in it), schema="x long"
        )
    )
    # Warm the lakehouse commit and streaming-drain machinery too: the
    # first LakeTable create/merge in a fresh session pays merge-path
    # codegen + parquet-writer init, and the first availableNow drain
    # pays state-store/sink bring-up — otherwise whichever tier-2
    # query runs one of them first absorbs seconds of one-time cost
    # (measured: q_merge_upsert 14.6 s first execution vs 4.0 s after)
    # that belongs to process bring-up, not the plan.
    import shutil
    import tempfile

    from lab5_lakehouse_etl_spark.lakehouse import LakeTable

    wtmp = tempfile.mkdtemp(prefix="bench_warm_")
    try:
        tiny = load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("k"), F.col("n_name").alias("s")
        )
        wt = LakeTable.create(tiny, f"{wtmp}/t")
        wt.merge(spark, tiny.limit(5), key=["k"])
        wt.read(spark).count()
    finally:
        shutil.rmtree(wtmp, ignore_errors=True)
    # Build the fixture-keyed BUILD-ONCE artifacts before the sweep
    # (r10 verdict #8): the exact char-5 Jaccard truth relation is a
    # per-process persisted LakeTable consumed by two tier-2 queries
    # (q_dedup_jaccard_dense's output, q_dedup_simhash's truth set);
    # tier 2 is single-pass, so without this the FIRST consumer's row
    # absorbs the ~6 s build that is amortized artifact cost, not that
    # query's plan. Same treatment as OS page-cache warming above —
    # visible here, untimed, and the build path itself stays under the
    # differential oracle in every fresh correctness process.
    if build_artifacts:
        from lab5_lakehouse_etl_spark.queries.dedup_ops import (
            _ensure_char5_jaccard_truth,
        )

        _ensure_char5_jaccard_truth(spark, sf_dir)
    from lab5_lakehouse_etl_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
    )
    from lab5_lakehouse_etl_spark.session import table_path as _tp

    run_to_memory(
        read_events_stream(spark, _tp(sf_dir, "events")).filter(
            "event_id < 0"  # zero rows: init the machinery, move nothing
        ),
        "bench_warm_sink",
        spark,
    ).count()


#: Job-count-heavy tier-2 queries re-measured in a FRESH subprocess
#: (r10 verdict #4): their sweep-slot numbers are dominated by the
#: measured driver-aging artifact of the 213-plan sweep (per-job
#: scheduler overhead grows with driver session age — README "Bench
#: environment variance"), so the sweep row is useless as a regression
#: signal. The isolated run is one young driver executing only these,
#: right after warmup — the "fresh-session" number the r8 measurement
#: quoted. Sweep numbers stay in `queries` (sweep comparability);
#: isolated numbers land in `isolated_sec` and REPLACE the sweep value
#: in `queries_ratio`, which is what cross-round regression review
#: reads for these names.
#: q_merge_upsert is deliberately absent: it runs in the heavy-first
#: tier-2 slots (young driver already) and the r10 verdict judged its
#: sweep number fine.  q_ann_recall_monitor joined in r13 (r12
#: verdict #4): its sweep number swung 9.1 -> 25.4 s across rounds on
#: unchanged code — drift amplified by its multi-job structure — so
#: like q_stream_neardup it gets the fresh-process measurement plus a
#: build/append/probe phase split (similarity_ops.ANN_MONITOR_PHASES)
#: and a probe job-count pin in tests/test_plans.py.
ISOLATE_QUERIES = [
    "q_stream_neardup",
    "q_ann_index_append",
    "q_ann_index_store",
    "q_ann_recall_monitor",
]


def isolate_child(names: list[str], sf_dir: str) -> None:
    """--isolate-run child: fresh session + shared warmup, then ONE
    timed execution per query; prints ONE JSON line.

    Measurement definition (deliberate): isolated_sec is the
    FIRST-execution wall in a young driver — it includes one-time plan
    codegen for these multi-job queries (measured ~2x their
    steady-state wall), which the 200-plan sweep number amortizes but
    pollutes with driver aging.  The definition is STABLE round over
    round (same warmup, same fresh process), which is what a
    regression signal needs; do not compare isolated_sec against the
    sweep number in `queries` — compare it against prior rounds'
    isolated_sec."""
    import gc

    Q.load_all()
    spark = build_session("lab5-bench-isolated")
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, sf_dir, build_artifacts=False)
    out: dict[str, float] = {}
    phases: dict[str, float] = {}
    ann_phases: dict[str, float] = {}
    for name in names:
        fn = Q.QUERIES[name]
        t0 = time.perf_counter()
        try:
            force(fn(spark, sf_dir))
            out[name] = round(time.perf_counter() - t0, 3)
        except Exception:
            out[name] = -1.0
        if name == "q_stream_neardup":
            # cost attribution (r11 verdict #7): index-build vs drain
            # split of the registry's heaviest query, so an O(table)
            # regression in the per-batch probe path is visible as
            # drain-side job/time growth instead of hiding in the
            # build wall.  Populated by the query itself.
            from lab5_lakehouse_etl_spark.queries import streaming_ops

            phases = dict(streaming_ops.NEARDUP_PHASES)
        elif name == "q_ann_recall_monitor":
            # same attribution for the monitor (r12 verdict #4):
            # build/append/probe wall+job split, populated by the query
            from lab5_lakehouse_etl_spark.queries import similarity_ops

            ann_phases = dict(similarity_ops.ANN_MONITOR_PHASES)
        spark.catalog.clearCache()
        gc.collect()
    print(
        json.dumps(
            {
                "isolated": out,
                "neardup_phases": phases,
                "ann_monitor_phases": ann_phases,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


def run_isolated(
    sf_dir: str, remaining_budget: float
) -> tuple[dict, list, dict, dict]:
    """Spawn the isolate child if the budget allows; returns
    ({name: isolated_sec}, skipped_names, neardup_phases,
    ann_monitor_phases). Fail-soft: a child crash or timeout reports
    every name as skipped, never kills the bench."""
    import subprocess

    names = [n for n in ISOLATE_QUERIES if n in Q.QUERIES]
    if os.environ.get("SPARK_GRAFT_BENCH_ISOLATE", "1") != "1" or not names:
        return {}, names, {}, {}
    # one session bring-up + artifact-free warmup (~30 s) + the four
    # queries (~30 s fresh, q_ann_recall_monitor joined in r13):
    # refuse below 85 s so the child can't blow the driver's window
    if remaining_budget < float(
        os.environ.get("SPARK_GRAFT_BENCH_ISOLATE_MIN_BUDGET", "85")
    ):
        return {}, names, {}, {}
    try:
        proc = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--isolate-run",
                ",".join(names),
            ],
            capture_output=True,
            text=True,
            timeout=max(remaining_budget, 60),
            env=dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir),
        )
        last = proc.stdout.strip().splitlines()[-1]
        parsed = json.loads(last)
        got = parsed.get("isolated", {})
        # a child-side failure is recorded as -1.0; report it as
        # SKIPPED, not as a measurement (r11 review: counting it in
        # isolated_n while queries_ratio silently falls back to the
        # sweep number hides the failed re-measure from review)
        ok = {k: v for k, v in got.items() if v > 0}
        return (
            ok,
            [n for n in names if n not in ok],
            parsed.get("neardup_phases", {}),
            parsed.get("ann_monitor_phases", {}),
        )
    except Exception:
        return {}, names, {}, {}


def remeasure_child(names: list[str], sf_dir: str) -> None:
    """--remeasure-run child: fresh session + artifact-free warmup,
    then min-of-3 calibration and min-of-3 per flagged query; prints
    ONE JSON line.  This automates the manual 5-run fresh-session
    protocol the r12 README documented (r12 verdict #5)."""
    import gc

    Q.load_all()
    spark = build_session("lab5-bench-remeasure")
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, sf_dir, build_artifacts=False)
    cal = float("inf")
    out: dict[str, float] = {}
    for _ in range(3):
        t0 = time.perf_counter()
        force(calibration_query(spark, sf_dir))
        cal = min(cal, round(time.perf_counter() - t0, 3))
        for name in names:
            fn = Q.QUERIES[name]
            t0 = time.perf_counter()
            try:
                force(fn(spark, sf_dir))
                dt = round(time.perf_counter() - t0, 3)
                out[name] = min(out.get(name, dt), dt)
            except Exception:
                out[name] = -1.0
            spark.catalog.clearCache()
            gc.collect()
    print(
        json.dumps(
            {"calibration_sec": cal, "queries": out},
            separators=(",", ":"),
        )
    )
    spark.stop()


def auto_remeasure(
    flagged: dict[str, list], sf_dir: str
) -> tuple[dict[str, list], dict[str, list], list[str]]:
    """Automated flag adjudication (r12 verdict #5): the worst 8 ratio
    flags are re-measured in a fresh subprocess (min-of-3 against its
    own fresh calibration) before being recorded.  Returns (still_flagged,
    cleared_by_remeasure, skipped): a flag whose re-measured ratio is
    back inside the 1.5x envelope of the previous round's ratio moves
    to ``ratio_flags_cleared_by_remeasure`` with BOTH numbers
    recorded — the gate's signal stays clean as the registry grows,
    and a real regression (re-measure still out of envelope) keeps
    its flag with the re-measured ratio appended as third element.

    Budgeting: the child gets its OWN bounded allowance
    (SPARK_GRAFT_BENCH_REMEASURE_BUDGET, default 150 s) rather than
    the main bench budget's remainder — flags fire after the tier-2
    sweep has consumed most of that budget, and a skipped
    adjudication every flagged round would defeat the feature.  Flags
    are rare in steady state (r12: 4, all drift), the child is hard-
    capped, and the driver's round window absorbs it the same way it
    absorbs the pytest run."""
    import subprocess

    budget = float(os.environ.get("SPARK_GRAFT_BENCH_REMEASURE_BUDGET", "150"))
    if not flagged or budget <= 0 or os.environ.get(
        "SPARK_GRAFT_BENCH_REMEASURE", "1"
    ) != "1":
        return flagged, {}, []
    # flagged queries are tier-1 (sub-second to a few sec); the child
    # cost is dominated by bring-up + warmup (~35 s) + 3*(cal+queries).
    # Cap the re-measured set at 8 worst flags to bound the child.
    candidates = sorted(
        flagged,
        key=lambda n: -max(
            flagged[n][0] / flagged[n][1], flagged[n][1] / flagged[n][0]
        ),
    )[:8]
    try:
        proc = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--remeasure-run",
                ",".join(candidates),
            ],
            capture_output=True,
            text=True,
            timeout=budget,
            env=dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir),
        )
        parsed = json.loads(proc.stdout.strip().splitlines()[-1])
        re_cal = float(parsed["calibration_sec"])
        re_q = parsed["queries"]
    except Exception:
        return flagged, {}, candidates
    if re_cal <= 0:
        return flagged, {}, candidates
    still: dict[str, list] = {}
    cleared: dict[str, list] = {}
    for name, (prev_ratio, cur_ratio) in flagged.items():
        rw = re_q.get(name)
        if rw is None or rw <= 0:
            still[name] = [prev_ratio, cur_ratio]
            continue
        re_ratio = max(round(rw / re_cal, 3), 1e-6)
        rec = [prev_ratio, cur_ratio, re_ratio]
        if (
            re_ratio <= 1.5 * prev_ratio
            and prev_ratio <= 1.5 * re_ratio
        ):
            cleared[name] = rec
        else:
            still[name] = rec
    return still, cleared, []


def main() -> None:
    if "--remeasure-run" in sys.argv:
        os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")
        names = sys.argv[sys.argv.index("--remeasure-run") + 1].split(",")
        remeasure_child(
            [n.strip() for n in names if n.strip()],
            os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR),
        )
        return
    if "--isolate-run" in sys.argv:
        os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")
        names = sys.argv[sys.argv.index("--isolate-run") + 1].split(",")
        isolate_child(
            [n.strip() for n in names if n.strip()],
            os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR),
        )
        return
    if "--preflight" in sys.argv or os.environ.get(
        "SPARK_GRAFT_BENCH_PREFLIGHT"
    ) == "1":
        preflight()
    # budget clock starts AFTER the opt-in preflight on purpose: the
    # driver never runs preflight, and a local preflight (minutes of
    # pytest) eating the tier-2 budget would make dev runs silently
    # less covered than driver runs
    bench_start = time.perf_counter()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Python workers inherit this env: pyspark's own stateful-streaming
    # serializer trips a pandas-2.x FutureWarning (serializers.py:1696,
    # concat of empty state frames — not our code) once per worker,
    # which would land in the size-guarded bench tail. Bench-scope
    # only; pytest keeps the default warning policy.
    os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")
    Q.load_all()
    spark = build_session("lab5-bench")
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, sf_dir)

    # Multiple full passes, report the per-query MINIMUM: pass 1 still
    # pays residual JIT/codegen-cache warm-up for whichever operators
    # run first, which round-over-round diffing then misreads as plan
    # regressions (r1→r2 flagged 5 front-of-suite queries ±40% with
    # untouched code). min-of-N keeps the plan signal, drops the
    # warm-up ordering artifact. Default raised to 3 in round 4 after
    # measuring 1.5-2x host-load variance on byte-identical code (see
    # README "Bench environment variance"): a third pass materially
    # tightens the minimum under background load at ~+50% bench wall
    # time.
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    timings: dict[str, float] = {}
    cal_sec = float("inf")
    import gc

    for _ in range(max(1, passes)):
        # calibration first in each pass, same min-of-N treatment
        t0 = time.perf_counter()
        force(calibration_query(spark, sf_dir))
        cal_sec = min(cal_sec, round(time.perf_counter() - t0, 3))
        for name in BENCH_QUERIES:
            fn = Q.QUERIES[name]
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            timings[name] = min(timings.get(name, dt), round(dt, 3))
            # OUTSIDE the timed section: drop py4j refs to the previous
            # query's localCheckpoint/cached RDDs so the ContextCleaner
            # unpins their blocks, and clear any leftover cached
            # relations — 200 query executions in one driver otherwise
            # accumulate dead storage blocks whose GC pressure bleeds
            # into later measurements (real deployments never run 200
            # plans in one driver loop; every query callable is
            # self-contained, so cross-query cache state is never load-
            # bearing)
            spark.catalog.clearCache()
            gc.collect()
    total = sum(timings.values())

    # 480 -> 660 in r12: the identical-calibration r11 run measured the
    # 227-query sweep at ~0 margin under 480 s; r12's registry is 233
    # with six new codec-CPU queries, and 480 s tripped locally (26
    # tier-2 names skipped).  560 s restored zero skips on WARM
    # build-once artifacts (tier-2 ~207 s) but a COLD run — scratch
    # artifacts rebuilt, which is exactly the driver's per-round state
    # — measured tier-2 at 335 s (same per-query times on the common
    # set; the delta is one-time artifact builds) and skipped the last
    # two names at 560 s.  660 s covers the cold shape with margin and
    # stays far inside the driver's round window (which also absorbs a
    # ~15 min pytest run).
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "660"))

    # isolated re-measure of the job-count-heavy family in a fresh
    # subprocess (r10 verdict #4) — BEFORE the tier-2 sweep since r11:
    # the child's measurement is subprocess-isolated (its number does
    # not depend on when the parent spawns it), but running it last
    # starved it whenever the sweep grew (r11: 12 new queries pushed
    # the sweep past the 65 s floor and isolated_n silently dropped to
    # 0 — the exact regression-instrument loss the r10 verdict flagged)
    isolated, iso_skipped, neardup_phases, ann_monitor_phases = run_isolated(
        sf_dir, budget - (time.perf_counter() - bench_start)
    )

    # tier 2: single-pass sweep of every other declared query so no
    # code path is perf-invisible; skip via SPARK_GRAFT_BENCH_TIER2=0.
    # A wall-clock budget (whole-bench, default 480 s) guards the
    # driver's run window: if it trips, the DROPPED names are reported
    # explicitly (tier2_skipped) — never a silent cap.  Names the
    # isolate child already measured are NOT re-run in the sweep:
    # their sweep-slot numbers are the driver-aging artifact the
    # isolation exists to replace (r10 verdict: "useless as a
    # regression signal"), and skipping them buys the ~25 s that keeps
    # the whole sweep inside the budget; the isolated number lands in
    # their queries row so no name goes missing round-over-round.
    t2_timings: dict[str, float] = {}
    t2_skipped: list[str] = []
    if os.environ.get("SPARK_GRAFT_BENCH_TIER2", "1") == "1":
        for name in tier2_queries():
            if name in isolated:
                t2_timings[name] = isolated[name]
                continue
            if time.perf_counter() - bench_start > budget:
                t2_skipped.append(name)
                continue
            fn = Q.QUERIES[name]
            t0 = time.perf_counter()
            try:
                force(fn(spark, sf_dir))
                t2_timings[name] = round(time.perf_counter() - t0, 3)
            except Exception:
                t2_timings[name] = -1.0  # errored: visible, not fatal
            spark.catalog.clearCache()
            # gc OUTSIDE the timed window costs ~80 ms per call on a
            # populated driver heap (measured) — ~15 s of dead budget
            # over a 200-query sweep; every 8th query still bounds
            # heap creep to a handful of queries' garbage
            if len(t2_timings) % 8 == 0:
                gc.collect()

    all_timings = {**timings, **t2_timings}
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    regs, regs_baseline = ratio_regressions(timings, cal_sec)
    # automated flag adjudication (r12 verdict #5): re-measure flags on
    # dep-unchanged queries in a fresh subprocess before recording them
    regs, regs_cleared, remeasure_skipped = auto_remeasure(regs, sf_dir)
    # ratio basis: isolated number where one exists (driver-aging-free),
    # sweep number otherwise — regression review reads queries_ratio
    ratio_basis = {**all_timings, **{n: t for n, t in isolated.items() if t > 0}}
    detail = {
        "env": env_probe(),
        # the parallelism the run actually had, so a reader of the
        # line can tell a host-driven wall change from a plan change
        "cpus": spark.sparkContext.defaultParallelism,
        "ratio_regressions": regs,
        "ratio_flags_cleared_by_remeasure": regs_cleared,
        "ratio_remeasure_skipped": remeasure_skipped,
        "ratio_regressions_vs": regs_baseline,
        "metric": "declared_query_wall_time",
        "value": round(total, 3),
        "value_calibrated": round(total * CAL_REF_SEC / cal_sec, 3)
        if cal_sec > 0
        else None,
        "unit": "sec",
        "n_queries": len(all_timings),
        "tier1_n": len(timings),
        "tier2_n": len(t2_timings),
        "tier2_total": round(sum(t for t in t2_timings.values() if t > 0), 3),
        "tier2_skipped": t2_skipped,
        "isolated_sec": isolated,
        "isolated_skipped": iso_skipped,
        "neardup_phases": neardup_phases,
        "ann_monitor_phases": ann_monitor_phases,
        "queries": all_timings,
        "calibration_sec": cal_sec,
        "queries_ratio": {
            n: round(t / cal_sec, 2) if cal_sec > 0 and t > 0 else None
            for n, t in ratio_basis.items()
        },
        # per-query CALIBRATED seconds (r15 verdict #10): wall re-expressed
        # on a host where the fixed calibration query takes CAL_REF_SEC,
        # so cross-round review separates host drift from plan changes
        # without hand math.  Isolated numbers used where they exist,
        # like queries_ratio.
        "queries_sec_calibrated": {
            n: round(t * CAL_REF_SEC / cal_sec, 3)
            if cal_sec > 0 and t > 0
            else None
            for n, t in ratio_basis.items()
        },
        "sf": sf_val,
    }
    # Full payload goes to a SIDECAR file: the driver that records
    # BENCH_r{N}.json keeps only the last 2000 BYTES of stdout and
    # json-parses the final line within it. Round 6's line (tier-2
    # timings + ratios inline) was ~6 KB, so the driver saw a
    # mid-string fragment and recorded parsed=null — the bench data
    # existed but was machine-invisible. The printed line below is
    # size-guarded to stay inside that tail window; everything else
    # lives here.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)

    print(compact_line(total, all_timings, timings, detail, cal_sec, sf_val))
    spark.stop()


if __name__ == "__main__":
    main()
