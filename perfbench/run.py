#!/usr/bin/env python3
"""Run one benchmark workload in this fresh process and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout of the repository.  Everything it
writes goes under ``.perfbench_work/`` (removed at the end) and
``.perfbench_out/`` (the run record: environment, one record per op
and, with ``--trace 1``, the spans).  The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, the end-to-end metrics with ``--trace 0`` and the
per-layer metrics with ``--trace 1``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def process_start_epoch() -> float:
    """Wall-clock time this process was created (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def configure_env(work: str) -> None:
    """Keep Spark, its Python workers and temp files inside ``work``."""
    for d in ("tmp", "spark-local", "scratch", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join([  # read (shlex-split) when the JVM starts
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--conf", shlex.quote(
                f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={os.path.join(work, 'tmp')}"),
            # keep every job and stage of a run for the traced read-out
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            "pyspark-shell",
        ]),
    })
    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time between two ``cpu_times`` samples
    that the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def error_class(err: BaseException | None) -> str | None:
    """Python exception class, plus the Java root cause for JVM errors."""
    if err is None:
        return None
    name = type(err).__name__
    jexc = getattr(err, "java_exception", None)
    if jexc is not None:
        try:
            while jexc.getCause() is not None:
                jexc = jexc.getCause()
            name += "/" + jexc.getClass().getName()
        except Exception:  # noqa: BLE001 - the gateway may be gone
            pass
    return name


class Loop:
    """Closed loop, one client: runs whole cycles of the workload's op
    list and keeps one record per op."""

    def __init__(self, wl):
        self.wl = wl
        self.records: list[dict] = []
        self.own_s = 0.0  # time in the workload's per-op preparation and checks

    def op(self, op_type: str, phase: str) -> dict:
        wl = self.wl
        t_own = time.perf_counter()
        wl.before_op(op_type)
        start = time.time()
        t0 = time.perf_counter()
        try:
            result, err = wl.run_op(op_type, phase == "warmup"), None
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            result, err = None, e
        t1 = time.perf_counter()
        latency = t1 - t0
        err = wl.after_op(op_type, result, err)
        self.own_s += (t0 - t_own) + (time.perf_counter() - t1)
        rec = {
            "id": len(self.records), "type": op_type, "phase": phase,
            "start": start, "end": start + latency, "latency_s": latency,
            "ok": err is None, "error": error_class(err),
        }
        if err is not None:
            rec["detail"] = str(err).splitlines()[0][:300] if str(err) else ""
        self.records.append(rec)
        return rec

    def cycles(self, n: int, phase: str) -> None:
        for _ in range(n):
            for op_type in self.wl.cycle():
                self.op(op_type, phase)

    def window(self, seconds: float, phase: str) -> float:
        """The measured window: round(seconds / cycle_s) whole cycles, at
        least one.  Returns its wall time, less the time the benchmark
        spent preparing and checking ops."""
        t0, own0 = time.perf_counter(), self.own_s
        self.cycles(max(1, round(seconds / self.wl.cycle_s)), phase)
        return time.perf_counter() - t0 - (self.own_s - own0)


def tail(latencies: list[float]) -> tuple[float, float]:
    """(latency, percentile) at the highest percentile that still has
    ten ops beyond it.  Below 20 ops that percentile would sit under
    the median, so the slowest op (p100) stands in for the tail."""
    s = sorted(latencies)
    n = len(s)
    if n < 20:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def end_to_end(ops: list[dict], wall: float, setup_s: float, stored: tuple[int, int]) -> dict:
    ok = [r["latency_s"] for r in ops if r["ok"]]
    tail_s, _ = tail(ok) if ok else (float("nan"), 0.0)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ops_per_s": {"value": len(ok) / wall, "unit": "1/s"},
        "op_median_s": {"value": statistics.median(ok) if ok else float("nan"), "unit": "s"},
        "op_tail_s": {"value": tail_s, "unit": "s"},
        "ops_ok_frac": {"value": len(ok) / len(ops), "unit": "fraction"},
        "stored_bytes_per_row": {"value": stored[0] / max(stored[1], 1), "unit": "B/row"},
    }


def environment(spark, seed: int) -> dict:
    import platform

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "python": platform.python_version(),
        "seed": seed,
        "loadavg_1m_start": os.getloadavg()[0],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    proc_start = process_start_epoch()

    sys.path[:0] = [ROOT, HERE]
    import numpy as np

    import workloads  # fails here when the package is not beside perfbench/
    from lab5_lakehouse_etl_spark.session import build_session

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    configure_env(work)
    os.chdir(work)  # stray Spark files (derby.log, metastore_db) land in work
    spark = None
    try:
        spark = build_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_ready = time.time()
        env = environment(spark, args.seed)
        wl = workloads.WORKLOADS[args.workload]()
        wl.setup(spark, work, np.random.default_rng(args.seed))
        loop = Loop(wl)
        warm0 = time.time()
        loop.cycles(wl.warmup_cycles, "warmup")
        measured0 = time.time()
        setup_s = measured0 - proc_start
        cpu0 = cpu_times()
        wall = loop.window(args.seconds, "measure")
        env["steal_frac_measured"] = steal_frac(cpu0, cpu_times())
        traced = None
        if args.trace:
            # a half-length traced window with every layer wrapped, then
            # an untraced one of the same length: the overhead compares
            # the traced ops with as many untraced ops on each side, so a
            # steady warm-up drift cancels
            import tracer

            traced = tracer.Tracer(spark, wl)
            with traced.installed():
                loop.window(args.seconds / 2, "traced")
            loop.window(args.seconds / 2, "after")
        bad = wl.check()
        for r in loop.records:
            if r["phase"] in ("measure", "traced", "after") and r["ok"] and r["type"] in bad:
                r.update(ok=False, error="OutputMismatch", detail=bad[r["type"]])
        measured = [r for r in loop.records if r["phase"] == "measure"]
        stored = wl.stored()
        env["loadavg_1m_end"] = os.getloadavg()[0]
        timing = {
            "process_start": proc_start, "session_ready": session_ready,
            "warmup_start": warm0, "measure_start": measured0,
        }
        if args.trace:
            ops = [r for r in loop.records if r["phase"] == "traced"]
            after = [r for r in loop.records if r["phase"] == "after"]
            untraced = measured[-len(after):] + after
            metrics = traced.per_layer(ops, untraced, timing, wl.tables())
        else:
            ops = measured
            metrics = end_to_end(ops, wall, setup_s, stored)
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "env": env, "timing": timing,
            "tail_percentile": tail([r["latency_s"] for r in measured if r["ok"]] or [0.0])[1],
            "failures": {f"{r['phase']}/{r['type']}": r["error"] for r in loop.records if not r["ok"]},
            "mismatches": bad, "ops": loop.records,
        }
        os.makedirs(out_dir, exist_ok=True)
        name = f"{args.workload}-s{args.seed}-t{args.trace}"
        with open(os.path.join(out_dir, name + ".json"), "w") as fh:
            json.dump(record, fh, indent=1)
        if traced is not None:
            traced.write(os.path.join(out_dir, name + ".spans.json"))
        print(json.dumps({k: v for k, v in record.items() if k != "ops"}
                         | {"ops": [{k: r[k] for k in ("id", "type", "phase", "start", "end", "ok", "error")}
                                    for r in loop.records]}))
        print(json.dumps({
            "correct": not bad,
            "attempted": len(ops),
            "failed": sum(1 for r in ops if not r["ok"]),
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
