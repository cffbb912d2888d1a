"""The traced run: per-layer numbers for one workload.

Nothing inside the package changes.  ``Tracer.installed()`` wraps each
layer's public entry points from here, for the traced window only, and
records one span per call (name, start, end, parent, thread, error and
a few call attributes).  At the end of the run the spans are joined by
time with what Spark already keeps: the status store's jobs and
stages, the SQL status store's Python-node metrics, a
``QueryExecutionListener`` for planning time, a
``StreamingQueryListener`` for micro-batch progress, plus the CPU time
of the pyspark worker processes from /proc.  Spans stay in memory
until ``write``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import os
import re
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

import workloads
from lab5_lakehouse_etl_spark import queries as Q
from lab5_lakehouse_etl_spark.lakehouse import LakeTable
from lab5_lakehouse_etl_spark.pipelines import runner
from lab5_lakehouse_etl_spark.sources import readers, writers
from lab5_lakehouse_etl_spark.streaming import events as stream_events

PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt_ms(jopt) -> float | None:
    """scala Option[java.util.Date] -> epoch seconds."""
    return jopt.get().getTime() / 1000.0 if jopt.isDefined() else None


def _metric_value(s: str) -> float:
    """First number of a formatted SQL metric ("1.2 KiB", "3,456" or a
    "total (min, med, max)" block), in base units."""
    line = s.split("\n", 1)[-1]
    m = re.match(r"\s*([\d,.]+)\s*(B|KiB|MiB|GiB|TiB)?", line)
    if not m:
        return 0.0
    scale = {None: 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
    return float(m.group(1).replace(",", "")) * scale[m.group(2)]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def worker_cpu_s(jvm_pid: int) -> float:
    """User+system CPU of the JVM's Python descendants (the pyspark
    daemon and its forked workers), including reaped workers.  Other
    descendants, such as the shell commands Hadoop's local file system
    forks, are skipped."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:
            continue
        f = tail.split()
        comm = head.split("(", 1)[1]
        procs[int(pid)] = (int(f[1]), comm, sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    todo, ticks = list(children.get(jvm_pid, [])), 0
    while todo:
        pid = todo.pop()
        _, comm, cpu = procs[pid]
        if comm.startswith("python"):
            ticks += cpu
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def _rss_peak_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            return next(int(l.split()[1]) for l in fh if l.startswith("VmHWM")) / 1024
    except (OSError, StopIteration):
        return 0.0


class _PlanningListener:
    """py4j implementation of Spark's QueryExecutionListener."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, sink: list):
        self.sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java interface
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java interface
        self._record(qe)

    def _record(self, qe):
        try:
            phases = qe.tracker().phases()
            names = [n for n in ("parsing", "analysis", "optimization", "planning")
                     if phases.contains(n)]
            ms = sum(phases.apply(n).durationMs() for n in names)
            at = max(phases.apply(n).endTimeMs() for n in names) / 1000.0 if names else time.time()
            self.sink.append((at, ms))
        except Exception:  # noqa: BLE001 - never fail the listener bus
            pass


class _ProgressListener(StreamingQueryListener):
    def __init__(self, sink: list):
        self.sink = sink

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        self.sink.append((start, dict(p.durationMs), p.numInputRows))

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class Tracer:
    def __init__(self, spark, workload):
        self.spark = spark
        self.wl = workload
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._open: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._patches: list = []
        self.planning: list = []
        self.progress: list = []
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    # ------------------------------------------------------------ spans

    def _enter(self, name: str) -> int:
        tid = threading.get_ident()
        with self._lock:
            stack = self._open.setdefault(tid, [])
            # a span opened on another thread (a micro-batch callback)
            # hangs under the innermost span open on the main thread
            outer = stack or self._open.get(self._main) or [None]
            self.spans.append({"name": name, "start": time.time(), "end": None,
                               "parent": outer[-1], "thread": tid, "error": None})
            stack.append(len(self.spans) - 1)
            return len(self.spans) - 1

    def _exit(self, idx: int, err: BaseException | None) -> None:
        with self._lock:
            span = self.spans[idx]
            span["end"] = time.time()
            span["error"] = type(err).__name__ if err is not None else None
            self._open[span["thread"]].pop()

    def _wrap(self, name, fn, attrs=None, before=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            pre = before() if before else None
            idx = tracer._enter(name)
            try:
                out = fn(*args, **kwargs)
            except BaseException as e:
                tracer._exit(idx, e)
                raise
            tracer._exit(idx, None)
            if attrs:
                tracer.spans[idx]["attrs"] = attrs(args, kwargs, out, pre)
            return out

        return traced

    def _patch(self, owner, attr, name, attrs=None, before=None):
        if isinstance(owner, dict):
            orig = owner[attr]
            owner[attr] = self._wrap(name, orig, attrs, before)
        elif isinstance(owner, type) and isinstance(owner.__dict__[attr], classmethod):
            orig = owner.__dict__[attr]
            setattr(owner, attr, classmethod(self._wrap(name, orig.__func__, attrs, before)))
        else:
            orig = getattr(owner, attr)
            setattr(owner, attr, self._wrap(name, orig, attrs, before))
        # a bound method was looked up on an instance: undo by deleting
        self._patches.append((owner, attr, None if hasattr(orig, "__self__") else orig))

    # ------------------------------------------------------- call attributes

    @staticmethod
    def _commit_attrs(args, kwargs, out, pre):
        table, staged = args[0], args[1]
        prev = set(table.files(staged.version - 1)) if staged.version > 0 else set()
        new = set(staged.files)
        added = new - prev
        return {"added": len(added), "removed": len(prev - new),
                "bytes": sum(os.path.getsize(os.path.join(table.data_dir, f)) for f in added)}

    @staticmethod
    def _create_attrs(args, kwargs, out, pre):
        files = out.files()
        return {"added": len(files), "removed": 0,
                "bytes": sum(os.path.getsize(os.path.join(out.data_dir, f)) for f in files)}

    @staticmethod
    def _read_attrs(args, kwargs, out, pre):
        table = args[0]
        prune = kwargs.get("prune", args[3] if len(args) > 3 else None)
        if prune:
            return None  # the nested prune_files span counts the files
        version = kwargs.get("version", args[2] if len(args) > 2 else None)
        n = len(table.files(version))
        return {"kept": n, "total": n}

    @staticmethod
    def _prune_attrs(args, kwargs, out, pre):
        table = args[0]
        version = kwargs.get("version", args[2] if len(args) > 2 else None)
        return {"kept": len(out), "total": len(table.files(version))}

    @staticmethod
    def _job_attrs(args, kwargs, out, pre):
        return {"input": out["input_rows"],
                "rejected": out.get("rejected_rows", out.get("dropped_rows", 0))}

    # ------------------------------------------------------------ install

    @contextlib.contextmanager
    def installed(self):
        from pyspark.java_gateway import ensure_callback_server_started

        for job, name in (("orders", "run_orders"), ("order_items", "run_order_items"),
                          ("products", "run_products")):
            self._patch(runner._RUNNERS, job, f"pipelines.{name}", self._job_attrs)
        self._patch(runner, "validate", "pipelines.validate")
        for fn in ("read_csv_untyped", "read_csv_with_schema"):
            self._patch(readers, fn, f"sources.{fn}")
        for fn, name in (("write_rejected_json", "reject_write"), ("write_rejected_csv", "reject_write"),
                         ("write_log_text", "log_write"), ("archive_file", "archive")):
            self._patch(writers, fn, f"sources.{name}")
        self._patch(LakeTable, "create", "lakehouse.create", self._create_attrs)
        self._patch(LakeTable, "stage_merge", "lakehouse.stage_merge")
        self._patch(LakeTable, "publish", "lakehouse.publish", self._commit_attrs)
        self._patch(LakeTable, "merge", "lakehouse.merge")
        self._patch(LakeTable, "read", "lakehouse.read", self._read_attrs)
        self._patch(LakeTable, "prune_files", "lakehouse.prune_files", self._prune_attrs)
        self._patch(stream_events, "stream_merge_to_table", "streaming.stream_merge_to_table")
        for name in getattr(self.wl, "QUERIES", ()):
            self._patch(Q.QUERIES, name, "queries.build")
        if isinstance(self.wl, workloads.QueryMix):
            self._patch(self.wl, "_prune_df", "queries.build")
        self._patch(workloads, "noop", "queries.exec")
        cpu = functools.partial(worker_cpu_s, self.jvm_pid)
        self._patch(self.wl, "run_op", "op",
                    attrs=lambda a, k, out, pre: {"worker_cpu_s": cpu() - pre}, before=cpu)

        gateway = self.spark.sparkContext._gateway
        ensure_callback_server_started(gateway)
        planning = _PlanningListener(self.planning)
        manager = self.spark._jsparkSession.listenerManager()
        manager.register(planning)
        progress = _ProgressListener(self.progress)
        self.spark.streams.addListener(progress)
        try:
            yield self
        finally:
            for owner, attr, orig in reversed(self._patches):
                if isinstance(owner, dict):
                    owner[attr] = orig
                elif orig is None:
                    delattr(owner, attr)
                else:
                    setattr(owner, attr, orig)
            self._patches.clear()
            time.sleep(1.0)  # let the listener bus deliver the last events
            manager.unregister(planning)
            self.spark.streams.removeListener(progress)

    # ------------------------------------------------------------ read-out

    def _status(self, t0: float) -> tuple[list[dict], list[dict]]:
        """Jobs and stages submitted at or after ``t0`` (epoch seconds)."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jobs, stage_ids = [], set()
        for j in _seq(store.jobsList(None)):
            sub = _opt_ms(j.submissionTime())
            if sub is None or sub < t0:
                continue
            end = _opt_ms(j.completionTime()) or sub
            ids = _seq(j.stageIds())
            jobs.append({"id": j.jobId(), "start": sub, "end": end})
            stage_ids.update(ids)
        stages = []
        for sid in sorted(stage_ids):
            s = store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            stages.append({
                "id": sid, "start": _opt_ms(s.submissionTime()) or 0.0, "tasks": s.numTasks(),
                "cpu_s": s.executorCpuTime() / 1e9, "gc_s": s.jvmGcTime() / 1e3,
                "input_bytes": s.inputBytes(), "input_rows": s.inputRecords(),
                "shuffle_read": s.shuffleReadBytes(), "shuffle_write": s.shuffleWriteBytes(),
                "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        return jobs, stages

    def _python_nodes(self, t0: float) -> list[tuple[float, float, float]]:
        """(time, rows, bytes) of each Python/Arrow plan node run since t0."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        for e in _seq(store.executionsList()):
            at = e.submissionTime() / 1000.0
            if at < t0:
                continue
            values = store.executionMetrics(e.executionId())
            for node in _seq(store.planGraph(e.executionId()).allNodes()):
                if not PYTHON_NODE.search(node.name()):
                    continue
                rows = nbytes = 0.0
                for m in _seq(node.metrics()):
                    if not values.contains(m.accumulatorId()):
                        continue
                    v = _metric_value(values.get(m.accumulatorId()).get())
                    if m.name() == "number of output rows":
                        rows += v
                    elif "Python workers" in m.name():
                        nbytes += v
                out.append((at, rows, nbytes))
        return out

    def per_layer(self, ops: list[dict], untraced: list[dict], timing: dict, stored_tables: list[str]) -> dict:
        """Per-layer metrics of the traced ``ops``, per op unless the
        name says otherwise.  ``untraced`` holds as many untraced ops
        from just before the traced window as from just after it."""
        n = max(len(ops), 1)
        t0 = min(r["start"] for r in ops)
        jobs, stages = self._status(t0)
        spans = [s for s in self.spans if s["end"] is not None]

        def in_op(t):
            return any(r["start"] <= t <= r["end"] for r in ops)

        def span_time(*names):
            return sum(s["end"] - s["start"] for s in spans if s["name"] in names)

        def per_op(total):
            return total / n

        op_jobs = [j for j in jobs if in_op(j["start"])]
        op_stages = [s for s in stages if in_op(s["start"])]
        gap = sum(
            (r["end"] - r["start"]) - _union([
                (max(j["start"], r["start"]), min(j["end"], r["end"]))
                for j in op_jobs if r["start"] <= j["start"] <= r["end"]
            ])
            for r in ops
        )
        covered = sum(
            _union([(c["start"], c["end"]) for c in spans if c["parent"] == i])
            for i, s in enumerate(self.spans) if s["name"] == "op" and s["end"] is not None
        )
        op_wall = sum(r["end"] - r["start"] for r in ops)

        commit_spans = [s for s in spans if s["name"] in ("lakehouse.publish", "lakehouse.create")]
        write_spans = [s for s in spans if s["name"] in
                       ("lakehouse.stage_merge", "lakehouse.publish", "lakehouse.create")]
        commit_jobs = sum(1 for j in op_jobs
                          if any(s["start"] <= j["start"] <= s["end"] for s in write_spans))
        commits = [s.get("attrs") or {} for s in commit_spans]
        reads = [s["attrs"] for s in spans
                 if s["name"] in ("lakehouse.read", "lakehouse.prune_files") and s.get("attrs")]
        jobs_attrs = [s["attrs"] for s in spans if s["name"].startswith("pipelines.run_") and s.get("attrs")]
        pipeline_calls = {name: [s["end"] - s["start"] for s in spans if s["name"] == name]
                          for name in ("pipelines.run_orders", "pipelines.run_order_items",
                                       "pipelines.run_products", "pipelines.validate")}
        py_nodes = [p for p in self._python_nodes(t0) if in_op(p[0])]
        progress = [p for p in self.progress if in_op(p[0])]
        stream_spans = [s for s in spans if s["name"] == "streaming.stream_merge_to_table"]
        starts = []
        for s in stream_spans:
            first = [p[0] for p in progress if s["start"] <= p[0] <= s["end"]]
            if first:
                starts.append(min(first) - s["start"])
        worker_cpu = sum((s.get("attrs") or {}).get("worker_cpu_s", 0.0)
                         for s in spans if s["name"] == "op")

        def mean_or_zero(xs):
            return statistics.fmean(xs) if xs else 0.0

        def dur(key):
            return mean_or_zero([p[1].get(key, 0) for p in progress])

        def overhead():
            ratios = []
            for t in {r["type"] for r in ops}:
                a = [r["latency_s"] for r in ops if r["type"] == t and r["ok"]]
                b = [r["latency_s"] for r in untraced if r["type"] == t and r["ok"]]
                if a and b:
                    ratios.append(statistics.median(a) / statistics.median(b))
            return statistics.median(ratios) - 1.0 if ratios else 0.0

        live_files = sum(len(LakeTable(p).files()) for p in stored_tables if LakeTable.is_table(p))
        m = {
            "session.start_s": (timing["session_ready"] - timing["process_start"], "s"),
            "session.warmup_s": (timing["measure_start"] - timing["warmup_start"], "s"),
            "session.driver_rss_peak_mb": (_rss_peak_mb("self") + _rss_peak_mb(self.jvm_pid), "MB"),
            "plans.planning_ms": (per_op(sum(ms for at, ms in self.planning if in_op(at))), "ms"),
            "plans.jobs_per_op": (per_op(len(op_jobs)), "count"),
            "plans.stages_per_op": (per_op(len(op_stages)), "count"),
            "plans.tasks_per_op": (per_op(sum(s["tasks"] for s in op_stages)), "count"),
            "plans.driver_gap_s": (per_op(gap), "s"),
            "plans.task_cpu_s": (per_op(sum(s["cpu_s"] for s in op_stages)), "s"),
            "plans.gc_s": (per_op(sum(s["gc_s"] for s in op_stages)), "s"),
            "sources.input_bytes": (per_op(sum(s["input_bytes"] for s in op_stages)), "B"),
            "sources.input_rows": (per_op(sum(s["input_rows"] for s in op_stages)), "count"),
            "sources.reject_write_s": (per_op(span_time("sources.reject_write")), "s"),
            "sources.log_write_s": (per_op(span_time("sources.log_write")), "s"),
            "sources.archive_s": (per_op(span_time("sources.archive")), "s"),
            "operators.shuffle_write_bytes": (per_op(sum(s["shuffle_write"] for s in op_stages)), "B"),
            "operators.shuffle_read_bytes": (per_op(sum(s["shuffle_read"] for s in op_stages)), "B"),
            "operators.shuffle_fetch_wait_s": (per_op(sum(s["fetch_wait_s"] for s in op_stages)), "s"),
            "operators.spill_bytes": (per_op(sum(s["spill"] for s in op_stages)), "B"),
            "functions.python_worker_cpu_s": (per_op(worker_cpu), "s"),
            "functions.python_rows": (per_op(sum(p[1] for p in py_nodes)), "count"),
            "functions.python_bytes": (per_op(sum(p[2] for p in py_nodes)), "B"),
            "lakehouse.stage_s": (per_op(span_time("lakehouse.stage_merge", "lakehouse.create")), "s"),
            "lakehouse.publish_s": (per_op(span_time("lakehouse.publish")), "s"),
            "lakehouse.jobs_per_commit": (commit_jobs / len(commits) if commits else 0.0, "count"),
            "lakehouse.files_added": (per_op(sum(c.get("added", 0) for c in commits)), "count"),
            "lakehouse.files_removed": (per_op(sum(c.get("removed", 0) for c in commits)), "count"),
            "lakehouse.bytes_written": (per_op(sum(c.get("bytes", 0) for c in commits)), "B"),
            "lakehouse.live_files": (live_files, "count"),
            "lakehouse.commit_retries": (sum(1 for s in commit_spans if s["error"]), "count"),
            "lakehouse.read_s": (per_op(span_time("lakehouse.read")), "s"),
            "lakehouse.files_kept_frac": (
                sum(r["kept"] for r in reads) / sum(r["total"] for r in reads)
                if reads and sum(r["total"] for r in reads) else 1.0, "fraction"),
            "pipelines.orders_s": (mean_or_zero(pipeline_calls["pipelines.run_orders"]), "s"),
            "pipelines.order_items_s": (mean_or_zero(pipeline_calls["pipelines.run_order_items"]), "s"),
            "pipelines.products_s": (mean_or_zero(pipeline_calls["pipelines.run_products"]), "s"),
            "pipelines.validate_s": (mean_or_zero(pipeline_calls["pipelines.validate"]), "s"),
            "pipelines.rejected_frac": (
                sum(a["rejected"] for a in jobs_attrs) / sum(a["input"] for a in jobs_attrs)
                if jobs_attrs else 0.0, "fraction"),
            "streaming.start_s": (mean_or_zero(starts), "s"),
            "streaming.trigger_ms": (dur("triggerExecution"), "ms"),
            "streaming.add_batch_ms": (dur("addBatch"), "ms"),
            "streaming.query_planning_ms": (dur("queryPlanning"), "ms"),
            "streaming.wal_commit_ms": (dur("walCommit"), "ms"),
            "streaming.batches_per_op": (per_op(len(progress)), "count"),
            "queries.build_s": (per_op(span_time("queries.build")), "s"),
            "queries.exec_s": (per_op(span_time("queries.exec")), "s"),
            "trace.coverage_frac": (covered / op_wall if op_wall else 0.0, "fraction"),
            "trace.overhead_frac": (overhead(), "fraction"),
        }
        return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}

    def write(self, path: str) -> None:
        """Spans with their self time (duration minus child coverage)."""
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(i)
        out = []
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            child = [(self.spans[k]["start"], self.spans[k]["end"] or s["end"]) for k in kids.get(i, [])]
            out.append(s | {"id": i, "self_s": (s["end"] - s["start"]) - _union(child)})
        with open(path, "w") as fh:
            json.dump(out, fh)
