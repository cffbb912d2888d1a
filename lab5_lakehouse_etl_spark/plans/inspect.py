"""Plan inspection: the checks we run on every headline query so the
plan that ships is the plan we meant (SURVEY §4).

These parse ``explain('formatted')`` output — stable enough across
Spark 3.5/4.x for the four properties that matter at 100 TB:

- **pushed filters**: predicates reached the parquet scan
  (`PushedFilters: [...]` non-empty) instead of filtering post-scan;
- **read schema**: the scan materializes only referenced columns
  (`ReadSchema` width == what the query projects);
- **broadcast joins**: dimension joins avoid shuffling the fact side
  (`BroadcastHashJoin` / `BroadcastExchange` present);
- **shuffle count**: number of `Exchange` operators — each is a full
  network materialization; an unexpected extra one is a plan bug.

tests/test_plans.py pins these for the flagship queries.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def has_pushed_filters(df: DataFrame) -> bool:
    """True if any scan in the plan carries a non-empty PushedFilters."""
    txt = explain_str(df)
    return any(
        m.group(1).strip() not in ("", "[]")
        for m in re.finditer(r"PushedFilters: (\[[^\]]*\])", txt)
    )


def scan_read_schema(df: DataFrame) -> list[list[str]]:
    """Column names of each scan's ReadSchema (pruning check)."""
    txt = explain_str(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", txt):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df) or "BroadcastNestedLoopJoin" in explain_str(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators in the physical plan.
    AQE may collapse some at runtime; this counts the static plan —
    an upper bound, comparable across revisions."""
    # formatted mode lists operators as "(N) Exchange" with the
    # partitioning in a separate Arguments line
    txt = explain_str(df)
    return len(re.findall(r"\(\d+\) Exchange\b", txt))


def job_count(spark) -> int:
    """Cumulative Spark-job count of this session (AppStatusStore).

    Unlike ``statusTracker().getJobIdsForGroup`` this sees jobs
    scheduled from ANY thread — including Structured Streaming's
    micro-batch execution threads, where thread-local job groups set
    on the caller never propagate — so deltas around a streaming
    drain measure the drain's real job cost.  Used by the
    q_stream_neardup cost-structure pin (r11 verdict #7): an O(table)
    regression in the per-batch probe path shows up as job/time
    growth attributed to the DRAIN phase, where before it could hide
    inside the index-build wall.

    Read as the newest job id + 1 (``jobsList`` is newest first), not
    as the list's size: the store keeps only ``spark.ui.retainedJobs``
    jobs (1000 by default), so past that the size stops growing and a
    delta across a trim reads low by a hundred."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)  # noqa: SLF001
    return jobs.apply(0).jobId() + 1 if jobs.size() else 0
