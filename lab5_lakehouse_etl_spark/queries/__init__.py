"""Declared-query registry.

Every operator the engine claims (SURVEY.md §2) registers here as a
``(spark, sf_dir) -> DataFrame`` callable, optionally paired with the
ANSI-SQL string a DuckDB oracle runs over the same parquet tables.
``__spark_entry__`` re-exports this registry to the correctness driver.

A registered body runs on whatever session its caller passes (the
driver's vanilla one included): :func:`query` wraps it so
``session.tune`` pins the session settings first, and bodies write no
confs themselves.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..session import tune

QueryFn = Callable[[SparkSession, str], DataFrame]

#: name -> query callable
QUERIES: dict[str, QueryFn] = {}
#: name -> DuckDB oracle SQL (absent => rows-only check)
ORACLES: dict[str, str] = {}

_MODULES = (
    "relational",
    "sources_ops",
    "aggregates",
    "windows",
    "joins",
    "scalar_fns",
    "text_ops",
    "dedup_ops",
    "corpus_ops",
    "similarity_ops",
    "multimodal_ops",
    "lakehouse_ops",
    "streaming_ops",
    "pipeline_ops",
    "subqueries",
    "sql_text",
    "tpch",
    "events_ops",
    "skew_ops",
)


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a declared query; ``oracle`` is its DuckDB twin SQL.

    The registered callable, which the decorator also returns, runs
    ``tune(spark)`` and then the body."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def tuned(spark: SparkSession, *args, **kwargs) -> DataFrame:
            tune(spark)
            return fn(spark, *args, **kwargs)

        QUERIES[name] = tuned
        if oracle is not None:
            ORACLES[name] = oracle
        return tuned

    return deco


def load_all() -> None:
    """Import every query module so registration side effects run."""
    for mod in _MODULES:
        importlib.import_module(f"{__name__}.{mod}")


def _driver_verified() -> dict[str, int]:
    """Names with a hash-matched row in any CORRECTNESS_r*.json, mapped
    to the LATEST round that verified them.  Failed, erroring and
    rows-only (``no_oracle``) rows never count: every declared query is
    oracle-paired, so only a hash match is a verification."""
    import glob
    import json
    import os
    import re

    root = os.environ.get(
        "SPARK_GRAFT_CORRECTNESS_DIR",
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    )
    ok: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, rec in rows.items():
            if isinstance(rec, dict) and rec.get("hash_match") is True:
                ok[name] = max(ok.get(name, 0), rnd)
    return ok


def ordered_queries() -> dict[str, QueryFn]:
    """Registry reordered for the driver's 50-query correctness window:
    never-verified queries first (registration order), then verified
    ones, least recently verified first (registration order within a
    round).  Each round's CORRECTNESS file rotates its green queries to
    the back, so the window sweeps the whole registry with no manual
    ordering."""
    verified = _driver_verified()
    # sorted() is stable, so ties keep registration order
    ordered = sorted(QUERIES, key=lambda n: verified.get(n, -1))
    return {n: QUERIES[n] for n in ordered}
