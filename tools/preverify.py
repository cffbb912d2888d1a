"""Driver-gate mirror: run every declared query on Spark AND its
DuckDB oracle over the same parquet, compare sorted-column values, and
report per-query MATCH/MISMATCH — the exact comparison the round
driver records in CORRECTNESS_r{N}.json, runnable on demand.

Differences from tests/test_oracle.py (the pytest mirror): this uses a
DEFAULT SparkSession (no tuned shuffle partitions — the driver's
environment, where ANSI/session-tz assumptions get exercised), runs at
the driver's sf0.01 by default, iterates in ordered_queries() order
(never-verified, then least recently verified, per the committed
CORRECTNESS files — so the 50-query round window is the sweep's
prefix), and runs in ONE
process so cross-query breakage (e.g. the round-3 DECIMAL footer-stats
regression only q_mv_incremental exposed) surfaces.

It also checks that queries leave the session's confs alone: after the
first query (whose ``session.tune`` pins the engine's settings) it
snapshots ``spark.conf.getAll``, and any later query after which the
snapshot differs is reported as ``CONF DRIFT`` and counted as a
failure.

Usage:
    python tools/preverify.py                 # full registry at sf0.01
    python tools/preverify.py --window        # first 50 (driver window)
    python tools/preverify.py q_foo q_bar     # just these queries
    SPARK_GRAFT_PREVERIFY_SF=/root/testdata/sf0.001 python tools/preverify.py

Exit code = number of failures (0 = gate-green).
"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v.isoformat() if hasattr(v, "isoformat") else v


def _key(cols, rows):
    order = sorted(range(len(cols)), key=lambda j: cols[j])
    return sorted(
        (tuple(_norm(r[j]) for j in order) for r in rows), key=str
    )


def main() -> int:
    sys.path.insert(0, REPO)
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from lab5_lakehouse_etl_spark.queries import ordered_queries

    sf_dir = os.environ.get(
        "SPARK_GRAFT_PREVERIFY_SF", "/root/testdata/sf0.01"
    )
    # default session on purpose — the driver's, not our tuned one
    spark = SparkSession.builder.master("local[16]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, osql = entry.queries(), entry.oracle_sql()
    picked = [a for a in sys.argv[1:] if a.startswith("q_")]
    names = picked or list(ordered_queries())
    if "--window" in sys.argv and not picked:
        names = names[:50]
    fails = drifts = 0
    confs = None
    for i, name in enumerate(names):
        try:
            df = qs[name](spark, sf_dir)
            sp = _key(df.columns, df.collect())
            if name in osql:
                res = con.sql(osql[name])
                dk = _key(res.columns, res.fetchall())
                ok = sp == dk
                fails += not ok
                tag = "MATCH" if ok else "MISMATCH"
            else:
                tag = "rows-only"
            print(f"[{i + 1}/{len(names)}] {name} {tag} {len(sp)}",
                  flush=True)
        except Exception as ex:  # noqa: BLE001 - report and continue
            fails += 1
            print(
                f"[{i + 1}/{len(names)}] {name} ERROR"
                f" {type(ex).__name__}: {str(ex)[:200]}",
                flush=True,
            )
        now = spark.conf.getAll
        if confs is not None and now != confs:
            drifts += 1
            changed = {
                k: (confs.get(k), now.get(k))
                for k in sorted(confs.keys() | now.keys())
                if confs.get(k) != now.get(k)
            }
            print(f"[{i + 1}/{len(names)}] {name} CONF DRIFT {changed}",
                  flush=True)
        confs = now
    print("conf drift:", drifts)
    fails += drifts
    print("failures:", fails)
    spark.stop()
    return fails


if __name__ == "__main__":
    raise SystemExit(main())
