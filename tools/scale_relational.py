"""Relational/TPC-H scale checkpoint (r12 verdict next-round #8): run
the heaviest relational-tier queries at ~sf1 (10x the sf0.1 bench
fixtures) and report per-query wall-clock slopes, the same measurement
the codec and index families already carry (README "Scale-stress
findings").

The sf1 dataset is DERIVED, never regenerated: each scaling table is
10 shifted copies of the driver's sf0.1 parquet (copy ``i`` adds
``i * stride`` to every primary/foreign key, stride = max(key)+1
rounded to a power of ten), written to /tmp/sfrel1 — never under the
repo or testdata.  Key shifting keeps every join's per-key fan-out and
selectivity EXACTLY what sf0.1 has (copy i of lineitem joins copy i of
orders/part/supplier and nothing else), while dates/prices/dimension
tables stay fixed — which is how real TPC-H scaling behaves (dates
don't scale with SF), so group-by output cardinalities on dates stay
constant and the measured slope isolates data volume.

Expected shape: scan/join/agg plans are linear in input (shuffle
sort-merge legs are n·log n); with 32 cores absorbing fixed overheads
a healthy slope at 10x data is ~x3-x10.  A super-linear slope (>x10
with warm caches) is the first real plan-scaling signal this sandbox
can produce — diagnose before recording.

Usage (idle box — timings are meaningless under load):

    python tools/scale_relational.py             # generate + run
    python tools/scale_relational.py --gen-only  # just write /tmp/sfrel1
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: overridable for the core-scaling checkpoint (r15 verdict #6): a
#: 10x fixture is still fixed-machinery-dominated on this box (the 8-
#: vs 32-core ratio of even the CALIBRATION query measured 1.02 at
#: sf1), so proving the plans are data-bound needs ~100x on the
#: heaviest queries — SPARK_GRAFT_SCALE_COPIES=100 with a DST and
#: query/table subset.
DST = os.environ.get("SPARK_GRAFT_SCALE_DST", "/tmp/sfrel1")
COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "10"))

#: key columns to shift per scaling table (copy i: col += i * stride;
#: strides are per KEY SPACE so fks stay consistent across tables)
_KEY_SPACES = {
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "eventid": [("events", "event_id")],
    "userid": [("events", "user_id")],
}
_SCALED = ("orders", "lineitem", "customer", "supplier", "part", "events")
_FIXED = ("region", "nation", "documents", "embeddings")

#: the ~15 heaviest relational/TPC-H tier-1 queries by r12
#: bench_detail wall time (codec/index families carry their own
#: measured slopes in tools/scale_stress.py)
QUERIES = [
    "q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_tpch_q7", "q_tpch_q8",
    "q_tpch_q9", "q_tpch_q10", "q_tpch_q12", "q_tpch_q17", "q_tpch_q18",
    "q_tpch_q19", "q_tpch_q21", "q_join_star", "q_agg_groupby",
    "q_window_dedup", "q_sessionize_batch", "q_skew_salted_join",
]


def _scaled_tables() -> tuple[str, ...]:
    # SPARK_GRAFT_SCALE_TABLES subsets the scaled tables.  A subset that
    # scales one side of a key space (lineitem without orders) leaves
    # copies 1..N-1 joining nothing: generate() warns about it.
    sub = os.environ.get("SPARK_GRAFT_SCALE_TABLES")
    return tuple(sub.split(",")) if sub else _SCALED


def split_key_spaces(scaled) -> dict[str, list[str]]:
    """Key spaces that span both scaled and unscaled tables, mapped to
    their unscaled tables: key-shifted copies of the scaled side find
    no partner there, so joins across the split under-measure."""
    split = {}
    for space, cols in _KEY_SPACES.items():
        tables = {t for t, _ in cols}
        unscaled = tables - set(scaled)
        if unscaled and unscaled != tables:
            split[space] = sorted(unscaled)
    return split


def generate(spark) -> None:
    from pyspark.sql import functions as F

    scaled = _scaled_tables()
    for space, unscaled in split_key_spaces(scaled).items():
        print(
            f"WARNING: key space {space} is scaled but {unscaled} is not:"
            " its shifted copies join nothing there",
            file=sys.stderr,
        )
    os.makedirs(DST, exist_ok=True)
    strides: dict[str, int] = {}
    tables = {t: spark.read.parquet(f"{SRC}/{t}.parquet") for t in scaled}
    for space, cols in _KEY_SPACES.items():
        hi = 0
        for tbl, col in cols:
            if tbl not in tables:
                continue
            m = tables[tbl].agg(F.max(col)).first()[0]
            hi = max(hi, int(m or 0))
        if hi:
            strides[space] = hi and 10 ** len(str(hi))
    shift_of = {
        (tbl, col): strides[space]
        for space, cols in _KEY_SPACES.items()
        if space in strides
        for tbl, col in cols
    }
    for tbl in scaled:
        df = tables[tbl]
        copies = []
        for i in range(COPIES):
            c = df
            for (t2, col), stride in shift_of.items():
                if t2 == tbl:
                    c = c.withColumn(
                        col, (F.col(col) + F.lit(i * stride)).cast("bigint")
                    )
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(f"{DST}/{tbl}.parquet")
        print(f"  {tbl}: {df.count()} -> {out.count()} rows", flush=True)
    unscaled = tuple(t for t in _SCALED if t not in scaled)
    for tbl in _FIXED + unscaled:
        src = f"{SRC}/{tbl}.parquet"
        dst = f"{DST}/{tbl}.parquet"
        if os.path.exists(src) and not os.path.exists(dst):
            os.symlink(src, dst)


def main() -> None:
    from bench import calibration_query, force, warmup
    from lab5_lakehouse_etl_spark import queries as Q
    from lab5_lakehouse_etl_spark.session import build_session

    Q.load_all()
    spark = build_session("lab5-scale-relational")
    spark.sparkContext.setLogLevel("ERROR")
    if "--no-gen" in sys.argv:
        # reuse an existing /tmp/sfrel1 (e.g. the 8-vs-32-core scaling
        # comparison: same derived data, different SPARK_GRAFT_CPUS)
        print(f"reusing {DST}")
    else:
        print(f"generating {DST} from {SRC} (x{COPIES} key-shifted copies)")
        generate(spark)
    if "--gen-only" in sys.argv:
        spark.stop()
        return
    warmup(spark, DST, build_artifacts=False)
    # one calibration + min-of-2 per query (slope measurement, not a
    # regression gate — scale_stress.py's single-run convention, one
    # extra pass to shed first-execution codegen)
    t0 = time.perf_counter()
    force(calibration_query(spark, DST))
    print(f"calibration_sec {time.perf_counter() - t0:.3f}")
    import gc

    sub = os.environ.get("SPARK_GRAFT_SCALE_QUERIES")
    names = sub.split(",") if sub else QUERIES
    for name in names:
        fn = Q.QUERIES[name]
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            force(fn(spark, DST))
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
            gc.collect()
        print(f"{name} {best:.3f}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
