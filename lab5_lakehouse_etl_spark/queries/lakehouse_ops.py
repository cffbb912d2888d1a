"""Lakehouse declared queries (SURVEY §2.1 S6-S8, §2.3 J4).

Side-effecting writes, but still ORACLE-paired: the returned results
are deterministic functions of the input tables, so the roundtrip
aggregate and the merge summary hash-compare against plain SQL —
the oracle proves the lakehouse machinery is result-transparent.
q_merge_upsert additionally compares the merged table against a
relational oracle (anti-join ∪ source) computed independently in the
same job and returns the per-key diff count: a wrong MERGE yields a
nonzero diff column, which the SQL oracle pins to zero.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lakehouse import LakeTable
from ..session import load_table, scratch_dir
from . import query


@query(
    "q_table_roundtrip",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(count(*) AS BIGINT)       AS n
    FROM orders
    GROUP BY 1
    """,
)
def q_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned initial write (S8: partitionBy, mode=overwrite) +
    snapshot read-back (S6) + existence probe (S7). Returns per-
    partition counts of the round-tripped table."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    path = scratch_dir("q_table_roundtrip", fresh=True) + "/orders_tbl"
    assert not LakeTable.is_table(path)
    t = LakeTable.create(orders, path, partition_by=["o_year"])
    assert LakeTable.is_table(path)
    back = t.read(spark)
    return back.groupBy("o_year").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


@query(
    "q_merge_upsert",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT)        AS diff_vs_oracle,
           CAST(0 AS BIGINT)        AS diff_after_rerun
    FROM orders
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert (J4: WHEN MATCHED UPDATE ALL / WHEN NOT MATCHED
    INSERT ALL, jobs/order_glue_job.py:151-155): seed the table with
    even-keyed orders, merge a source containing updated rows (price+1)
    for half the evens plus all odd rows; verify the merged snapshot
    equals the independent relational oracle exactly (0 diff rows), and
    that a second identical merge is idempotent."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    target = orders.filter(F.col("o_orderkey") % 2 == 0)
    source = orders.filter(
        (F.col("o_orderkey") % 4 == 0) | (F.col("o_orderkey") % 2 == 1)
    ).withColumn("o_totalprice", F.round(F.col("o_totalprice") + 1.0, 2))

    def sym_diff(a: DataFrame, b: DataFrame) -> tuple[int, int]:
        """Multiset symmetric-difference row count, one pass per side:
        |A\\B| + |B\\A| = Σ over distinct rows of |count_A − count_B|
        — the same number two exceptAll().count() actions produce, at
        half the shuffles (each exceptAll re-shuffles BOTH inputs, so
        the two directions cost four; two grouped counts + one join
        cost two).  The join must be NULL-SAFE: groupBy buckets NULL
        keys together (as exceptAll's set semantics do), so a plain
        equi-join would leave identical null-bearing rows unmatched on
        both sides and double-count them as differing.

        Also returns |A| (Σ count_A over the joined rows) so the
        caller's row-count check rides this pass instead of paying a
        separate scan of the merged table (one fewer action/job per
        verification)."""
        cols = a.columns
        ca = a.groupBy(*cols).agg(F.count(F.lit(1)).alias("__na"))
        cb = b.groupBy(*cols).agg(F.count(F.lit(1)).alias("__nb"))
        cb_r = cb.select(
            *[F.col(c).alias(f"__r_{c}") for c in cols], "__nb"
        )
        cond = None
        for c in cols:
            eq = F.col(c).eqNullSafe(F.col(f"__r_{c}"))
            cond = eq if cond is None else cond & eq
        row = (
            ca.join(cb_r, cond, "full_outer")
            .select(
                F.abs(
                    F.coalesce(F.col("__na"), F.lit(0))
                    - F.coalesce(F.col("__nb"), F.lit(0))
                ).alias("__d"),
                F.coalesce(F.col("__na"), F.lit(0)).alias("__a"),
            )
            .agg(
                F.coalesce(F.sum("__d"), F.lit(0)).alias("__diff"),
                F.coalesce(F.sum("__a"), F.lit(0)).alias("__rows_a"),
            )
            .first()
        )
        return int(row["__diff"]), int(row["__rows_a"])

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/merge_tbl"
        t = LakeTable.create(target, path)
        t.merge(spark, source, key=["o_orderkey"])
        merged = t.read(spark)

        oracle = target.join(source, on="o_orderkey", how="left_anti").unionByName(
            source
        )
        diff, _ = sym_diff(merged, oracle)

        t.merge(spark, source, key=["o_orderkey"])  # idempotency probe
        again = t.read(spark)
        # n_rows rides the sym-diff pass (its Σ count_A side) — the
        # separate again.count() action was a whole extra scan of the
        # merged table per query
        diff2, n_rows = sym_diff(again, oracle)

    return spark.createDataFrame(
        [(n_rows, diff, diff2)],
        "n_rows BIGINT, diff_vs_oracle BIGINT, diff_after_rerun BIGINT",
    )


@query(
    "q_bucketed_join",
    oracle="""
    SELECT o.o_orderkey,
           CAST(count(*) AS BIGINT)      AS n_items,
           round(sum(l.l_quantity), 2)   AS sum_qty
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-bucketed join (lakehouse/bucketed.py): both sides written
    bucketBy(8, key), joined exchange-free. Oracle-paired: the returned
    per-orderkey aggregate must equal the plain SQL join — bucketing is
    purely a physical-layout optimization. The zero-Exchange plan
    property itself is pinned in tests/test_bucketing.py."""
    from ..lakehouse import bucketed as B

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    # The two bucketed writes are INDEPENDENT (different tables, no
    # shared state beyond the thread-safe catalog), so they run
    # concurrently (guide §2.6 — actions are only sequential because
    # driver code calls them sequentially): each write's wall is
    # dominated by catalog round-trips + a small sorted write, and
    # overlapping them measured 2.71 -> 2.02 s min-of-3 at sf0.1.
    # InheritableThread: the writes keep the caller's job group.
    from pyspark import InheritableThread

    errs: list[BaseException] = []

    def _write(df: DataFrame, name: str) -> None:
        try:
            B.write_bucketed(df, name, "o_orderkey", 8)
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errs.append(exc)

    ts = [
        InheritableThread(target=_write, args=(orders, "q_b_orders")),
        InheritableThread(target=_write, args=(li, "q_b_lineitem")),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    if errs:
        raise errs[0]
    return (
        B.bucketed_join(spark, "q_b_orders", "q_b_lineitem", "o_orderkey")
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "q_table_changes",
    oracle="""
    SELECT 'insert' AS change_type,
           CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n
    FROM orders
    UNION ALL
    SELECT 'update_pre',
           CAST(sum(CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'update_post',
           CAST(sum(CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    """,
)
def q_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed (Delta CDF parity): seed with even-keyed
    orders, merge price+1 updates for multiples of 4 plus all odd rows
    as inserts, then read changes(v0 → v1) and roll up by change type.
    The oracle derives the exact expected feed from key arithmetic —
    every mult-4 key is an update (pre+post), every odd key an insert,
    nothing is a delete, and unchanged rows copied during the partition
    rewrite must cancel out of the feed entirely."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    target = orders.filter(F.col("o_orderkey") % 2 == 0)
    source = orders.filter(
        (F.col("o_orderkey") % 4 == 0) | (F.col("o_orderkey") % 2 == 1)
    ).withColumn("o_totalprice", F.round(F.col("o_totalprice") + 1.0, 2))
    path = scratch_dir("q_table_changes", fresh=True) + "/cdf_tbl"
    t = LakeTable.create(target, path)
    t.merge(spark, source, key=["o_orderkey"])
    feed = t.changes(spark, key=["o_orderkey"], from_version=0, to_version=1)
    return feed.groupBy(F.col("_change_type").alias("change_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


@query(
    "q_mv_incremental",
    oracle="""
    WITH post AS (
      SELECT o_orderkey, o_orderdate,
             CASE WHEN o_orderkey % 4 = 0 OR o_orderkey % 2 = 1
                  THEN CAST(round(o_totalprice + 1.0, 2) AS DECIMAL(18,2))
                  ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
      FROM orders
    )
    SELECT CAST(year(o_orderdate) AS INT)              AS o_year,
           CAST(count(*) AS BIGINT)                    AS n_orders,
           round(CAST(sum(price) AS DOUBLE), 2)        AS sum_price
    FROM post
    GROUP BY 1
    """,
)
def q_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance driven by the
    change-data-feed: a per-year (count, sum) aggregate is built once
    over the v0 snapshot, the table is merged (mult-4 price updates +
    odd-key inserts), and the MV is REFRESHED BY APPLYING THE FEED —
    +row for insert/update_post, -row for delete/update_pre — never by
    rescanning the table. The oracle recomputes the post-merge
    aggregate directly from key arithmetic, so the hash proves
    incremental == full recompute. Decimal money arithmetic keeps the
    increment path bit-exact internally; the DECLARED column is
    round(CAST(.. AS DOUBLE), 2) because the driver's hash layer has
    no decimal representation (r3 failure class — pandas coerces the
    oracle's DECIMAL to float64 while Spark's stays typed).
    At 100 TB this is the nightly-rollup
    pattern: the feed is O(changed rows) while a recompute is
    O(table)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    target = orders.filter(F.col("o_orderkey") % 2 == 0)
    source = orders.filter(
        (F.col("o_orderkey") % 4 == 0) | (F.col("o_orderkey") % 2 == 1)
    ).withColumn(
        "price", F.round(F.col("price") + F.lit(1.0), 2).cast("decimal(18,2)")
    )
    year = F.year("o_orderdate").cast("int").alias("o_year")
    mv0 = target.groupBy(year).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("price").alias("sum_price"),
    )
    path = scratch_dir("q_mv_incremental", fresh=True) + "/mv_tbl"
    t = LakeTable.create(target, path)
    t.merge(spark, source, key=["o_orderkey"])
    feed = t.changes(spark, key=["o_orderkey"], from_version=0, to_version=1)
    sgn = F.when(
        F.col("_change_type").isin("insert", "update_post"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = feed.groupBy(year).agg(
        F.sum(sgn).cast("bigint").alias("dn"),
        F.sum(sgn.cast("decimal(18,2)") * F.col("price")).alias("dsum"),
    )
    zero = F.lit(0).cast("decimal(28,2)")
    return (
        mv0.join(delta, on="o_year", how="full_outer")
        .select(
            "o_year",
            (F.coalesce("n_orders", F.lit(0)) + F.coalesce("dn", F.lit(0)))
            .cast("bigint")
            .alias("n_orders"),
            F.round(
                (
                    F.coalesce(F.col("sum_price").cast("decimal(28,2)"), zero)
                    + F.coalesce(F.col("dsum").cast("decimal(28,2)"), zero)
                ).cast("double"),
                2,
            ).alias("sum_price"),
        )
        .filter(F.col("n_orders") > 0)
    )


@query(
    "q_table_skipping",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)   AS n_rows,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    """,
)
def q_table_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level data skipping end to end: write orders as a
    LakeTable, OPTIMIZE cluster_by(o_orderdate) so each file owns a
    disjoint date range, then serve a range predicate through
    ``read(prune=...)`` — the manifest's per-file min/max stats drop
    most files BEFORE Spark lists them (asserted: strictly fewer files
    than the snapshot), and the oracle hash pins that skipping never
    drops a matching row.  This is the scan-side complement of Z-order:
    clustering makes per-file ranges tight, the manifest stats make
    them actionable at the file level, and parquet row-group pruning
    still applies inside the survivors.  At 100 TB this is the
    difference between listing 10^5 files and listing the handful a
    one-month predicate touches."""
    import datetime

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    path = scratch_dir("q_table_skipping", fresh=True) + "/orders_tbl"
    t = LakeTable.create(orders, path)
    t.optimize(spark, target_partitions=8, cluster_by=["o_orderdate"])
    cutoff = datetime.datetime(1997, 1, 1)
    pred = [("o_orderdate", ">=", cutoff)]
    kept = t.prune_files(pred)
    assert 0 < len(kept) < len(t.files()), (
        f"data skipping ineffective: kept {len(kept)}/{len(t.files())}"
    )
    return (
        t.read(spark, prune=pred)
        .filter(F.col("o_orderdate") >= F.lit(cutoff))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "q_table_skipping_dist",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                          AND TIMESTAMP '1996-12-31 23:59:59.999999'
      AND o_totalprice >= 1000.0
    """,
)
def q_table_skipping_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping decided by a SPARK JOB over the parquet stats
    checkpoint (``prune_via="spark"`` →
    lakehouse/table.py:prune_files_distributed) — the Delta
    checkpoint-file move that lifts the driver-resident-manifest
    ceiling: at 10^6 files the scan planner no longer walks a Python
    dict per predicate, it filters a long-format (file, column,
    min/max) relation distributed and collects only the survivors.
    Compound predicate on purpose: a temporal BETWEEN plus a numeric
    bound exercise both typed comparison lanes (canonical temporal
    strings with the shape guard; exact int64/double images with the
    ``num_exact`` lossiness gate).  The oracle hash pins that the
    distributed prune drops no matching row; the in-code assert pins
    that it actually skips files."""
    import datetime

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    path = scratch_dir("q_table_skipping_dist", fresh=True) + "/orders_tbl"
    t = LakeTable.create(orders, path)
    t.optimize(spark, target_partitions=8, cluster_by=["o_orderdate"])
    lo = datetime.datetime(1996, 1, 1)
    hi = datetime.datetime(1996, 12, 31, 23, 59, 59, 999999)
    pred = [
        ("o_orderdate", "between", (lo, hi)),
        ("o_totalprice", ">=", 1000.0),
    ]
    kept = t.prune_files_distributed(spark, pred)
    assert 0 < len(kept) < len(t.files()), (
        f"distributed skipping ineffective: kept {len(kept)}/{len(t.files())}"
    )
    return (
        t.read(spark, prune=pred, prune_via="spark")
        .filter(
            F.col("o_orderdate").between(F.lit(lo), F.lit(hi))
            & (F.col("o_totalprice") >= 1000.0)
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "q_table_dv",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE NOT (o_custkey % 10 = 3)
      AND NOT (o_orderkey % 97 = 0)
    """,
)
def q_table_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion vectors end to end under the hash gate: write orders as
    a LakeTable, merge-on-read DELETE two predicates as STACKED
    deletion vectors (``delete_dv`` — pointers only, file list pinned
    unchanged by the in-code assert), then aggregate the survivors.
    The oracle recomputes the survivor set from key arithmetic, so the
    hash proves the broadcast anti-join applies exactly the pointed-at
    rows — no more (over-delete), no fewer (resurrection).  At 100 TB
    this is the GDPR-erasure path: deleting one customer's rows from a
    year of 1 GB files writes O(matching rows), not O(files)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = scratch_dir("q_table_dv", fresh=True) + "/orders_tbl"
    t = LakeTable.create(orders, path)
    files_before = t.files()
    t.delete_dv(spark, F.col("o_custkey") % 10 == 3)
    t.delete_dv(spark, F.col("o_orderkey") % 97 == 0)
    assert t.files() == files_before, "DV delete must not touch files"
    return t.read(spark).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "q_table_append",
    oracle="""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice FROM orders
      UNION ALL
      SELECT o_orderkey, round(o_totalprice + 1.0, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS total
    FROM unioned
    """,
)
def q_table_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blind append + incremental compaction under the hash gate: seed
    a LakeTable with orders, ``append()`` a price-adjusted slice (no key
    matching — duplicates allowed by design), compact ONLY the small
    appended files with ``optimize(max_file_bytes=...)`` (the seed
    files carry by reference — asserted), and aggregate.  The oracle is
    the plain UNION ALL, so the hash proves append added exactly the
    source rows and compaction moved bytes without changing them.
    This is the streaming-ingest maintenance loop at 100 TB: cheap
    appends accumulate small files, incremental OPTIMIZE repays them
    at O(small files), never O(table)."""
    import os

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = scratch_dir("q_table_append", fresh=True) + "/orders_tbl"
    t = LakeTable.create(orders.coalesce(4), path)
    seed_files = set(t.files())
    extra = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", F.round(F.col("o_totalprice") + 1.0, 2).alias("o_totalprice")
    )
    t.append(spark, extra.coalesce(2))
    smallest_seed = min(
        os.path.getsize(os.path.join(t.data_dir, f)) for f in seed_files
    )
    t.optimize(spark, max_file_bytes=smallest_seed)
    assert seed_files <= set(t.files()), "seed files must carry by reference"
    return t.read(spark).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "q_table_skipping_zorder",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_totalprice BETWEEN 50000.0 AND 100000.0
      AND o_custkey    BETWEEN 100 AND 400
    """,
)
def q_table_skipping_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional data skipping through Z-order clustering:
    OPTIMIZE ZORDER BY (o_totalprice, o_custkey) interleaves the
    quantile-rank bits of BOTH columns, so each file owns a compact
    hyper-rectangle of the 2-D space and a predicate on EITHER column
    prunes files at the manifest — the property linear cluster_by only
    gives its leading column.  The in-code asserts pin exactly that:
    each single-dimension predicate alone must skip files.  The oracle
    hash pins that 2-D skipping never drops a matching row."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = scratch_dir("q_table_skipping_zorder", fresh=True) + "/orders_tbl"
    t = LakeTable.create(orders, path)
    t.optimize(
        spark, target_partitions=16, zorder_by=["o_totalprice", "o_custkey"]
    )
    p_price = [("o_totalprice", "between", (50000.0, 100000.0))]
    p_cust = [("o_custkey", "between", (100, 400))]
    n = len(t.files())
    kept_price, kept_cust = t.prune_files(p_price), t.prune_files(p_cust)
    assert 0 < len(kept_price) < n, f"price dim: {len(kept_price)}/{n}"
    assert 0 < len(kept_cust) < n, f"cust dim: {len(kept_cust)}/{n}"
    pred = p_price + p_cust
    return (
        t.read(spark, prune=pred)
        .filter(
            F.col("o_totalprice").between(50000.0, 100000.0)
            & F.col("o_custkey").between(100, 400)
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "q_table_bloom",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_custkey = (SELECT min(o_custkey) FROM orders)
    """,
)
def q_table_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter index end to end (lakehouse/bloom.py — the Delta
    ``delta.bloomFilter.*`` twin): orders land HASH-SCATTERED on
    o_custkey, so every file spans nearly the whole key domain and
    min/max stats can refute nothing — the layout every point-lookup
    table has before someone pays for clustering.  ``add_bloom_index``
    backfills a per-file membership filter; an equality probe for one
    customer then skips the files whose filters prove absence (asserted:
    strictly fewer than the snapshot, on BOTH pruning backends), and the
    oracle hash pins that skipping never drops a matching row.  At
    100 TB this is the needle-lookup path: min/max skipping needs the
    table clustered BY the probed column (one sort order per table);
    bloom filters give sub-linear point reads on any indexed column at
    ~1 KiB of manifest per file each."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # the probed key: smallest customer with orders — data-derived so
    # every scale factor probes a key that exists; countDistinct rides
    # the same 1-row metadata collect and sizes the filters below
    probe_row = orders.agg(
        F.min("o_custkey"), F.countDistinct("o_custkey")
    ).collect()[0]
    probe, n_distinct = int(probe_row[0]), int(probe_row[1])
    path = scratch_dir("q_table_bloom", fresh=True) + "/orders_tbl"
    n_files = 8
    t = LakeTable.create(
        orders.repartition(n_files, F.col("o_custkey") % 64), path
    )
    # Size m for ~1% FPR at the EXPECTED per-file key count (hash
    # scatter → ~n_distinct/n_files distinct keys per file): m =
    # n·ln(1/p)/ln²2 ≈ 9.6n, k = (m/n)·ln2. The library default
    # (8192 bits) saturates at sf≥1 (~10⁵ keys/file → FPR→1, every
    # file "matches", the skipping assert fails on correct filters);
    # floor at the default so tiny fixtures keep their pinned layout.
    import math

    per_file = max(1, n_distinct // n_files)
    m_bits = max(8192, int(per_file * 9.6))
    k_hash = min(16, max(1, round(m_bits / per_file * math.log(2))))
    t.add_bloom_index("o_custkey", m=m_bits, k=k_hash)
    pred = [("o_custkey", "=", probe)]
    kept = t.prune_files(pred)
    n = len(t.files())
    assert 0 < len(kept) < n, f"bloom skipping ineffective: {len(kept)}/{n}"
    assert kept == t.prune_files_distributed(spark, pred), (
        "driver/distributed bloom pruning disagree"
    )
    return (
        t.read(spark, prune=pred)
        .filter(F.col("o_custkey") == probe)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "q_table_clone",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)           AS n_rows,
           round(sum(o_totalprice), 2)        AS total,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
    FROM orders
    """,
)
def q_table_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow clone under the hash gate: clone the orders LakeTable
    (O(files) hard links, zero data-byte copy — inode sharing and
    metadata carry pinned in tests/test_lakehouse.py), then DIVERGE the
    source with an extra append.  The returned aggregate reads the
    CLONE, and the oracle hashes it against the original orders — so a
    clone that leaked source writes, double-counted shared files, or
    dropped rows in the link step mismatches.  At 100 TB this is the
    dev/test-against-production-data move: a full-fidelity table copy
    in seconds of metadata work."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base = scratch_dir("q_table_clone", fresh=True)
    t = LakeTable.create(orders, base + "/src")
    c = t.clone(base + "/dst")
    # diverge the SOURCE after the clone: the clone must not see it
    t.append(spark, orders.limit(7))
    return c.read(spark).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_cust"),
    )


@query(
    "q_table_generated",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE year(o_orderdate) = 1996
    """,
)
def q_table_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated partition column under the hash gate: orders land in
    a table whose partition column ``o_year`` is GENERATED ALWAYS AS
    ``year(o_orderdate)`` — the writer never computes it — and a
    one-year read is served through manifest partition-stats pruning
    on that derived column (asserted: strictly fewer files than the
    snapshot).  The oracle hashes the pruned read against a plain
    year() filter on the raw table, pinning both the generation
    expression and the skipping soundness."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    path = scratch_dir("q_table_generated", fresh=True) + "/orders_tbl"
    t = LakeTable.create(
        orders,
        path,
        partition_by=["o_year"],
        generated={"o_year": "year(o_orderdate)"},
    )
    pred = [("o_year", "=", 1996)]
    kept = t.prune_files(pred)
    assert 0 < len(kept) < len(t.files()), (
        f"generated-partition pruning ineffective: {len(kept)}/{len(t.files())}"
    )
    return (
        t.read(spark, prune=pred)
        .filter(F.col("o_year") == 1996)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "q_table_rename",
    oracle="""
    WITH merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 100 = 0
                  THEN o_totalprice + 1.5 ELSE o_totalprice END AS price
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT)  AS n_rows,
           round(sum(price), 2)      AS total,
           CAST(count(CASE WHEN o_orderkey % 100 = 0 THEN 1 END) AS BIGINT)
                                     AS n_updated
    FROM merged
    """,
)
def q_table_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENAME COLUMN under the hash gate: orders land as a LakeTable,
    ``o_totalprice`` renames to ``price`` (metadata-only — the data
    files keep their physical name), then a MERGE arrives using the
    NEW logical name and the final read aggregates through the
    mapping.  The oracle replays the same update on the raw table with
    plain CASE arithmetic — a mapping bug in either direction (reads
    resolving the wrong physical column, writes staging under the
    logical name and forking the physical schema) mismatches.  This is
    the schema-evolution path a 100 TB table needs: renames cost one
    manifest commit, never a rewrite."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = scratch_dir("q_table_rename", fresh=True) + "/orders_tbl"
    t = LakeTable.create(orders, path)
    t.rename_column("o_totalprice", "price")
    updates = (
        t.read(spark)
        .filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", (F.col("price") + 1.5).alias("price"))
    )
    t.merge(spark, updates, key=["o_orderkey"])
    return t.read(spark).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum("price"), 2).alias("total"),
        F.sum(F.when(F.col("o_orderkey") % 100 == 0, 1))
        .cast("bigint")
        .alias("n_updated"),
    )


@query(
    "q_table_optimize_where",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE year(o_orderdate) = 1995
    """,
)
def q_table_optimize_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped OPTIMIZE under the hash gate: orders land
    year-partitioned with deliberately many small files, then
    ``optimize(where=[("o_year", "=", 1995)])`` compacts ONLY that
    partition — asserted: 1995's file count drops, every other
    partition's files carry with identical names — and the returned
    aggregate reads the optimized table through partition pruning.
    The oracle hashes it against the raw table, so a scoped rewrite
    that lost, duplicated, or leaked rows across the scope boundary
    mismatches.  This is the nightly maintenance shape at 100 TB:
    compact yesterday's ingest partition without touching the other
    364."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .repartition(6)
    )
    path = scratch_dir("q_table_optimize_where", fresh=True) + "/orders_tbl"
    t = LakeTable.create(orders, path, partition_by=["o_year"])
    tgt = "o_year=1995/"
    before_tgt = [f for f in t.files() if f.startswith(tgt)]
    before_rest = [f for f in t.files() if not f.startswith(tgt)]
    assert len(before_tgt) > 1, "fixture layout: expected multiple files"
    t.optimize(spark, target_partitions=1, where=[("o_year", "=", 1995)])
    after_tgt = [f for f in t.files() if f.startswith(tgt)]
    after_rest = [f for f in t.files() if not f.startswith(tgt)]
    assert len(after_tgt) == 1, f"scoped compaction ineffective: {after_tgt}"
    assert after_rest == before_rest, "out-of-scope files were touched"
    pred = [("o_year", "=", 1995)]
    return (
        t.read(spark, prune=pred)
        .filter(F.col("o_year") == 1995)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "q_table_drop",
    oracle="""
    WITH merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0
                  THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT)        AS n_rows,
           round(sum(o_totalprice), 2)     AS total
    FROM merged
    """,
)
def q_table_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DROP COLUMN under the hash gate: orders land with three
    columns, ``o_custkey`` drops (metadata-only — the files keep the
    bytes, the scan stops projecting them), and a MERGE then arrives
    with the NARROWED schema.  The final aggregate over the surviving
    columns hashes against the raw-table oracle — a drop that
    corrupted the projection, or a post-drop write that forked the
    physical schema, mismatches.  Composes the lazy-drop path with
    real writes, which the pytest pin alone exercises only at toy
    scale."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = scratch_dir("q_table_drop", fresh=True) + "/orders_tbl"
    t = LakeTable.create(orders, path)
    files_before = list(t.files())
    t.drop_column("o_custkey")
    assert t.files() == files_before, "drop must not rewrite files"
    updates = (
        t.read(spark)
        .filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
        )
    )
    t.merge(spark, updates, key=["o_orderkey"])
    return t.read(spark).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "q_table_evolve",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_orderkey % 16 IN (0, 1, 2)
    ),
    src AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_orderkey % 3 AS INT) AS priority_class
      FROM orders WHERE o_orderkey % 16 IN (2, 3)
    )
    SELECT o_orderkey, o_custkey, priority_class FROM src
    UNION ALL
    SELECT b.o_orderkey, b.o_custkey, CAST(NULL AS INT) AS priority_class
    FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.o_orderkey = b.o_orderkey)
    """,
)
def q_table_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution through MERGE (Delta ``mergeSchema`` parity,
    LakeTable.merge(evolve_schema=True)): the source carries a column
    the table has never seen (``priority_class``), the merge widens the
    table schema in the SAME commit, and pre-evolution rows read back
    with NULL in the new column WITHOUT any file rewrite — carried-over
    files simply lack the column and the evolved read schema null-fills
    it (lakehouse/table.py `merge`/`read`).  The declared output is the
    full evolved snapshot, which the oracle restates relationally
    (source rows with the new column ∪ untouched base rows with NULL)
    — proving evolution changed the schema and nothing else."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    base = orders.filter((F.col("o_orderkey") % 16).isin(0, 1, 2))
    src = orders.filter((F.col("o_orderkey") % 16).isin(2, 3)).withColumn(
        "priority_class", (F.col("o_orderkey") % 3).cast("int")
    )
    path = scratch_dir("q_table_evolve", fresh=True) + "/evolve_tbl"
    t = LakeTable.create(base, path)
    t.merge(spark, src, key=["o_orderkey"], evolve_schema=True)
    return t.read(spark).select("o_orderkey", "o_custkey", "priority_class")


@query(
    "q_table_delta_log",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CASE WHEN n_nationkey < 10 THEN 'dl-updated' ELSE n_name END
               AS n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
)
def q_table_delta_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-protocol interchange WITHOUT delta-spark (r10 verdict
    next-round #5; the reference's write path is delta-spark MERGE,
    jobs/order_glue_job.py:151-158): create a partitioned LakeTable,
    MERGE an update into it (two versions, so the log carries removes
    as well as adds), export the vendored ``_delta_log`` JSON commits
    (lakehouse/delta_log.py — protocol/metaData/add/remove actions per
    Delta PROTOCOL.md), then read the table back EXCLUSIVELY through
    the exported log with the spec's snapshot-replay algorithm
    (read_delta_snapshot: latest metaData wins, newest add/remove per
    path decides membership, partition columns re-injected from
    partitionValues with schemaString types).  The oracle restates the
    merged relation from the source table — a wrong action stream,
    partition-value encoding, or schemaString breaks the value hash."""
    from ..lakehouse.delta_log import export_delta_log, read_delta_snapshot

    nation = load_table(spark, sf_dir, "nation")
    path = scratch_dir("q_table_delta_log", fresh=True) + "/t"
    t = LakeTable.create(nation, path, partition_by=["n_regionkey"])
    upd = nation.filter(F.col("n_nationkey") < 10).withColumn(
        "n_name", F.lit("dl-updated")
    )
    t.merge(spark, upd, key=["n_nationkey"])
    export_delta_log(t)
    snap = read_delta_snapshot(spark, path)
    return snap.select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
    )


@query(
    "q_table_iceberg",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CASE WHEN n_nationkey < 10 THEN 'ib-updated' ELSE n_name END
               AS n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey,
           CAST(n_nationkey AS INTEGER)       AS nk_i8,
           CAST(n_nationkey * 100 AS INTEGER) AS nk_i16,
           CAST(1 AS BIGINT) AS from_snapshot
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey AS BIGINT), n_name,
           CAST(n_regionkey AS BIGINT),
           CAST(n_nationkey AS INTEGER),
           CAST(n_nationkey * 100 AS INTEGER),
           CAST(0 AS BIGINT)
    FROM nation
    """,
)
def q_table_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg spec-v2 interchange WITHOUT any iceberg package (r11
    verdict next-round #3; BASELINE.json names "Delta/Iceberg table
    writes" as the north-star write path — delta_log closed the Delta
    half in r11, this closes the Iceberg half with the same shape):
    create a partitioned LakeTable, MERGE an update into it (two
    versions — the second snapshot carries EXISTING, ADDED and
    DELETED manifest entries), export real spec-v2 metadata
    (lakehouse/iceberg_meta.py: version-hinted metadata.json chain,
    per-snapshot manifest list + data manifest as genuine Avro object
    container files via the vendored lakehouse/avro.py codec, field
    ids, sequence numbers, typed identity-partition structs), then
    read the table back EXCLUSIVELY through that metadata — BOTH the
    current snapshot and a snapshot-id TIME TRAVEL to the
    pre-merge version, tagging each with ``from_snapshot``.  The
    oracle restates both relations from the source table: a wrong
    manifest entry status, sequence number, partition value, schema
    field or snapshot lineage breaks one of the two halves of the
    value hash.

    Scale: metadata export is O(files) driver-side kilobytes per
    commit (the same cost class as Iceberg's own Java writer); the
    data read stays a partition-pruned distributed parquet scan —
    readers go straight from the manifest list to file paths with no
    directory listing, which is exactly the property that makes
    Iceberg work at 100 TB."""
    from ..lakehouse.iceberg_meta import (
        _load_metadata,
        export_iceberg_metadata,
        read_iceberg_snapshot,
    )

    # r15: tinyint/smallint columns ride the round trip — the spec
    # has no 8/16-bit primitives, so the export widens them to int
    # (lossless over parquet's physical INT32; source types recorded
    # in graft.source-widened-types) and the reader surfaces int —
    # the closed form the oracle casts to INTEGER
    nation = load_table(spark, sf_dir, "nation").select(
        "*",
        F.col("n_nationkey").cast("tinyint").alias("nk_i8"),
        (F.col("n_nationkey") * 100).cast("smallint").alias("nk_i16"),
    )
    path = scratch_dir("q_table_iceberg", fresh=True) + "/t"
    t = LakeTable.create(nation, path, partition_by=["n_regionkey"])
    upd = nation.filter(F.col("n_nationkey") < 10).withColumn(
        "n_name", F.lit("ib-updated")
    )
    t.merge(spark, upd, key=["n_nationkey"])
    export_iceberg_metadata(t)
    meta = _load_metadata(path)
    first_snap = meta["snapshots"][0]["snapshot-id"]
    current = read_iceberg_snapshot(spark, path).withColumn(
        "from_snapshot", F.lit(1).cast("bigint")
    )
    initial = read_iceberg_snapshot(
        spark, path, snapshot_id=first_snap
    ).withColumn("from_snapshot", F.lit(0).cast("bigint"))
    return current.unionByName(initial).select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
        F.col("nk_i8").cast("int").alias("nk_i8"),
        F.col("nk_i16").cast("int").alias("nk_i16"),
        "from_snapshot",
    )


@query(
    "q_table_iceberg_dv",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey,
           CAST(1 AS BIGINT) AS from_snapshot
    FROM nation
    WHERE n_nationkey % 3 <> 0 AND n_nationkey % 5 <> 1
    UNION ALL
    SELECT CAST(n_nationkey + 100 AS BIGINT), 'ib-extra',
           CAST(n_regionkey AS BIGINT), CAST(1 AS BIGINT)
    FROM nation
    WHERE (n_nationkey + 100) % 5 <> 1
    UNION ALL
    SELECT CAST(n_nationkey AS BIGINT), n_name,
           CAST(n_regionkey AS BIGINT), CAST(0 AS BIGINT)
    FROM nation
    WHERE n_nationkey % 3 <> 0
    """,
)
def q_table_iceberg_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg spec-v2 POSITION-DELETE interchange (r12 verdict
    next-round #3 — the one interchange gap closable without new
    dependencies): a LakeTable deletion vector IS a relation of
    ``(file_path, row_index)`` pointers, which is exactly a v2
    position-delete file, so ``export_iceberg_metadata`` now converts
    each DV into a field-id-stamped, (file_path, pos)-sorted delete
    parquet tracked by a DELETE manifest (content=1) under an
    unpartitioned spec, sequence-numbered at the delete_dv commit.

    The fixture exercises the spec's <=-sequence application rule
    end-to-end: create (seq 1) → delete_dv ``k%3=0`` (seq 2) → APPEND
    new rows (seq 3 — files the first delete must NOT touch) →
    delete_dv ``k%5=1`` (seq 4, pointers into BOTH generations of
    data files).  The query reads the CURRENT snapshot and a
    TIME-TRAVEL to the first-delete snapshot exclusively through the
    exported metadata; the oracle restates both relations from the
    source table, so a wrong sequence number, pointer path form,
    manifest content flag or anti-join application breaks the hash.

    Scale: delete files are point-delete-sized by design (the
    copy-on-write ``delete`` is the big-delete path), so the reader's
    anti-join broadcasts kilobytes while the data scan stays a
    partition-pruned distributed parquet read — the same
    merge-on-read economics that make GDPR-eraser workloads viable on
    a 100 TB table."""
    from ..lakehouse.iceberg_meta import (
        _load_metadata,
        export_iceberg_metadata,
        read_iceberg_snapshot,
    )

    nation = load_table(spark, sf_dir, "nation")
    path = scratch_dir("q_table_iceberg_dv", fresh=True) + "/t"
    t = LakeTable.create(nation, path, partition_by=["n_regionkey"])
    t.delete_dv(spark, F.col("n_nationkey") % 3 == 0)
    extra = nation.select(
        (F.col("n_nationkey") + 100).alias("n_nationkey"),
        F.lit("ib-extra").alias("n_name"),
        *[c for c in nation.columns if c not in ("n_nationkey", "n_name")],
    )
    t.append(spark, extra)
    t.delete_dv(spark, F.col("n_nationkey") % 5 == 1)
    export_iceberg_metadata(t)
    meta = _load_metadata(path)
    first_delete_snap = meta["snapshots"][1]["snapshot-id"]
    current = read_iceberg_snapshot(spark, path).withColumn(
        "from_snapshot", F.lit(1).cast("bigint")
    )
    at_first_delete = read_iceberg_snapshot(
        spark, path, snapshot_id=first_delete_snap
    ).withColumn("from_snapshot", F.lit(0).cast("bigint"))
    return current.unionByName(at_first_delete).select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
        "from_snapshot",
    )


@query(
    "q_table_iceberg_rename",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           n_name AS nation_label,
           CAST(n_regionkey AS BIGINT) AS n_regionkey,
           CAST(1 AS BIGINT) AS from_snapshot
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey + 100 AS BIGINT), 'ib-renamed',
           CAST(n_regionkey AS BIGINT), CAST(1 AS BIGINT)
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey AS BIGINT), n_name,
           CAST(n_regionkey AS BIGINT), CAST(0 AS BIGINT)
    FROM nation
    """,
)
def q_table_iceberg_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg COLUMN-MAPPING interchange (r13 — closes the exporter's
    last LakeTable-feature refusal): a metadata-only RENAME keeps its
    Iceberg field id because ids key on the column's PHYSICAL parquet
    name (the identity a rename never moves — Iceberg's own rename
    semantics: same id, new name), and since the data files carry no
    field-id metadata the export writes the spec's
    ``schema.name-mapping.default`` property so readers resolve
    physical columns to ids — including files APPENDED AFTER the
    rename, which still store the physical name.

    The fixture drives create → rename n_name→nation_label → append;
    the query reads the CURRENT snapshot (renamed schema over both
    file generations) and a TIME TRAVEL to the pre-rename snapshot
    (original names — the v0 leg selects ``n_name``, so a reader that
    leaked the renamed or physical name into the old schema fails
    analysis, not just the hash).  The oracle restates both relations.

    Scale: identical read plan to q_table_iceberg — the name mapping
    is O(columns) metadata; the scan stays partition-pruned parquet
    with a rename-only projection."""
    from ..lakehouse.iceberg_meta import (
        _load_metadata,
        export_iceberg_metadata,
        read_iceberg_snapshot,
    )

    nation = load_table(spark, sf_dir, "nation")
    path = scratch_dir("q_table_iceberg_rename", fresh=True) + "/t"
    t = LakeTable.create(nation, path, partition_by=["n_regionkey"])
    t.rename_column("n_name", "nation_label")
    extra = nation.select(
        (F.col("n_nationkey") + 100).alias("n_nationkey"),
        F.lit("ib-renamed").alias("nation_label"),
        *[c for c in nation.columns if c not in ("n_nationkey", "n_name")],
    )
    t.append(spark, extra)
    export_iceberg_metadata(t)
    meta = _load_metadata(path)
    first_snap = meta["snapshots"][0]["snapshot-id"]
    current = read_iceberg_snapshot(spark, path).withColumn(
        "from_snapshot", F.lit(1).cast("bigint")
    )
    original = (
        read_iceberg_snapshot(spark, path, snapshot_id=first_snap)
        .select(
            "n_nationkey",
            F.col("n_name").alias("nation_label"),
            "n_regionkey",
        )
        .withColumn("from_snapshot", F.lit(0).cast("bigint"))
    )
    return current.unionByName(original).select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        "nation_label",
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
        "from_snapshot",
    )


@query(
    "q_table_iceberg_prune",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)        AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_orderkey BETWEEN 500 AND 1500
    """,
)
def q_table_iceberg_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg BOUNDS-based scan planning (r13): the exporter emits
    per-column ``lower_bounds``/``upper_bounds`` in every data_file
    manifest entry (spec Appendix-D single-value serialization —
    little-endian numerics, UTF-8 strings — sourced from the
    LakeTable manifest's footer stats for free), and the snapshot
    reader eliminates data files whose bounds prove them disjoint
    from the query's ranges BEFORE the parquet scan — exactly how
    real Iceberg plans a filtered scan from manifests alone, no
    footer reads.

    The fixture range-partitions orders on o_orderkey into 8 files
    with disjoint key ranges, exports, then reads through the
    metadata with ``prune={'o_orderkey': (500, 1500)}`` plus the same
    predicate on the relation (pruning is an I/O optimization, never
    a filter); at sf0.01 the pruned scan touches 1 of 8 files
    (pinned in tests/test_iceberg_meta.py — the oracle pins VALUES,
    so a wrong bound serialization that over-prunes loses rows and
    breaks the hash, while under-pruning breaks the pytest file-count
    pin).

    Scale: this is THE property that makes Iceberg metadata useful at
    100 TB — a selective scan goes manifest-list → bounds → the few
    matching files, never listing or footer-probing the other
    99.9%."""
    from ..lakehouse.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders")
    path = scratch_dir("q_table_iceberg_prune", fresh=True) + "/t"
    t = LakeTable.create(orders.repartitionByRange(8, "o_orderkey"), path)
    export_iceberg_metadata(t)
    snap = read_iceberg_snapshot(
        spark, path, prune={"o_orderkey": (500, 1500)}
    ).filter(F.col("o_orderkey").between(500, 1500))
    return snap.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("sum_key"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
    )


@query(
    "q_table_iceberg_bucket",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT)  AS o_orderkey,
           CAST(o_custkey AS BIGINT)   AS o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(0 AS BIGINT) AS tag
    FROM orders WHERE o_orderkey < 4000
    UNION ALL
    SELECT CAST(o_orderkey AS BIGINT), CAST(o_custkey AS BIGINT),
           CAST(o_totalprice AS DOUBLE), CAST(1 AS BIGINT)
    FROM orders WHERE o_orderkey = 137
    """,
)
def q_table_iceberg_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg NON-IDENTITY partition transforms — ``bucket[8]`` +
    ``truncate[2000]`` in one spec (r13 verdict next-round #3, the last
    Iceberg expressiveness gap besides non-exact primitives): derive
    the transform values as physical columns
    (``iceberg_transforms.bucket_column`` — spec-Appendix-B murmur3 of
    the 8-byte-LE long, vectorized numpy inside a pandas UDF —
    and ``truncate_column``, a pure JVM ``w*floor(v/w)``),
    hive-partition a LakeTable by them, export spec-v2 metadata where
    the SCHEMA EXCLUDES the derived columns (a transform value lives
    in metadata + layout only, exactly like real Iceberg), the spec
    names the source field ids with ``bucket[8]``/``truncate[2000]``
    transform strings, and the partition struct carries typed
    transform results.

    Two read legs, both EXCLUSIVELY through the exported metadata:
    the full snapshot (tag 0) must reproduce the source relation
    bit-for-bit WITHOUT the derived columns — a wrong schema
    exclusion, spec field, or partition struct breaks the hash — and
    a POINT LOOKUP (tag 1) through the transform-aware scan planner
    (``prune={o_orderkey: (137, 137)}`` maps the key through the
    bucket hash and keeps only that bucket's files — 8x fewer; the
    plan-hygiene test pins the actual file count).  A wrong bucket
    hash on either side makes the lookup miss its file and drops the
    tag-1 row.  The murmur3 itself is pinned against TWO in-container
    independent validators (Guava murmur3_32_fixed — what Iceberg's
    own BucketUtil uses — and Spark's JVM Murmur3_x86_32.hashLong)
    plus the spec's published Appendix-B test vectors in
    tests/test_iceberg_transforms.py.

    Scale: transform derivation is a narrow projection (JVM or
    Arrow-vectorized); export stays O(files) driver-side kilobytes;
    the point lookup reads 1/8 of the files BEFORE any row is
    scanned — hash-partitioned scan planning is exactly what makes
    key lookups tractable on a 100 TB table."""
    from ..lakehouse import iceberg_transforms as T
    from ..lakehouse.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_snapshot,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    path = scratch_dir("q_table_iceberg_bucket", fresh=True) + "/t"
    # both transforms over the bounded key column -> 8 x 2 = 16
    # partition dirs at EVERY sf (a truncate over o_custkey would
    # grow dirs linearly with sf); coalesce(1) makes the single
    # writer emit one file per dir WITHOUT a shuffle — right for this
    # 4k-row fixture; a real corpus would repartition by the derived
    # columns instead (same layout, distributed writers)
    staged = (
        orders.withColumn(
            "ok_bucket", T.bucket_column("o_orderkey", 8, "long")
        )
        .withColumn("ok_trunc", T.truncate_column("o_orderkey", 2000, "long"))
        .coalesce(1)
    )
    t = LakeTable.create(staged, path, partition_by=["ok_bucket", "ok_trunc"])
    export_iceberg_metadata(
        t,
        partition_transforms={
            "ok_bucket": ("bucket[8]", "o_orderkey"),
            "ok_trunc": ("truncate[2000]", "o_orderkey"),
        },
    )
    full = read_iceberg_snapshot(spark, path).withColumn(
        "tag", F.lit(0).cast("bigint")
    )
    point = (
        read_iceberg_snapshot(spark, path, prune={"o_orderkey": (137, 137)})
        .filter(F.col("o_orderkey") == 137)
        .withColumn("tag", F.lit(1).cast("bigint"))
    )
    return full.unionByName(point).select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("o_custkey").cast("bigint").alias("o_custkey"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "tag",
    )


@query(
    "q_table_iceberg_time",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(user_id AS BIGINT)  AS user_id,
           ts,
           CAST(0 AS BIGINT) AS tag
    FROM events WHERE event_id < 3000
    UNION ALL
    SELECT CAST(event_id AS BIGINT), CAST(user_id AS BIGINT), ts,
           CAST(1 AS BIGINT)
    FROM events
    WHERE event_id < 3000
      AND ts >= TIMESTAMP '2024-01-03 00:00:00'
      AND ts <  TIMESTAMP '2024-01-05 00:00:00'
    """,
)
def q_table_iceberg_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg TIME partition transforms — ``month`` + ``day`` in one
    spec over a timestamptz source (the other half of r13 verdict
    next-round #3): ``day_column``/``month_column`` are pure JVM
    expressions (days from epoch / months from 1970-01, the spec's
    result ordinals; the day result is exported with the Avro
    ``date`` logical annotation), the exporter VERIFIES each data
    file's claimed day/month against the source column's parquet
    footer bounds (a mispartitioned file is a loud ValueError, never
    wrong metadata — pinned by a refusal test), and the reader's scan
    planning maps a timestamp range through the monotonic transforms
    to skip every partition outside it.

    Tag 0: the full snapshot read back exclusively through the
    metadata (schema excludes both derived columns).  Tag 1: a
    two-day window read with ``prune={ts: (lo, hi)}`` — the day
    transform keeps only the in-window partitions (file-count pinned
    in the plan-hygiene tests), and the result must equal the
    oracle's restated window, so an off-by-one in the epoch-day
    arithmetic on EITHER side (writer dir values or reader range
    mapping) drops or duplicates boundary rows and breaks the hash.

    Scale: time-transform scan planning is THE access path for
    time-series lakehouse data — a day-partitioned 100 TB events
    table serves a 2-day dashboard query by reading 2/365 of its
    files, decided driver-side from kilobytes of metadata."""
    from ..lakehouse import iceberg_transforms as T
    from ..lakehouse.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_snapshot,
    )
    import datetime

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 3000)
        .select("event_id", "user_id", "ts")
    )
    path = scratch_dir("q_table_iceberg_time", fresh=True) + "/t"
    staged = ev.withColumn("ts_month", T.month_column("ts")).withColumn(
        "ts_day", T.day_column("ts")
    )
    t = LakeTable.create(staged, path, partition_by=["ts_month", "ts_day"])
    export_iceberg_metadata(
        t,
        partition_transforms={
            "ts_month": ("month", "ts"),
            "ts_day": ("day", "ts"),
        },
    )
    full = read_iceberg_snapshot(spark, path).withColumn(
        "tag", F.lit(0).cast("bigint")
    )
    lo = datetime.datetime(2024, 1, 3)
    hi = datetime.datetime(2024, 1, 4, 23, 59, 59, 999999)
    window = (
        read_iceberg_snapshot(spark, path, prune={"ts": (lo, hi)})
        .filter(
            (F.col("ts") >= F.lit(lo))
            & (F.col("ts") < F.lit(datetime.datetime(2024, 1, 5)))
        )
        .withColumn("tag", F.lit(1).cast("bigint"))
    )
    return full.unionByName(window).select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts",
        "tag",
    )


@query(
    "q_table_iceberg_nested",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT)  AS o_orderkey,
           CAST(o_custkey AS BIGINT)   AS cust,
           o_orderstatus               AS status,
           split_part(o_orderpriority, '-', 1) AS prio_1,
           split_part(o_orderpriority, '-', 2) AS prio_2,
           CAST(2 AS BIGINT)           AS n_words,
           CAST(o_totalprice AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 2000
    """,
)
def q_table_iceberg_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg NESTED-TYPE schema export (closing the nested half of
    the "non-exact primitives" refusal): a LakeTable with struct /
    array / map columns exports a spec-v2 schema with ELEMENT-LEVEL
    field ids — struct members, list elements and map keys/values
    each get a unique id allocated by first appearance of their
    dotted path (stable across versions, exactly like top-level
    physical names; ``last-column-id`` covers them), with
    ``element-required``/``value-required`` derived from Spark
    nullability — and ``read_iceberg_snapshot`` reconstructs the
    Spark nested schema from that metadata alone.

    The relation flattens every nested shape on the way out (struct
    field access, element_at over the list, map lookup), so the
    oracle's split_part/column restatement hash-pins that nested
    VALUES survive the exported-layout round trip, not just that the
    schema parses.  8/16-bit ints still refuse (silent widening);
    bounds stay scalar-only (footer stats never cover nested
    columns).

    Scale: identical to the flat queries — metadata is O(files)
    driver-side kilobytes, the read is a distributed parquet scan
    whose nested columns Spark prunes/projects natively."""
    from ..lakehouse.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    )
    df = orders.select(
        "o_orderkey",
        F.struct(
            F.col("o_custkey").alias("cust"),
            F.col("o_orderstatus").alias("status"),
        ).alias("who"),
        F.split("o_orderpriority", "-").alias("prio_words"),
        F.create_map(F.lit("total"), F.col("o_totalprice")).alias("amounts"),
    ).coalesce(1)
    path = scratch_dir("q_table_iceberg_nested", fresh=True) + "/t"
    t = LakeTable.create(df, path)
    export_iceberg_metadata(t)
    snap = read_iceberg_snapshot(spark, path)
    return snap.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("who.cust").cast("bigint").alias("cust"),
        F.col("who.status").alias("status"),
        F.element_at("prio_words", 1).alias("prio_1"),
        F.element_at("prio_words", 2).alias("prio_2"),
        F.size("prio_words").cast("bigint").alias("n_words"),
        F.element_at("amounts", "total").cast("double").alias("total"),
    )
