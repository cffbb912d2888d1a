"""Core relational declared queries (SURVEY §2.1, §2.2, §2.6).

Every query here is the oracle-verified form of an operator the
reference uses; combinators live in ``operators.relational`` and cite
reference lines. Determinism rules: no current_timestamp, unique sort
tiebreaks wherever LIMIT makes row order observable, try_cast for
permissive-cast semantics (ANSI-proof).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import relational as ops
from ..session import load_table
from . import query


# --- S2: typed scan + projection --------------------------------------------
@query(
    "q_scan_schema",
    oracle="""
    SELECT p_partkey, p_name, p_brand,
           CAST(p_size AS BIGINT) AS p_size_l, p_retailprice
    FROM part
    """,
)
def q_scan_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-schema scan (jobs/products_glue_job.py:125-139): parquet
    scan with explicit typed projection; ReadSchema shows only the five
    columns (column pruning reaches the scan)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.col("p_size").cast("bigint").alias("p_size_l"),
        "p_retailprice",
    )


# --- P1/P2: projection policies ---------------------------------------------
@query(
    "q_project",
    oracle="SELECT c_custkey, c_name, c_mktsegment FROM customer",
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ordered projection (jobs/order_glue_job.py:95-101) composed
    with intersection projection (jobs/order_items_glue_job.py:109) —
    the intersection step silently drops the non-existent column."""
    cust = load_table(spark, sf_dir, "customer")
    strict = ops.project_strict(cust, ["c_custkey", "c_name", "c_mktsegment"])
    return ops.project_intersection(
        strict, ["c_custkey", "c_name", "c_mktsegment", "no_such_column"]
    )


# --- P3: permissive cast block ----------------------------------------------
@query(
    "q_cast_types",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR)            AS key_str,
           TRY_CAST(o_orderstatus AS BIGINT)      AS status_num,
           CAST(trunc(o_totalprice) AS BIGINT)    AS price_trunc,
           CAST(o_orderdate AS DATE)              AS order_date,
           TRY_CAST(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP) AS reparsed_ts
    FROM orders
    """,
)
def q_cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive cast block (jobs/order_glue_job.py:105-109,
    jobs/order_items_glue_job.py:113-123): bad casts yield NULL
    (status_num is the always-failing cast); double→bigint truncates
    toward zero in Spark, so the oracle truncs explicitly; timestamp
    round-trips through its string form (to_timestamp ISO parse)."""
    orders = load_table(spark, sf_dir, "orders")
    typed = ops.cast_permissive(
        orders.select(
            "o_orderkey",
            F.col("o_orderkey").cast("string").alias("key_str"),
            F.col("o_orderstatus").alias("status_num"),
            F.col("o_totalprice").alias("price_trunc"),
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.col("o_orderdate").cast("string").alias("reparsed_ts"),
        ),
        {"status_num": "bigint", "price_trunc": "bigint", "reparsed_ts": "timestamp"},
    )
    return typed


# --- P4/P5: required-field split --------------------------------------------
def _orders_with_nullable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nullif manufactures NULLs so both branches of the split are non-empty
    # on clean synthetic data.
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr("nullif(o_orderstatus, 'O')").alias("status_nn"),
        F.expr("nullif(o_orderpriority, '1-URGENT')").alias("prio_nn"),
    )


_SPLIT_ORACLE_BASE = """
    WITH t AS (
      SELECT o_orderkey, o_custkey,
             nullif(o_orderstatus, 'O') AS status_nn,
             nullif(o_orderpriority, '1-URGENT') AS prio_nn
      FROM orders
    )
"""


@query(
    "q_filter_notnull",
    oracle=_SPLIT_ORACLE_BASE
    + "SELECT * FROM t WHERE status_nn IS NOT NULL AND prio_nn IS NOT NULL",
)
def q_filter_notnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive not-null validity filter (jobs/order_glue_job.py:111,
    jobs/order_items_glue_job.py:130-136) — the valid branch."""
    valid, _ = ops.split_valid_rejected(
        _orders_with_nullable(spark, sf_dir), ["status_nn", "prio_nn"]
    )
    return valid


@query(
    "q_filter_reject",
    oracle=_SPLIT_ORACLE_BASE
    + "SELECT * FROM t WHERE status_nn IS NULL OR prio_nn IS NULL",
)
def q_filter_reject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive reject filter (jobs/order_glue_job.py:122-126) — the
    quarantine branch; complement of q_filter_notnull."""
    _, rejected = ops.split_valid_rejected(
        _orders_with_nullable(spark, sf_dir), ["status_nn", "prio_nn"]
    )
    return rejected


# --- A1/A4: counts + derived arithmetic -------------------------------------
@query(
    "q_count",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT) AS n_discounted,
           CAST(COUNT(*) - COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT) AS n_dropped
    FROM lineitem
    """,
)
def q_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row counting + driver-side count arithmetic
    (jobs/order_glue_job.py:146,167; jobs/products_glue_job.py:160-163)
    expressed as one distributed aggregate instead of repeated
    ``df.count()`` actions — one scan, partial aggregation map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
    )
    return agg.select(
        "n_rows",
        "n_discounted",
        (F.col("n_rows") - F.col("n_discounted")).alias("n_dropped"),
    )


# --- A2: distinct -----------------------------------------------------------
@query("q_distinct", oracle="SELECT DISTINCT c_mktsegment FROM customer")
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-column distinct (key-list dedup pre-join,
    jobs/order_glue_job.py:134) — hash partial-aggregate both sides of
    the shuffle, so the exchange carries only distinct values."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# --- A3: exact dedup on composite key ---------------------------------------
@query("q_dedup_exact", oracle="SELECT DISTINCT * FROM lineitem")
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key dropDuplicates (jobs/order_items_glue_job.py:160-162).
    (l_orderkey, l_linenumber) is unique in the fixture, so keeping one
    row per full-row value is deterministic."""
    return load_table(spark, sf_dir, "lineitem").dropDuplicates()


# --- O3: EXCEPT --------------------------------------------------------------
@query(
    "q_set_except",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
    EXCEPT
    SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_returnflag = 'A'
    """,
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT DISTINCT via subtract (jobs/order_items_glue_job.py:140)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    )
    return ops.except_rows(li, li.filter(F.col("l_returnflag") == "A"))


@query(
    "q_set_union",
    oracle="""
    SELECT c_custkey AS id, c_name AS name FROM customer
    UNION ALL
    SELECT s_suppkey AS id, s_name AS name FROM supplier
    """,
)
def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL by name (extension surface, SURVEY §2.6)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"), F.col("s_name").alias("name")
    )
    return cust.unionByName(supp)


@query(
    "q_set_intersect",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    INTERSECT
    SELECT c_custkey AS custkey FROM customer
    """,
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) (extension surface, SURVEY §2.6)."""
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    return o.intersect(c)


# --- S15/O2: SQL entry point + LIMIT ----------------------------------------
@query(
    "q_sql_limit",
    oracle="SELECT * FROM part ORDER BY p_partkey LIMIT 10",
)
def q_sql_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Athena validation query (step_functions/state_machine.json:121)
    read through the persistent ``lakehouse_dwh`` catalog database — the
    Glue-catalog twin: an external parquet table registered by location
    (metadata-only DDL, no copy), queried by qualified name, with ORDER
    BY added for determinism. Spark plans this as TakeOrderedAndProject
    — no global sort materialization."""
    spark.sql("CREATE DATABASE IF NOT EXISTS lakehouse_dwh")
    spark.sql("DROP TABLE IF EXISTS lakehouse_dwh.part")
    spark.sql(
        "CREATE TABLE lakehouse_dwh.part USING parquet "
        f"LOCATION '{sf_dir}/part.parquet'"
    )
    return spark.sql(
        "SELECT * FROM lakehouse_dwh.part ORDER BY p_partkey LIMIT 10"
    )


# --- sorts ------------------------------------------------------------------
@query(
    "q_sort_multi",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal FROM customer
    ORDER BY c_nationkey ASC, c_acctbal DESC NULLS LAST, c_custkey ASC
    LIMIT 50
    """,
)
def q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit null ordering (the reference's only
    sort is desc_nulls_last inside a window, jobs/order_glue_job.py:114);
    LIMIT makes the order observable to the hash check."""
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .orderBy(
            F.col("c_nationkey").asc(),
            F.col("c_acctbal").desc_nulls_last(),
            F.col("c_custkey").asc(),
        )
        .limit(50)
    )


@query(
    "q_sort_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy + limit compiles to TakeOrderedAndProject —
    per-partition heaps then a driver merge, no full global sort; this is
    the 100 TB-safe way to take a top slice."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )
