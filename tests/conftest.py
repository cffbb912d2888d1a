"""Shared pytest fixtures: one SparkSession per test run + the DuckDB
differential-oracle comparator that mirrors the driver's t2 gate."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lab5_lakehouse_etl_spark.session import TABLES, build_session, table_path

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = build_session("lab5-tests")
    yield s
    s.stop()



def jobs_of(spark, fn) -> int:
    """Spark jobs that calling ``fn()`` runs in this session."""
    from lab5_lakehouse_etl_spark.plans import job_count

    before = job_count(spark)
    fn()
    return job_count(spark) - before

@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 / float32 artifacts; queries round explicitly,
        # so 1e-9 relative slack here only absorbs repr noise
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def rows_key(rows, colnames):
    """Order-insensitive multiset of rows with columns sorted by name —
    the same shape the driver hashes."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def _duckdb_kind(t):
    """Numeric KIND a DuckDB result type lands on after the driver's
    pandas conversion layer. HUGEINT (what DuckDB widens integer sum()
    to) has no int128 in pandas and becomes float64 — so it must be
    classed 'float', which is exactly how the driver saw the
    q_sessionize_batch hash mismatch that rows/values comparison via
    Python ``==`` (1 == 1.0) can never catch."""
    s = str(t).upper()
    if s.endswith("[]") or s.startswith(("STRUCT", "MAP", "LIST")):
        return "nested"
    if s.startswith("DECIMAL"):
        return "decimal"
    if s in ("HUGEINT", "UHUGEINT"):
        return "float"  # pandas: float64
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if s in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if s == "BOOLEAN":
        return "bool"
    if s.startswith("TIMESTAMP"):
        return "ts"
    if s == "DATE":
        return "date"
    if s == "BLOB":
        return "bytes"
    return "str" if s in ("VARCHAR", "JSON") else "other"


def _spark_kind(dt):
    from pyspark.sql import types as T

    if isinstance(dt, (T.ArrayType, T.StructType, T.MapType)):
        return "nested"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    return "str" if isinstance(dt, T.StringType) else "other"


def compare_with_oracle(spark_df, con, sql):
    """Row-count + sorted-column value comparison vs the DuckDB oracle."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    # the driver's result canonicalizer sorts every column through
    # pandas; array/map/struct values raise `unhashable type` there
    # (the exact q_sketch_quantile r6 crash — its only ERROR row).
    # Declared outputs must stay scalar-only.
    nonscalar = [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nonscalar, (
        f"non-scalar declared output columns {nonscalar}: the driver's "
        "canonicalizer crashes on these (r6 q_sketch_quantile class) — "
        "unpack to scalar columns"
    )
    sp_cols = spark_df.columns
    sp_rows = [tuple(r) for r in spark_df.collect()]
    res = con.sql(sql)
    dk_cols = res.columns
    dk_rows = res.fetchall()
    assert sorted(sp_cols) == sorted(
        dk_cols
    ), f"column mismatch: spark={sorted(sp_cols)} duckdb={sorted(dk_cols)}"
    sp_kinds = {f.name: _spark_kind(f.dataType) for f in spark_df.schema.fields}
    dk_kinds = dict(zip(dk_cols, (_duckdb_kind(t) for t in res.types)))
    # DECIMAL may never reach a declared output: the driver's hash layer
    # has no decimal representation (pandas coerces the DuckDB side to
    # float64 while Spark's stays Decimal) so values that are equal still
    # hash-mismatch — the exact r3 failure class (q_skew_salted_*,
    # q_mv_incremental), same mechanism as r2's HUGEINT. Accumulate in
    # decimal if order-insensitivity matters, but emit
    # round(CAST(.. AS DOUBLE), 2) or a scaled BIGINT.
    dec_cols = sorted(
        set(c for c, k in sp_kinds.items() if k == "decimal")
        | set(c for c, k in dk_kinds.items() if k == "decimal")
    )
    assert not dec_cols, (
        f"DECIMAL in declared output columns {dec_cols}: the driver hashes "
        "decimals asymmetrically (oracle side lands as float64). Emit "
        "round(CAST(.. AS DOUBLE), 2) or scaled BIGINT on both sides."
    )
    kind_diffs = {
        c: (sp_kinds[c], dk_kinds[c])
        for c in sp_kinds
        if sp_kinds[c] != dk_kinds[c]
    }
    assert not kind_diffs, (
        "type-kind mismatch (driver hashes these differently, e.g. DuckDB "
        f"HUGEINT->float64): {kind_diffs}"
    )
    assert len(sp_rows) == len(dk_rows), (
        f"row count mismatch: spark={len(sp_rows)} duckdb={len(dk_rows)}"
    )
    sk, dk = rows_key(sp_rows, sp_cols), rows_key(dk_rows, dk_cols)
    if sk != dk:
        diffs = [
            (a, b) for a, b in zip(sk, dk) if a != b
        ][:5]
        raise AssertionError(f"value mismatch; first diffs: {diffs}")
