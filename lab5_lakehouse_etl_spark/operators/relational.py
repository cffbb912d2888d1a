"""Relational combinators matching the reference jobs' exact semantics.

Each function cites the reference behavior it re-expresses
(path:line into /root/reference). These are deliberately thin: the
value is the pinned-down contract (null policy, dedup survivor rule,
missing-column policy), not the Spark calls themselves — Catalyst
optimizes the composed plan as a whole.

Scale notes are inline per operator; the headline rules:
- null-filters and projections sit directly over the scan so Catalyst
  pushes them into the parquet/CSV reader;
- dedup is a single hash shuffle on the key (window dedup) — at 100 TB
  the key must be the partition key of the shuffle, never a full row;
- RI filtering uses ``left_semi`` so the build side is only the key
  column (broadcastable for dimension-sized key sets).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def project_strict(df: DataFrame, expected: Iterable[str]) -> DataFrame:
    """Ordered projection; raise on any missing column.

    Reference: orders job hard-fails on missing columns then selects the
    expected list (jobs/order_glue_job.py:95-101, tests/utils.py:49-65).
    """
    expected = list(expected)
    missing = [c for c in expected if c not in df.columns]
    if missing:
        raise ValueError(f"missing expected columns: {missing}")
    return df.select(*expected)


def project_intersection(df: DataFrame, expected: Iterable[str]) -> DataFrame:
    """Keep expected columns that exist; silently drop the rest.

    Reference: order_items keeps the intersection
    (jobs/order_items_glue_job.py:109) — the lenient missing-column
    policy, vs ``project_strict``'s hard-fail policy.
    """
    return df.select(*[c for c in expected if c in df.columns])


def cast_permissive(df: DataFrame, types: Mapping[str, str]) -> DataFrame:
    """Permissive type-cast block: a failed cast yields NULL, not an error.

    Reference: the string→typed cast blocks
    (jobs/order_glue_job.py:105-109, jobs/order_items_glue_job.py:113-123)
    under Spark 3's non-ANSI default cast. Spark 4 defaults ANSI on, so
    we use ``try_cast``/``try_to_timestamp`` explicitly — same semantics,
    version-proof, and still whole-stage-codegen'd JVM expressions.
    """
    out = df
    for name, dtype in types.items():
        if dtype == "timestamp":
            out = out.withColumn(name, F.try_to_timestamp(F.col(name)))
        else:
            out = out.withColumn(name, F.col(name).try_cast(dtype))
    return out


def not_null_all(cols: Iterable[str]) -> Column:
    """True where every column in ``cols`` is non-null (never NULL)."""
    pred = F.lit(True)
    for c in cols:
        pred = pred & F.col(c).isNotNull()
    return pred


def split_valid_rejected(
    df: DataFrame, required: Iterable[str]
) -> tuple[DataFrame, DataFrame]:
    """Conjunctive not-null filter + its complement (the reject stream).

    Reference: valid = all required non-null (jobs/order_glue_job.py:111,
    jobs/order_items_glue_job.py:130-136, jobs/products_glue_job.py:149);
    rejected = any required null (jobs/order_glue_job.py:122-126).
    Both filters are simple conjunctions/disjunctions of IsNotNull —
    Catalyst pushes them to the scan, and the two branches share the
    cached upstream plan.
    """
    required = list(required)
    pred = not_null_all(required)
    return df.filter(pred), df.filter(~pred)


def latest_wins_dedup(
    df: DataFrame,
    key: Iterable[str],
    order_col: str,
    tiebreak: Iterable[str] = (),
    descending: bool = True,
) -> DataFrame:
    """Keep the newest row per key (row_number over desc-nulls-last).

    Reference: orders dedup (jobs/order_glue_job.py:113-116) —
    ``row_number() OVER (PARTITION BY order_id ORDER BY order_timestamp
    DESC NULLS LAST)`` then keep rank 1 and drop the helper column.
    ``tiebreak`` columns make the survivor deterministic when the
    reference would pick arbitrarily (documented deviation for
    testability; pass none to reproduce reference behavior).

    Scale: one hash shuffle on ``key``; Spark's WindowExec sorts within
    partitions only. Skewed keys → enable AQE skew handling (on by
    default in our session).
    """
    def _ord(c: str) -> Column:
        return F.col(c).desc_nulls_last() if descending else F.col(c).asc_nulls_last()

    order = [_ord(order_col)] + [_ord(c) for c in tiebreak]
    w = Window.partitionBy(*[F.col(k) for k in key]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_arbitrary(df: DataFrame, key: Iterable[str]) -> DataFrame:
    """Keep one arbitrary row per composite key.

    Reference: order_items ``dropDuplicates([id, order_id, user_id,
    product_id, order_timestamp])`` (jobs/order_items_glue_job.py:160-162).
    Survivor choice is partition-order dependent — declared queries use
    ``latest_wins_dedup`` instead whenever the result is hash-compared.
    """
    return df.dropDuplicates(list(key))


def ri_semi_join(
    df: DataFrame,
    keys_df: DataFrame | Callable[[], DataFrame],
    on: str,
    graceful: bool = False,
) -> DataFrame:
    """Referential-integrity filter: keep rows whose ``on`` exists in keys_df.

    Reference builds ``SELECT DISTINCT k`` then inner-joins
    (jobs/order_glue_job.py:132-140, jobs/order_items_glue_job.py:152-153,
    jobs/products_glue_job.py:151-157). Because the right side is a
    distinct single key, inner ≡ left-semi; we use ``left_semi`` so the
    join never widens rows and Spark can broadcast just the key column.

    ``graceful=True`` reproduces the try/except degradation (orders and
    products proceed un-joined when the other table is unreadable).
    For that to actually cover read failures, pass ``keys_df`` as a
    ZERO-ARG CALLABLE that performs the read — a pre-built DataFrame
    only fails lazily at action time, outside this try. (Reading a
    missing parquet/lake path raises eagerly at DataFrame creation, so
    the callable form covers the reference's missing-table case.)
    """
    try:
        keys = keys_df() if callable(keys_df) else keys_df
        keys = keys.select(on).dropDuplicates()
        return df.join(keys, on=on, how="left_semi")
    except Exception:
        if graceful:
            return df
        raise


def except_rows(df: DataFrame, minus: DataFrame) -> DataFrame:
    """EXCEPT DISTINCT — Spark ``subtract``.

    Reference: rejected = df.subtract(valid)
    (jobs/order_items_glue_job.py:140); note this collapses duplicate
    rejected rows, a quirk we preserve (SURVEY §2.12).
    """
    return df.subtract(minus)


def rejected_keys(df: DataFrame, key: Iterable[str], valid_cond: Column) -> DataFrame:
    """Distinct ``key`` tuples with no valid row — the single-scan form
    of ``df.select(key) EXCEPT valid.select(key)``.

    When ``valid = df.filter(valid_cond)`` (a row-local predicate), the
    EXCEPT-DISTINCT reject capture (jobs/order_items_glue_job.py:140)
    is exactly "keys where max(valid_cond) is false": a key survives
    EXCEPT iff it appears in df and never in valid. The rewrite replaces
    two scans + a wide two-sided EXCEPT shuffle with ONE scan and one
    partially-aggregated (map-side combined) shuffle of (key, bool) —
    the shape that survives 100 TB. Null-safe: max() ignores NULL
    predicate rows unless the key has no TRUE row, matching EXCEPT.
    """
    keys = list(key)
    return (
        df.select(*keys, F.coalesce(valid_cond, F.lit(False)).alias("__ok"))
        .groupBy(*keys)
        .agg(F.max("__ok").alias("__any_ok"))
        .filter(~F.col("__any_ok"))
        .drop("__any_ok")
    )
