"""Order-items pipeline (jobs/order_items_glue_job.py, ≈222 LoC → this).

Shape (SURVEY §2.11.2): CSV scan → intersection projection → permissive
casts → required-field filter → EXCEPT-style reject capture (CSV sink)
→ RI semi-join against orders (HARD dependency, no try/except —
jobs/order_items_glue_job.py:152 has no guard) → composite-key dedup →
ingestion timestamp → LakeTable create-or-merge on `id`.

§2.12 fine print preserved:
- rejects via subtract (collapses duplicate rejected rows, :140);
- composite dedup key is WIDER than the merge key `id`, so the merge
  pre-dedups on `id` latest-wins (the documented deviation fixing the
  reference's Delta multiple-source-match error).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..lakehouse import LakeTable, create_or_merge
from ..operators import relational as ops
from ..sources import readers, writers
from .config import ZoneConfig

EXPECTED_COLUMNS = [
    # jobs/order_items_glue_job.py:102-106
    "id",
    "order_id",
    "user_id",
    "days_since_prior_order",
    "product_id",
    "add_to_cart_order",
    "reordered",
    "order_timestamp",
    "date",
    "sheet_name",
    "source_file",
]

CASTS = {
    # jobs/order_items_glue_job.py:113-123
    "id": "bigint",
    "order_id": "bigint",
    "user_id": "bigint",
    "days_since_prior_order": "int",
    "product_id": "bigint",
    "add_to_cart_order": "int",
    "reordered": "int",
    "order_timestamp": "timestamp",
    "date": "date",
    "sheet_name": "string",
    "source_file": "string",
}

REQUIRED = ["id", "order_id", "user_id", "product_id", "order_timestamp"]  # :130-136
DEDUP_KEY = ["id", "order_id", "user_id", "product_id", "order_timestamp"]  # :160-162


def run_order_items(spark: SparkSession, zones: ZoneConfig) -> dict:
    raw_glob = os.path.join(zones.raw, "order_items", "*.csv")
    raw = readers.read_csv_untyped(spark, raw_glob)

    from pyspark.sql import Observation

    projected = ops.project_intersection(raw, EXPECTED_COLUMNS)  # lenient policy
    typed = ops.cast_permissive(projected, CASTS)
    valid, _ = ops.split_valid_rejected(typed, REQUIRED)

    # Reference computes rejects as typed.subtract(valid) — EXCEPT
    # DISTINCT, so duplicate rejected rows collapse (§2.12).  Validity
    # is a function of the row, so that is exactly the distinct rows
    # failing REQUIRED: ONE aggregate of typed grouped with its validity
    # flag, instead of a two-sided anti join.  The input/valid/rejected
    # counts ride one observe() ABOVE that aggregate, in place of three
    # count() jobs: an observe() below it never reports on a clean batch,
    # because AQE replaces the empty reject stage (and every
    # CollectMetrics node inside it) with an empty relation.
    obs_split, obs_final = Observation(), Observation()
    groups = (
        typed.groupBy(*typed.columns, ops.not_null_all(REQUIRED).alias("__ok"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .observe(
            obs_split,
            F.coalesce(F.sum("__n"), F.lit(0)).alias("input"),
            F.coalesce(F.sum(F.when(F.col("__ok"), F.col("__n"))), F.lit(0)).alias("valid"),
            F.count_if(~F.col("__ok")).alias("rejected"),
        )
    )
    rejected = groups.filter(~F.col("__ok")).select(*typed.columns)
    writers.write_rejected_csv(rejected, os.path.join(zones.rejected, "order_items"))

    # HARD RI dependency: first run fails if orders is absent, exactly
    # like the reference (no graceful guard here).
    orders_tbl = LakeTable(zones.table_path("orders"))
    order_keys = orders_tbl.read(spark).select("order_id")
    ri = ops.ri_semi_join(valid, order_keys, on="order_id")

    deduped = ops.dedup_arbitrary(ri, DEDUP_KEY)
    stamped = deduped.withColumn(
        "ingestion_timestamp", F.current_timestamp()
    ).observe(obs_final, F.count(F.lit(1)).alias("n"))

    create_or_merge(
        spark,
        stamped,
        zones.table_path("order_items"),
        key=["id"],
        partition_by=["date"],
        latest_by="order_timestamp",
    )

    split = obs_split.get
    metrics = {
        "job": "order_items",
        "input_rows": split["input"],
        "valid_rows": split["valid"],
        "deduplicated_rows": obs_final.get["n"],
        "rejected_rows": split["rejected"],
    }
    writers.write_log_text(
        [f"{k}={v}" for k, v in metrics.items()],
        os.path.join(zones.logs, "order_items"),
    )
    for f in glob.glob(raw_glob):
        writers.archive_file(f, os.path.join(zones.archive, "order_items"))
    return metrics
