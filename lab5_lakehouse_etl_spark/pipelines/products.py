"""Products pipeline (jobs/products_glue_job.py, ≈209 LoC → this).

Shape (SURVEY §2.11.3): declared-schema CSV scan → emptiness probe →
dedup by product_id BEFORE null-filtering (§2.12: a null-name survivor
can shadow a valid duplicate — preserved faithfully) → required-field
filter (drop-count only, nothing persisted) → RI semi-join against
order_items (graceful) → ingestion timestamp → LakeTable
create-or-merge on product_id, partitioned by department_id.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..lakehouse import LakeTable, create_or_merge
from ..operators import relational as ops
from ..sources import readers, writers
from .config import ZoneConfig

# jobs/products_glue_job.py:125-130 — all-string schema with two
# non-nullable fields (nullability re-enforced by the filter anyway).
PRODUCTS_SCHEMA = StructType(
    [
        StructField("product_id", StringType(), False),
        StructField("department_id", StringType(), True),
        StructField("department", StringType(), True),
        StructField("product_name", StringType(), False),
    ]
)

REQUIRED = ["product_id", "product_name"]  # :149


def run_products(spark: SparkSession, zones: ZoneConfig) -> dict:
    raw_glob = os.path.join(zones.raw, "products", "*.csv")
    raw = readers.read_csv_with_schema(spark, raw_glob, PRODUCTS_SCHEMA)

    if raw.isEmpty():  # A5 emptiness probe (:140-141, modern API)
        raise ValueError("products input is empty")

    from pyspark.sql import Observation

    # observe() accumulators replace three count() jobs (same
    # rationale as pipelines/orders.py)
    obs_input, obs_valid, obs_final = (Observation() for _ in range(3))
    raw = raw.observe(obs_input, F.count(F.lit(1)).alias("n"))

    # §2.12: dedup precedes validation (:146 before :149).
    deduped = ops.dedup_arbitrary(raw, ["product_id"])
    valid, _ = ops.split_valid_rejected(deduped, REQUIRED)
    valid = valid.observe(obs_valid, F.count(F.lit(1)).alias("n"))

    # Graceful RI: proceed un-joined if order_items is unreadable
    # (:151-157 try/except) — the read happens inside the operator's
    # try via the callable form.
    items_path = zones.table_path("order_items")
    ri = ops.ri_semi_join(
        valid,
        lambda: LakeTable(items_path).read(spark).select(
            F.col("product_id").cast("string").alias("product_id")
        ),
        on="product_id",
        graceful=True,
    )

    stamped = ri.withColumn(
        "ingestion_timestamp", F.current_timestamp()
    ).observe(obs_final, F.count(F.lit(1)).alias("n"))

    create_or_merge(
        spark,
        stamped,
        zones.table_path("products"),
        key=["product_id"],
        partition_by=["department_id"],
    )

    n_total, n_valid = obs_input.get["n"], obs_valid.get["n"]
    metrics = {
        "job": "products",
        "input_rows": n_total,
        "valid_rows": n_valid,
        "dropped_rows": n_total - n_valid,  # A4 derived arithmetic (:160-163)
        "final_rows": obs_final.get["n"],
    }
    writers.write_log_text(
        [f"{k}={v}" for k, v in metrics.items()],
        os.path.join(zones.logs, "products"),
    )
    for f in glob.glob(raw_glob):
        writers.archive_file(f, os.path.join(zones.archive, "products"))
    return metrics
