"""Orders pipeline (jobs/order_glue_job.py, ≈227 LoC → this module).

Shape (SURVEY §2.11.1): CSV scan → strict column validation → permissive
casts → valid/reject split → latest-wins window dedup → ingestion
timestamp → RI semi-join against order_items (graceful degradation) →
LakeTable create-or-merge partitioned by date → JSON reject sink →
run-metrics log → archive raw files.

§2.12 fine print preserved:
- rejects captured from the PRE-dedup typed frame (jobs/order_glue_job.py:122-126);
- RI join wrapped in graceful degradation (try/except at :132-140);
- merge keyed on order_id with latest-wins pre-dedup (documented
  deviation fixing the reference's duplicate-source MERGE hazard).
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
    # jobs/order_glue_job.py:31-34
    "order_num",
    "order_id",
    "user_id",
    "order_timestamp",
    "total_amount",
    "date",
    "sheet_name",
    "source_file",
]

CASTS = {
    # jobs/order_glue_job.py:105-109
    "order_id": "bigint",
    "user_id": "bigint",
    "total_amount": "double",
    "order_timestamp": "timestamp",
    "date": "date",
}

REQUIRED = ["order_id", "user_id", "order_timestamp"]  # :111


def run_orders(spark: SparkSession, zones: ZoneConfig) -> dict:
    """Run the orders ETL; returns the run-metrics dict the reference
    logs per run (input/valid/deduped/rejected counts,
    jobs/order_glue_job.py:199-208)."""
    from pyspark.sql import Observation

    raw_glob = os.path.join(zones.raw, "orders", "*.csv")
    raw = readers.read_csv_untyped(spark, raw_glob)

    projected = ops.project_strict(raw, EXPECTED_COLUMNS)  # hard-fail policy
    typed = ops.cast_permissive(projected, CASTS)
    # run metrics ride observe() (CollectMetrics accumulators): the
    # counts are gathered DURING the sink actions below instead of four
    # extra count() jobs re-executing the scan lineage — the reference
    # pays one Glue job per count (jobs/order_glue_job.py:199-208); at
    # 100 TB each avoided pass is a full table scan.
    obs_input, obs_valid, obs_final, obs_rej = (
        Observation() for _ in range(4)
    )
    typed = typed.observe(obs_input, F.count(F.lit(1)).alias("n"))
    valid, rejected = ops.split_valid_rejected(typed, REQUIRED)
    valid = valid.observe(obs_valid, F.count(F.lit(1)).alias("n"))
    rejected = rejected.observe(obs_rej, F.count(F.lit(1)).alias("n"))

    deduped = ops.latest_wins_dedup(
        valid, ["order_id"], "order_timestamp", tiebreak=[]
    )
    stamped = deduped.withColumn("ingested_at", F.current_timestamp())

    # RI filter vs order_items — graceful: first run proceeds un-joined
    # (jobs/order_glue_job.py:132-140 try/except).
    items_path = zones.table_path("order_items")
    # keys passed as a callable so the table READ happens inside the
    # operator's try — first run (no table yet) degrades un-joined,
    # exactly the reference's try/except
    ri = ops.ri_semi_join(
        stamped,
        lambda: LakeTable(items_path).read(spark).select("order_id"),
        on="order_id",
        graceful=True,
    )
    ri = ri.observe(obs_final, F.count(F.lit(1)).alias("n"))

    create_or_merge(
        spark,
        ri,
        zones.table_path("orders"),
        key=["order_id"],
        partition_by=["date"],
        latest_by="order_timestamp",
    )
    writers.write_rejected_json(rejected, os.path.join(zones.rejected, "orders"))

    metrics = {
        "job": "orders",
        "input_rows": obs_input.get["n"],
        "valid_rows": obs_valid.get["n"],
        "deduplicated_rows": obs_final.get["n"],
        "rejected_rows": obs_rej.get["n"],
    }
    writers.write_log_text(
        [f"{k}={v}" for k, v in metrics.items()],
        os.path.join(zones.logs, "orders"),
    )
    for f in glob.glob(raw_glob):
        writers.archive_file(f, os.path.join(zones.archive, "orders"))
    return metrics
