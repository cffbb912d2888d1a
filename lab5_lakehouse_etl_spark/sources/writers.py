"""Sinks + archival (SURVEY §2.1 S9-S13).

The reference writes rejected rows as JSON (orders) or CSV (items),
run logs as single-file text, and archives processed raw files with a
timestamp suffix via boto3 copy+delete (jobs/order_glue_job.py:58-82).
Local FS replaces S3; everything else keeps the same contract.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import DataFrame


def write_rejected_json(df: DataFrame, path: str) -> None:
    """S9: overwrite-JSON quarantine sink (jobs/order_glue_job.py:171)."""
    df.write.mode("overwrite").json(path)


def write_rejected_csv(df: DataFrame, path: str) -> None:
    """S10: overwrite-CSV quarantine sink
    (jobs/order_items_glue_job.py:143)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def write_log_text(lines: list[str], path: str) -> None:
    """S11/S12: run-metrics log as the single text file
    ``path/part-00000``, replaced on each run.

    The reference does ``parallelize(...).coalesce(1).saveAsTextFile``
    (jobs/order_glue_job.py:210), which lands the same one part file.
    A handful of lines needs no Spark job: plain file I/O writes them
    and an atomic rename replaces the previous run's log."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, ".part-00000.tmp")
    with open(tmp, "w") as fh:
        fh.writelines(f"{line}\n" for line in lines)
    os.replace(tmp, os.path.join(path, "part-00000"))


def archive_file(src: str, archive_dir: str, now: datetime | None = None) -> str:
    """S13: move a processed raw file into the archive zone with a
    timestamp suffix (tests/utils.py:11-47 copy+delete semantics;
    shutil.move replaces the S3 copy+delete pair)."""
    now = now or datetime.now(timezone.utc)
    os.makedirs(archive_dir, exist_ok=True)
    base, ext = os.path.splitext(os.path.basename(src))
    dst = os.path.join(
        archive_dir, f"{base}_{now.strftime('%Y%m%d_%H%M%S')}{ext}"
    )
    shutil.move(src, dst)
    return dst
