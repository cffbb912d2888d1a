"""Source/sink unit tests (SURVEY §2.1 S3, S13, S14 — the reference's
mocked-S3 pytest patterns re-expressed against the local FS)."""

from __future__ import annotations

import csv
import os
from datetime import datetime, timezone

from lab5_lakehouse_etl_spark.sources.readers import (
    passthrough_copy,
    split_workbook,
)
from lab5_lakehouse_etl_spark.sources.writers import archive_file, write_log_text
from tests.conftest import jobs_of


def test_split_workbook_sheet_csvs(tmp_path):
    # jobs/xlsx_to_csv.py:39-55 semantics: one CSV per sheet, named
    # <sheet>.csv, None cells → ''
    sheets = {
        "apr": [["a", "b"], [1, None], [None, "x"]],
        "may": [["a", "b"], [2, 3]],
    }
    out = split_workbook(sheets, str(tmp_path / "pre"))
    assert sorted(os.path.basename(p) for p in out) == ["apr.csv", "may.csv"]
    apr = open(tmp_path / "pre" / "apr.csv").read().splitlines()
    assert apr == ["a,b", "1,", ",x"]


def test_archive_file_timestamp_suffix(tmp_path):
    src = tmp_path / "orders_apr_2025.csv"
    src.write_text("x")
    fixed = datetime(2025, 4, 30, 12, 0, 5, tzinfo=timezone.utc)
    dst = archive_file(str(src), str(tmp_path / "archive"), now=fixed)
    assert os.path.basename(dst) == "orders_apr_2025_20250430_120005.csv"
    assert not src.exists()
    assert os.path.exists(dst)


def test_write_log_text_single_file_replaced(tmp_path):
    log_dir = str(tmp_path / "logs" / "orders")
    write_log_text(["job=orders", "input_rows=7"], log_dir)
    write_log_text(["job=orders", "input_rows=3", "rejected_rows=1"], log_dir)
    assert os.listdir(log_dir) == ["part-00000"]
    with open(os.path.join(log_dir, "part-00000")) as fh:
        assert fh.read() == "job=orders\ninput_rows=3\nrejected_rows=1\n"


def test_passthrough_copy(tmp_path):
    src = tmp_path / "products.csv"
    src.write_text("product_id\n1\n")
    dst = passthrough_copy(str(src), str(tmp_path / "staged"))
    assert open(dst).read() == "product_id\n1\n"
    assert src.exists()  # copy, not move (jobs/xlsx_to_csv.py:57-70)


def test_xlsx_real_roundtrip(tmp_path):
    # write REAL .xlsx bytes with the vendored writer, read them back
    # through the S3/S4/S5 surface (vendored stdlib OOXML reader)
    from lab5_lakehouse_etl_spark.sources.readers import list_sheets, xlsx_to_csv
    from lab5_lakehouse_etl_spark.sources.xlsx import load_workbook, write_workbook

    sheets = {
        "jan": [["id", "name"], [1, "a"], [2, None], [3, "c,with comma"]],
        "feb": [["id", "name"], [4, "d"], [5.5, "é unicode"]],
        "empty": [],
    }
    path = write_workbook(sheets, str(tmp_path / "drop.xlsx"))
    assert list_sheets(path) == ["jan", "feb", "empty"]
    back = load_workbook(path)
    assert back["jan"] == [["id", "name"], [1, "a"], [2, None], [3, "c,with comma"]]
    assert back["feb"][2] == [5.5, "é unicode"]
    # per-sheet CSV split off the real bytes (S3 end-to-end)
    out = xlsx_to_csv(path, str(tmp_path / "csv"))
    assert sorted(os.path.basename(p) for p in out) == [
        "empty.csv",
        "feb.csv",
        "jan.csv",
    ]
    with open(tmp_path / "csv" / "jan.csv", newline="") as fh:
        rows = list(csv.reader(fh))
    assert rows == [["id", "name"], ["1", "a"], ["2", ""], ["3", "c,with comma"]]


def test_xlsx_gap_cells_and_bools(tmp_path):
    from lab5_lakehouse_etl_spark.sources.xlsx import load_workbook, write_workbook

    # row with a leading None: the cell reference places 'x' at col C
    path = write_workbook(
        {"s": [[None, None, "x"], [True, False, 7]]}, str(tmp_path / "g.xlsx")
    )
    back = load_workbook(path)
    assert back["s"] == [[None, None, "x"], [True, False, 7]]


def test_load_table_events_nanos_and_micros_parity(spark, tmp_path):
    """events.parquet has shipped as TIMESTAMP(NANOS) or
    TIMESTAMP(MICROS) depending on the driver's generator run;
    load_table must return identical rows for both representations of
    the same logical data (the branch not exercised by the CURRENT
    fixtures is exactly the one the next regeneration can switch to)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lab5_lakehouse_etl_spark.session import load_table

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    times = [base + datetime.timedelta(seconds=17 * i, microseconds=i) for i in range(8)]
    cols = {
        "event_id": pa.array(range(8), type=pa.int64()),
        "user_id": pa.array([i % 3 for i in range(8)], type=pa.int64()),
        "event_type": pa.array(["view", "purchase"] * 4),
        "value": pa.array([float(i) for i in range(8)]),
        "props": pa.array(["{}"] * 8),
    }
    d_ns, d_us = tmp_path / "ns", tmp_path / "us"
    for d, unit in ((d_ns, "ns"), (d_us, "us")):
        d.mkdir()
        t = pa.table(
            {**cols, "ts": pa.array(times, type=pa.timestamp(unit))}
        )
        pq.write_table(
            t, str(d / "events.parquet"), version="2.6",
            coerce_timestamps=None,
        )
    rows_ns = sorted(
        tuple(r) for r in load_table(spark, str(d_ns), "events").collect()
    )
    rows_us = sorted(
        tuple(r) for r in load_table(spark, str(d_us), "events").collect()
    )
    assert rows_ns == rows_us
    assert len(rows_ns) == 8
    # µs precision survives (ns tail truncates toward zero like DuckDB's
    # CAST(ts_ns AS TIMESTAMP))
    assert rows_ns[7][1].microsecond == 7



def _write_arrow(path, cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(path))


def test_load_table_infers_schema_once_per_session(spark, tmp_path):
    """A second load_table of a table runs no Spark job: the schema
    Spark inferred on the first call is memoized for the session."""
    from lab5_lakehouse_etl_spark.session import load_table

    _write_arrow(tmp_path / "t.parquet", {"k": [1, 2, 3], "v": ["a", "b", "c"]})
    first = load_table(spark, str(tmp_path), "t")
    assert jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t")) == 0
    second = load_table(spark, str(tmp_path), "t")
    assert second.schema == first.schema
    assert first.schema == spark.read.parquet(str(tmp_path / "t.parquet")).schema
    assert sorted(tuple(r) for r in second.collect()) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]


def test_load_table_calls_self_join(spark, tmp_path):
    """Only the schema is memoized: each call builds a fresh plan, so
    two calls on one table self-join without an ambiguity error."""
    from lab5_lakehouse_etl_spark.session import load_table

    _write_arrow(tmp_path / "t.parquet", {"k": [1, 2, 3], "parent": [2, 3, None]})
    child = load_table(spark, str(tmp_path), "t")
    assert jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t")) == 0
    parent = load_table(spark, str(tmp_path), "t")
    rows = (
        child.join(parent, child["parent"] == parent["k"])
        .select(child["k"].alias("c"), parent["k"].alias("p"))
        .collect()
    )
    assert sorted(tuple(r) for r in rows) == [(1, 2), (2, 3)]


def test_load_table_sees_a_rewritten_file(spark, tmp_path):
    """Rewriting a single-file table with an extra column changes its
    listing, so the next call infers again; the call after that hits
    the memo."""
    from lab5_lakehouse_etl_spark.session import load_table

    _write_arrow(tmp_path / "t.parquet", {"k": [1, 2]})
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    _write_arrow(tmp_path / "t.parquet", {"k": [1, 2], "extra": ["x", "y"]})
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]
    assert jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t")) == 0


def test_load_table_sees_a_spark_directory_overwritten_in_place(spark, tmp_path):
    """A Spark directory rewritten with ``mode("overwrite")`` keeps its
    path but not its files, and the memo key lists every file under the
    path."""
    from pyspark.sql import functions as F

    from lab5_lakehouse_etl_spark.session import load_table

    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(3).withColumn("extra", F.col("id") * 10).write.mode(
        "overwrite"
    ).parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "extra"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, 0), (1, 10), (2, 20)]
    assert jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t")) == 0
