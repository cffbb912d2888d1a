"""End-to-end pipeline tests on synthetic dirty fixtures (FIXTURES.md §A).

Mirrors the reference's pytest patterns (SURVEY §5) but runs the REAL
pipelines end-to-end: every dirty-row case exercises a validation
branch, and reruns prove merge idempotency.
"""

from __future__ import annotations

import csv
import glob
import os
import shutil

import pytest

from lab5_lakehouse_etl_spark.lakehouse import LakeTable
from lab5_lakehouse_etl_spark.pipelines import (
    ZoneConfig,
    choose_job,
    run_all,
)
from lab5_lakehouse_etl_spark.pipelines.orders import run_orders

ORDERS_HEADER = [
    "order_num",
    "order_id",
    "user_id",
    "order_timestamp",
    "total_amount",
    "date",
    "sheet_name",
    "source_file",
]

ORDERS_ROWS = [
    # clean
    ["n1", "1", "10", "2025-04-01 10:00:00", "99.5", "2025-04-01", "apr", "f1"],
    # dup order_id, NEWER ts → this row must survive latest-wins dedup
    ["n2", "2", "11", "2025-04-02 12:00:00", "10.0", "2025-04-02", "apr", "f1"],
    ["n3", "2", "11", "2025-04-01 09:00:00", "11.0", "2025-04-01", "apr", "f1"],
    # null PK → rejected
    ["n4", "", "12", "2025-04-03 08:00:00", "5.0", "2025-04-03", "apr", "f1"],
    # non-numeric user_id → NULL cast → rejected
    ["n5", "5", "abc", "2025-04-03 09:00:00", "6.0", "2025-04-03", "apr", "f1"],
    # unparseable timestamp → NULL → rejected
    ["n6", "6", "13", "not-a-ts", "7.0", "2025-04-03", "apr", "f1"],
    # second sheet provenance
    ["n7", "7", "14", "2025-04-05 07:00:00", "8.0", "2025-04-05", "may", "f2"],
]

ITEMS_HEADER = [
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

ITEMS_ROWS = [
    ["100", "1", "10", "3", "900", "1", "0", "2025-04-01 10:00:00", "2025-04-01", "apr", "f1"],
    # exact duplicate row → composite dedup keeps one
    ["100", "1", "10", "3", "900", "1", "0", "2025-04-01 10:00:00", "2025-04-01", "apr", "f1"],
    ["101", "2", "11", "1", "901", "2", "1", "2025-04-02 12:00:00", "2025-04-02", "apr", "f1"],
    # orphan FK: order 999 doesn't exist → silently dropped by RI join
    ["102", "999", "12", "2", "900", "1", "0", "2025-04-02 13:00:00", "2025-04-02", "apr", "f1"],
    # null PK → rejected
    ["", "1", "10", "2", "902", "3", "0", "2025-04-01 11:00:00", "2025-04-01", "apr", "f1"],
]

PRODUCTS_HEADER = ["product_id", "department_id", "department", "product_name"]

PRODUCTS_ROWS = [
    ["900", "d1", "toys", "blue ball"],
    # duplicate product_id, one null-name variant: dedup happens BEFORE
    # validation, so the surviving row is arbitrary — both outcomes legal
    ["901", "d1", "toys", "red kite"],
    ["901", "d1", "toys", ""],
    # product no order_item references → dropped by RI join
    ["902", "d2", "books", "atlas"],
    # null product_id → dropped by validation
    ["", "d2", "books", "unnamed"],
]


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


@pytest.fixture()
def zones(tmp_path):
    z = ZoneConfig(str(tmp_path / "lake"))
    _write_csv(os.path.join(z.raw, "orders", "orders_apr_2025.csv"), ORDERS_HEADER, ORDERS_ROWS)
    _write_csv(os.path.join(z.raw, "order_items", "items_apr_2025.csv"), ITEMS_HEADER, ITEMS_ROWS)
    _write_csv(os.path.join(z.raw, "products", "products.csv"), PRODUCTS_HEADER, PRODUCTS_ROWS)
    return z


def test_choice_routing(zones):
    # first-match products > orders > order_items (state_machine.json:25-45)
    assert choose_job(zones) == "products"


def test_run_all_end_to_end(spark, zones):
    metrics = {m["job"]: m for m in run_all(spark, zones)}

    # --- orders: 7 input, 3 rejected (null PK, bad cast, bad ts),
    # 4 valid, dedup 2-vs-2 → 3 final
    mo = metrics["orders"]
    assert mo["input_rows"] == 7
    assert mo["rejected_rows"] == 3
    assert mo["valid_rows"] == 4
    assert mo["deduplicated_rows"] == 3

    orders = LakeTable(zones.table_path("orders")).read(spark)
    survivors = {r.order_id: r for r in orders.collect()}
    assert set(survivors) == {1, 2, 7}
    # latest-wins: order 2 keeps the newer total_amount
    assert survivors[2].total_amount == 10.0
    # provenance columns survive
    assert survivors[7].sheet_name == "may"

    # rejected JSON sink exists with 3 rows
    rejected_files = glob.glob(os.path.join(zones.rejected, "orders", "*.json"))
    assert rejected_files
    n_rej = sum(1 for f in rejected_files for line in open(f) if line.strip())
    assert n_rej == 3

    # --- order_items: dup collapsed, orphan dropped, null-id rejected
    mi = metrics["order_items"]
    assert mi["input_rows"] == 5
    assert mi["rejected_rows"] == 1
    items = LakeTable(zones.table_path("order_items")).read(spark)
    ids = sorted(r.id for r in items.collect())
    assert ids == [100, 101]  # 102 orphaned, dup of 100 collapsed

    # --- products: dedup-before-validate; RI keeps only referenced ids
    mp = metrics["products"]
    assert mp["input_rows"] == 5
    products = LakeTable(zones.table_path("products")).read(spark)
    prod_ids = sorted(r.product_id for r in products.collect())
    # 900/901 referenced by items; 902 unreferenced; null id dropped.
    # 901 may survive with name or null name (arbitrary dedup — §2.12).
    assert prod_ids == ["900", "901"]

    # raw files archived with timestamp suffix
    assert not glob.glob(os.path.join(zones.raw, "orders", "*.csv"))
    assert glob.glob(os.path.join(zones.archive, "orders", "*.csv"))

    # validation smoke (Athena stand-in) ran for each
    assert all(m["validated_rows"] > 0 for m in metrics.values())


def test_clean_items_batch_after_dirty_one(spark, zones):
    """A clean batch has no rejects, so AQE empties the reject stage;
    the run counts must still be exact, and the run log replaced."""
    from lab5_lakehouse_etl_spark.pipelines.order_items import run_order_items

    run_all(spark, zones)
    clean = [
        [str(200 + i), str(oid), "10", "3", "900", "1", "0",
         "2025-04-06 10:00:00", "2025-04-06", "apr", "f3"]
        for i, oid in enumerate([1, 2, 7, 1])
    ]
    _write_csv(os.path.join(zones.raw, "order_items", "items_clean.csv"), ITEMS_HEADER, clean)
    m = run_order_items(spark, zones)
    assert m == {
        "job": "order_items",
        "input_rows": 4,
        "valid_rows": 4,
        "deduplicated_rows": 4,
        "rejected_rows": 0,
    }
    ids = sorted(r.id for r in LakeTable(zones.table_path("order_items")).read(spark).collect())
    assert ids == [100, 101, 200, 201, 202, 203]
    log_dir = os.path.join(zones.logs, "order_items")
    assert os.listdir(log_dir) == ["part-00000"]
    with open(os.path.join(log_dir, "part-00000")) as fh:
        assert fh.read().splitlines() == [f"{k}={v}" for k, v in m.items()]


def test_rerun_is_idempotent(spark, zones):
    run_all(spark, zones)
    orders_tbl = LakeTable(zones.table_path("orders"))
    before = sorted(
        (r.order_id, r.total_amount) for r in orders_tbl.read(spark).collect()
    )
    v_before = orders_tbl.version()

    # replay the same file (archive moved it; restore a copy)
    archived = glob.glob(os.path.join(zones.archive, "orders", "*.csv"))[0]
    shutil.copy(archived, os.path.join(zones.raw, "orders", "orders_apr_2025.csv"))
    run_orders(spark, zones)

    after = sorted(
        (r.order_id, r.total_amount) for r in orders_tbl.read(spark).collect()
    )
    assert after == before  # MERGE upsert convergence
    assert orders_tbl.version() == v_before + 1  # but a new version committed


def test_run_all_retries_transient_failure(spark, zones, monkeypatch):
    """Step Functions Retry twin (state_machine.json:52-59): a job that
    fails transiently is re-run with 5s/10s backoff and the pipeline
    completes; metrics are those of the successful attempt."""
    from lab5_lakehouse_etl_spark.pipelines import runner as R

    real = R._RUNNERS["orders"]
    calls = {"n": 0}

    def flaky(spark_, zones_):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient: simulated executor loss")
        return real(spark_, zones_)

    monkeypatch.setitem(R._RUNNERS, "orders", flaky)
    delays: list[float] = []
    metrics = {m["job"]: m for m in run_all(spark, zones, _sleep=delays.append)}
    assert calls["n"] == 3
    assert delays[:2] == [5.0, 10.0]  # IntervalSeconds 5, BackoffRate 2
    assert metrics["orders"]["deduplicated_rows"] == 3


def test_run_all_raises_after_max_attempts(spark, zones, monkeypatch):
    from lab5_lakehouse_etl_spark.pipelines import runner as R

    calls = {"n": 0}

    def broken(spark_, zones_):
        calls["n"] += 1
        raise RuntimeError("permanent failure")

    monkeypatch.setitem(R._RUNNERS, "orders", broken)
    with pytest.raises(RuntimeError, match="permanent failure"):
        run_all(spark, zones, _sleep=lambda _: None)
    assert calls["n"] == 3  # MaxAttempts 3, then Catch -> notify (raise)


def test_orders_missing_column_hard_fails(spark, tmp_path):
    z = ZoneConfig(str(tmp_path / "lake2"))
    bad_header = [c for c in ORDERS_HEADER if c != "user_id"]
    bad_rows = [[v for c, v in zip(ORDERS_HEADER, row) if c != "user_id"] for row in ORDERS_ROWS]
    _write_csv(os.path.join(z.raw, "orders", "o.csv"), bad_header, bad_rows)
    with pytest.raises(ValueError, match="missing expected columns"):
        run_orders(spark, z)
