"""Seeded input generators for the benchmark.

Everything the engine sees is made here from one ``numpy`` generator,
so the same seed gives byte-identical inputs.  Two families:

- ``tpch_tables``: the TPC-H-shaped star schema (plus ``events`` and
  ``documents``) that the benchmark's queries read, with the column
  names, value domains and date span of the repository's test tables.
- ``EtlFeed``: reference-shaped CSV batches for the orders,
  order_items and products jobs, with a per-row malformed rate,
  exact duplicates, re-sent updates, orphan foreign keys and dates
  that revisit partitions.  The feed keeps the ground truth (input
  and rejected counts) the pipelines must report.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_EPOCH = np.datetime64("1995-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def _days(rng, n: int, lo: int, hi: int) -> np.ndarray:
    """Whole-day timestamps ``lo..hi`` days after 1995-01-01."""
    return _EPOCH + rng.integers(lo, hi, n).astype("timedelta64[D]")


def _choice(rng, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(rng: np.random.Generator, sf: float, n_docs: int) -> dict:
    """The test tables at scale ``sf`` (lineitem = 6M x sf rows), except
    ``embeddings``, which no benchmark query reads."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = np.char.add(
        np.char.add(np.asarray(ADJ)[rng.integers(0, 8, n_part)], " "),
        np.asarray(NOUN)[rng.integers(0, 8, n_part)],
    )
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names.tolist(),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, 0, 2404),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _choice(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _choice(rng, ("F", "O"), n_li),
        "l_shipdate": _days(rng, n_li, 1, 2499),
    })
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + np.sort(rng.integers(0, 30 * _DAY_US, n_ev)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": _money(rng, n_ev, 0, 560),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = documents(rng, n_docs)
    return t


def documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Word-salad text with planted exact and near duplicates."""
    vocab = np.asarray(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n_docs)]
    for i in range(0, n_docs, 50):  # planted duplicates and near-duplicates
        j = int(rng.integers(0, n_docs))
        if i != j:
            texts[j] = texts[i] if rng.random() < 0.5 else texts[i] + " dup"
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def write_tables(tables: dict, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- ETL feeds

ORDERS_HEADER = [
    "order_num", "order_id", "user_id", "order_timestamp", "total_amount",
    "date", "sheet_name", "source_file",
]
ITEMS_HEADER = [
    "id", "order_id", "user_id", "days_since_prior_order", "product_id",
    "add_to_cart_order", "reordered", "order_timestamp", "date",
    "sheet_name", "source_file",
]
PRODUCTS_HEADER = ["product_id", "department_id", "department", "product_name"]
DEPARTMENTS = ("bakery", "dairy", "frozen", "pantry", "produce", "snacks")
FEEDS = ("orders", "order_items", "products")


class EtlFeed:
    """Reference-shaped CSV batches with known ground truth.

    Orders get distinct ids drawn from a sparse key space; each orders
    batch also re-sends updates (a newer timestamp) of earlier orders
    and repeats a few rows verbatim.  Items reference orders landed so
    far, plus a share of orphans whose ``order_id`` no order has.
    Products cover the ids the items reference.  In every batch
    ``malformed_rate`` of the rows (an exact count) carry a null key or
    an unparseable number or timestamp, unless the batch is asked for
    ``clean`` (a re-export with none).  Malformed rows are distinct by
    construction, so the expected reject count is the number planted.
    All dates fall in one fixed 20-day window, so later batches revisit
    partitions earlier ones created.

    The rates below are chosen, not measured: the reference names these
    defects but gives no frequencies.  Each is large enough that every
    batch of the benchmark's size carries some of it.
    """

    DUP_RATE = 0.02  # rows repeated verbatim
    UPDATE_RATE = 0.1  # order rows that re-send an earlier order
    ORPHAN_RATE = 0.02  # items whose order never lands
    N_PRODUCTS = 2_000
    ORDER_ID_SPACE = 1_000_000

    def __init__(self, rng: np.random.Generator, rows: dict, malformed_rate: float):
        self.rng, self.rows, self.malformed_rate = rng, rows, malformed_rate
        self.next_item = 1
        self.order_ts: dict[int, int] = {}  # order_id -> newest landed ts (s)
        self.order_user: dict[int, int] = {}
        self.batch_no = 0
        self._t0 = int(dt.datetime(2025, 4, 1, tzinfo=dt.timezone.utc).timestamp())

    def _ts(self, n: int) -> np.ndarray:
        return self._t0 + self.rng.integers(0, 20 * 86_400, n)

    @staticmethod
    def _fmt_ts(s: int) -> str:
        return dt.datetime.fromtimestamp(int(s), dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")

    def _malformed(self, n: int) -> np.ndarray:
        bad = np.zeros(n, dtype=bool)
        if not self.clean:
            bad[self.rng.choice(n, round(n * self.malformed_rate), replace=False)] = True
        return bad

    def batch(self, feed: str, clean: bool = False) -> tuple[list[str], list[list[str]], dict]:
        """Next batch of ``feed``: (header, rows, expected metrics)."""
        self.batch_no += 1
        self.clean = clean
        tag = f"b{self.batch_no:05d}"
        return getattr(self, f"_{feed}")(self.rows[feed], tag)

    def _orders(self, n: int, tag: str):
        rng = self.rng
        n_upd = min(int(n * self.UPDATE_RATE), len(self.order_ts))
        n_new = n - n_upd
        new_ids = []
        while len(new_ids) < n_new:  # sparse ids, never reused
            oid = int(rng.integers(1, self.ORDER_ID_SPACE + 1))
            if oid not in self.order_user and oid not in new_ids:
                new_ids.append(oid)
        old = list(self.order_ts)
        upd_ids = [old[i] for i in rng.choice(len(old), n_upd, replace=False)] if n_upd else []
        rows, stamps = [], []
        ts = self._ts(n)
        for k, oid in enumerate(new_ids + upd_ids):
            t = int(ts[k])
            if oid in self.order_ts:  # a re-sent update is strictly newer
                t = max(t, self.order_ts[oid] + 1 + int(rng.integers(0, 3600)))
            else:
                self.order_user[oid] = int(rng.integers(1, 5_000))
            stamp = self._fmt_ts(t)
            stamps.append((oid, t))
            rows.append([f"n{oid}-{tag}", str(oid), str(self.order_user[oid]), stamp,
                         f"{rng.uniform(5, 500):.2f}", stamp[:10], tag, f"{tag}.xlsx"])
        bad = self._malformed(len(rows))
        for k in np.flatnonzero(bad):
            r = rows[k]
            kind = k % 3
            if kind == 0:
                r[1] = ""
            elif kind == 1:
                r[2] = f"u{r[2]}"
            else:
                r[3] = f"ts-{r[3]}"
        for k, (oid, t) in enumerate(stamps):
            if not bad[k]:
                self.order_ts[oid] = max(self.order_ts.get(oid, t), t)
        n_dup = int(len(rows) * self.DUP_RATE)
        good = np.flatnonzero(~bad)
        rows += [list(rows[k]) for k in rng.choice(good, min(n_dup, len(good)), replace=False)]
        order = rng.permutation(len(rows))
        rows = [rows[k] for k in order]
        return ORDERS_HEADER, rows, {"input_rows": len(rows), "rejected_rows": int(bad.sum())}

    def _order_items(self, n: int, tag: str):
        rng = self.rng
        landed = list(self.order_ts)
        rows = []
        for _ in range(n):
            iid = self.next_item
            self.next_item += 1
            if landed and rng.random() >= self.ORPHAN_RATE:
                oid = landed[int(rng.integers(0, len(landed)))]
                user = self.order_user[oid]
            else:  # orphan: an order id no batch will ever land
                oid, user = 10**9 + iid, int(rng.integers(1, 5_000))
            stamp = self._fmt_ts(int(self._ts(1)[0]))
            rows.append([str(iid), str(oid), str(user), str(int(rng.integers(0, 30))),
                         str(int(rng.integers(1, self.N_PRODUCTS + 1))),
                         str(int(rng.integers(1, 20))), str(int(rng.integers(0, 2))),
                         stamp, stamp[:10], tag, f"{tag}.xlsx"])
        bad = self._malformed(n)
        for k in np.flatnonzero(bad):
            r = rows[k]
            kind = k % 3
            if kind == 0:
                r[0] = ""
            elif kind == 1:
                r[4] = f"p{r[4]}"
            else:
                r[7] = f"ts-{r[7]}"
        good = np.flatnonzero(~bad)
        n_dup = min(int(n * self.DUP_RATE), len(good))
        rows += [list(rows[k]) for k in rng.choice(good, n_dup, replace=False)]
        rows = [rows[k] for k in rng.permutation(len(rows))]
        return ITEMS_HEADER, rows, {"input_rows": len(rows), "rejected_rows": int(bad.sum())}

    def _products(self, n: int, tag: str):
        rng = self.rng
        ids = rng.choice(np.arange(1, self.N_PRODUCTS + 1), min(n, self.N_PRODUCTS), replace=False)
        rows = []
        for pid in ids:
            d = int(rng.integers(0, len(DEPARTMENTS)))
            rows.append([str(pid), f"d{d}", DEPARTMENTS[d],
                         f"{ADJ[int(rng.integers(0, 8))]} {NOUN[int(rng.integers(0, 8))]} {tag}"])
        bad = self._malformed(len(rows))
        for k in np.flatnonzero(bad):
            rows[k][0 if k % 2 == 0 else 3] = ""
        good = np.flatnonzero(~bad)
        n_dup = min(int(len(rows) * self.DUP_RATE), len(good))
        rows += [list(rows[k]) for k in rng.choice(good, n_dup, replace=False)]
        rows = [rows[k] for k in rng.permutation(len(rows))]
        valid = int((~bad).sum())
        return PRODUCTS_HEADER, rows, {"input_rows": len(rows), "valid_rows": valid,
                                       "dropped_rows": len(rows) - valid}


def write_csv(path: str, header: list[str], rows: list[list[str]]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)
