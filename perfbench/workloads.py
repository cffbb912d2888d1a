"""The benchmark's workloads.

Each workload is one closed loop with one client.  ``setup`` builds
the seeded state, ``cycle`` lists the ops of one pass over the
workload's fixed op list, ``run_op`` performs one op, and ``check``
verifies outputs outside the timed loop.  ``run.py`` drives them.
"""

from __future__ import annotations

import datetime as dt
import glob
import math
import os
import shutil

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen

from lab5_lakehouse_etl_spark import queries as Q
from lab5_lakehouse_etl_spark.lakehouse import LakeTable
from lab5_lakehouse_etl_spark.pipelines import ZoneConfig, runner
from lab5_lakehouse_etl_spark.session import TABLES, table_path


class MetricsMismatch(Exception):
    """A pipeline returned run metrics that differ from the generator's."""


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def live_rows(path: str) -> int:
    """Rows of a LakeTable's current snapshot, from its files' footers."""
    t = LakeTable(path)
    return sum(pq.ParquetFile(os.path.join(t.data_dir, f)).metadata.num_rows for f in t.files())


def noop(df) -> None:
    """Force a DataFrame through the noop sink (full execution, no output)."""
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------ comparison

def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _sort_key(row) -> tuple:
    # floats sort by a coarse rounding, so the two engines' last-digit
    # differences cannot reorder rows
    return tuple(
        (v is None, str(round(v)) if isinstance(v, float) else str(v)) for v in row
    )


def rows_key(rows, cols) -> list:
    """Order-insensitive multiset of rows, columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=_sort_key)


def _close(a, b) -> bool:
    """Equal, or floats within one unit of a 2-decimal rounding: the two
    engines sum in different orders, so ``round(sum(x), 2)`` can land on
    either side of a half-cent."""
    if isinstance(a, float) and isinstance(b, float):
        d = abs(a - b)
        cents = round(a, 2) == a and round(b, 2) == b
        return d <= 1e-9 * max(abs(a), abs(b)) or (cents and d <= 0.0100001)
    return a == b


def same_rows(sp_rows, sp_cols, dk_rows, dk_cols) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(sp_cols) != sorted(dk_cols):
        return f"columns {sorted(sp_cols)} != {sorted(dk_cols)}"
    if len(sp_rows) != len(dk_rows):
        return f"row count {len(sp_rows)} != {len(dk_rows)}"
    for x, y in zip(rows_key(sp_rows, sp_cols), rows_key(dk_rows, dk_cols)):
        if len(x) != len(y) or not all(_close(a, b) for a, b in zip(x, y)):
            return f"first differing row {(x, y)}"
    return None


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        if not os.path.exists(table_path(sf_dir, t)):
            continue  # a table the benchmark does not generate
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
    return con


# ------------------------------------------------------------- workloads

class Workload:
    name = ""
    warmup_cycles = 1
    # nominal seconds per measured cycle on the measuring host: a run
    # measures round(seconds / cycle_s) whole cycles, so every run of a
    # given length performs the same ops
    cycle_s = 10.0

    def setup(self, spark, work: str, rng: np.random.Generator) -> None:
        raise NotImplementedError

    def cycle(self) -> list[str]:
        raise NotImplementedError

    def before_op(self, op_type: str) -> None:
        """Outside timing: prepare the next op."""

    def run_op(self, op_type: str, warmup: bool):
        raise NotImplementedError

    def after_op(self, op_type: str, result, error: BaseException | None) -> BaseException | None:
        """Outside timing: verify a finished op, clean up after a failed
        one.  Returns the error the op counts as failed with."""
        return error

    def check(self) -> dict[str, str]:
        """Outside timing: {op_type: reason} for every output mismatch."""
        return {}

    def tables(self) -> list[str]:
        """Paths of the LakeTables the workload wrote."""
        return []

    def stored(self) -> tuple[int, int]:
        """(bytes under the written table directories, live rows)."""
        raise NotImplementedError


class QueryMix(Workload):
    """Read queries at a fixed scale, each forced through the noop sink."""

    name = "query_mix"
    # a second warm-up cycle halved the spread across seeds; one more
    # on etl_ingest would not fit the run budget
    warmup_cycles = 2
    QUERIES = (
        "q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_tpch_q10", "q_tpch_q12",
        "q_tpch_q18", "q_agg_groupby", "q_join_star", "q_window_dedup",
        # a registry stream drain (fresh checkpoint, one micro-batch,
        # LakeTable commit), so the streaming layer is measured here too
        "q_stream_merge",
        # JPEG encode and decode in Arrow-batched mapInPandas stages, so
        # the Python worker layer is measured here too
        "q_multimodal_jpeg",
    )
    # prune-reads over LakeTables built in set-up: (table, column, lo, hi)
    PRUNES = {
        "prune_orders": ("orders", "o_orderdate", dt.datetime(1997, 1, 1),
                         dt.datetime(1997, 3, 31, 23, 59, 59)),
        "prune_lineitem": ("lineitem", "l_shipdate", dt.datetime(1998, 6, 1),
                           dt.datetime(1998, 7, 31, 23, 59, 59)),
    }
    SF, N_DOCS = 0.02, 500

    def setup(self, spark, work, rng):
        Q.load_all()
        self.spark = spark
        self.sf_dir = os.path.join(work, "sf")
        gen.write_tables(gen.tpch_tables(rng, self.SF, self.N_DOCS), self.sf_dir)
        self.lake = os.path.join(work, "lake")
        for table, col, _lo, _hi in self.PRUNES.values():
            df = spark.read.parquet(table_path(self.sf_dir, table))
            # range-clustered files, so min/max stats can skip most of them
            LakeTable.create(df.repartitionByRange(16, F.col(col)), os.path.join(self.lake, table))
        self.results = {}
        order = list(self.QUERIES) + list(self.PRUNES)
        self._cycle = [order[i] for i in rng.permutation(len(order))]

    def cycle(self):
        return self._cycle

    def _prune_df(self, op_type):
        table, col, lo, hi = self.PRUNES[op_type]
        lt = LakeTable(os.path.join(self.lake, table))
        df = lt.read(self.spark, prune=[(col, "between", (lo, hi))])
        price = "o_totalprice" if table == "orders" else "l_extendedprice"
        return df.filter(F.col(col).between(lo, hi)).agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum(price), 2).alias("total")
        )

    def build(self, op_type):
        if op_type in self.PRUNES:
            return self._prune_df(op_type)
        return Q.QUERIES[op_type](self.spark, self.sf_dir)

    def run_op(self, op_type, warmup):
        df = self.build(op_type)
        if warmup:  # the warm-up pass keeps each result for check()
            self.results[op_type] = ([tuple(r) for r in df.collect()], df.columns)
        else:
            noop(df)

    def _twin(self, op_type) -> str:
        if op_type in self.PRUNES:
            table, col, lo, hi = self.PRUNES[op_type]
            price = "o_totalprice" if table == "orders" else "l_extendedprice"
            return (f"SELECT count(*) AS n, round(sum({price}), 2) AS total FROM {table} "
                    f"WHERE {col} BETWEEN TIMESTAMP '{lo}' AND TIMESTAMP '{hi}'")
        return Q.ORACLES[op_type]

    def check(self):
        con = duckdb_views(self.sf_dir)
        bad = {}
        for op_type in self._cycle:
            res = con.sql(self._twin(op_type))
            why = same_rows(*self.results[op_type], res.fetchall(), res.columns)
            if why:
                bad[op_type] = why
        con.close()
        return bad

    def tables(self):
        return [os.path.join(self.lake, t) for t, *_ in self.PRUNES.values()]

    def stored(self):
        return dir_bytes(self.lake), sum(live_rows(p) for p in self.tables())


class EtlIngest(Workload):
    """One reference Step Functions execution per op: land one feed batch
    in raw/, then ``run_all`` runs that feed's job and its validation."""

    name = "etl_ingest"
    cycle_s = 15.0
    # a fifth of a 5k-order, 20k-item, 2k-product cycle: at full size a
    # run takes about 70 s, which the run budget does not allow
    ROWS = {"orders": 1_000, "order_items": 4_000, "products": 400}
    MALFORMED_RATE = 0.01

    def setup(self, spark, work, rng):
        self.spark = spark
        self.zones = ZoneConfig(os.path.join(work, "lake"))
        self.staging = os.path.join(work, "staging")
        self.quarantine = os.path.join(work, "quarantine")
        for f in gen.FEEDS:
            os.makedirs(os.path.join(self.zones.raw, f), exist_ok=True)
        self.feed = gen.EtlFeed(rng, self.ROWS, self.MALFORMED_RATE)
        self.landed: list[tuple[str, str, bool]] = []  # (feed, ledger file, committed)

    def cycle(self):
        return list(gen.FEEDS)

    def _version(self, feed):
        p = self.zones.table_path(feed)
        return LakeTable(p).version() if LakeTable.is_table(p) else -1

    def before_op(self, op_type):
        # the batch is made outside timing; the op only moves it into raw/.
        # The first order_items batch, a warm-up op, is a clean re-export:
        # run_order_items fails on any batch with zero rejected rows, after
        # its commit, so every run hits that crash and records it unmeasured
        clean = op_type == "order_items" and all(f != op_type for f, *_ in self.landed)
        header, rows, self._expect = self.feed.batch(op_type, clean=clean)
        self._batch = os.path.join(self.staging, op_type, f"{op_type}_{len(self.landed):04d}.csv")
        gen.write_csv(self._batch, header, rows)
        shutil.copy(self._batch, self._batch + ".ledger")
        self._version_before = self._version(op_type)

    def run_op(self, op_type, warmup):
        os.replace(self._batch, os.path.join(self.zones.raw, op_type, os.path.basename(self._batch)))
        return runner.run_all(self.spark, self.zones, max_attempts=1)

    def after_op(self, op_type, result, error):
        expect = self._expect
        committed = self._version(op_type) > self._version_before
        self.landed.append((op_type, self._batch + ".ledger", committed))
        if error is not None:
            # quarantine what the failed job left in raw/, so the next
            # op ingests only its own batch
            for f in glob.glob(os.path.join(self.zones.raw, op_type, "*.csv")):
                os.makedirs(os.path.join(self.quarantine, op_type), exist_ok=True)
                os.replace(f, os.path.join(self.quarantine, op_type, os.path.basename(f)))
            return error
        if len(result) != 1 or result[0]["job"] != op_type:
            return MetricsMismatch(f"ran jobs {[m['job'] for m in result]}")
        got = {k: result[0][k] for k in expect}
        if got != expect:
            return MetricsMismatch(f"{op_type} metrics {got} != generator {expect}")
        return None

    def check(self):
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        replay = EtlReplay(con)
        for feed, ledger, committed in self.landed:
            if committed:
                getattr(replay, feed)(ledger)
        bad = {}
        for feed, cols in EtlReplay.COMPARE.items():
            if not LakeTable.is_table(self.zones.table_path(feed)):
                continue
            df = LakeTable(self.zones.table_path(feed)).read(self.spark)
            df = df.select([
                F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(c) if c == "order_timestamp"
                else F.col(c).cast("string").alias(c) if c == "date" else F.col(c)
                for c in cols
            ])
            res = con.sql(f"SELECT {', '.join(cols)} FROM {feed}_t")
            why = same_rows([tuple(r) for r in df.collect()], df.columns, res.fetchall(), res.columns)
            if why:
                bad[feed] = why
        con.close()
        return bad

    def tables(self):
        return [self.zones.table_path(f) for f in gen.FEEDS]

    def stored(self):
        return (dir_bytes(self.zones.warehouse),
                sum(live_rows(p) for p in self.tables() if LakeTable.is_table(p)))


class EtlReplay:
    """DuckDB replay of every committed batch with the reference's
    semantics: validate, latest-wins dedup, referential filter against
    the other tables as they stood, then a latest-wins merge."""

    COMPARE = {
        "orders": ["order_num", "order_id", "user_id", "order_timestamp",
                   "total_amount", "date", "sheet_name", "source_file"],
        "order_items": ["id", "order_id", "user_id", "days_since_prior_order",
                        "product_id", "add_to_cart_order", "reordered",
                        "order_timestamp", "date", "sheet_name", "source_file"],
        "products": ["product_id", "department_id", "department", "product_name"],
    }

    def __init__(self, con):
        self.con = con
        self.have: set[str] = set()

    def _merge(self, table, key, order_by):
        con = self.con
        if table in self.have:
            con.execute(f"""CREATE OR REPLACE TABLE {table}_t AS
                SELECT * EXCLUDE (s) FROM (
                  SELECT *, 1 AS s FROM src UNION ALL BY NAME SELECT *, 0 AS s FROM {table}_t)
                QUALIFY row_number() OVER (PARTITION BY {key} ORDER BY {order_by} s DESC) = 1""")
        else:
            con.execute(f"CREATE TABLE {table}_t AS SELECT * FROM src")
            self.have.add(table)

    def orders(self, path):
        self.con.execute(f"""CREATE OR REPLACE TEMP TABLE src AS
            SELECT order_num, TRY_CAST(order_id AS BIGINT) AS order_id,
                   TRY_CAST(user_id AS BIGINT) AS user_id,
                   strftime(TRY_CAST(order_timestamp AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS order_timestamp,
                   TRY_CAST(total_amount AS DOUBLE) AS total_amount,
                   CAST(TRY_CAST(date AS DATE) AS VARCHAR) AS date, sheet_name, source_file
            FROM read_csv('{path}', all_varchar = true, header = true)
            WHERE TRY_CAST(order_id AS BIGINT) IS NOT NULL AND TRY_CAST(user_id AS BIGINT) IS NOT NULL
              AND TRY_CAST(order_timestamp AS TIMESTAMP) IS NOT NULL
            QUALIFY row_number() OVER (PARTITION BY order_id ORDER BY order_timestamp DESC) = 1""")
        if "order_items" in self.have:
            self.con.execute("DELETE FROM src WHERE order_id NOT IN (SELECT order_id FROM order_items_t)")
        self._merge("orders", "order_id", "order_timestamp DESC,")

    def order_items(self, path):
        if "orders" not in self.have:
            return
        self.con.execute(f"""CREATE OR REPLACE TEMP TABLE src AS
            SELECT DISTINCT TRY_CAST(id AS BIGINT) AS id, TRY_CAST(order_id AS BIGINT) AS order_id,
                   TRY_CAST(user_id AS BIGINT) AS user_id,
                   TRY_CAST(days_since_prior_order AS INT) AS days_since_prior_order,
                   TRY_CAST(product_id AS BIGINT) AS product_id,
                   TRY_CAST(add_to_cart_order AS INT) AS add_to_cart_order,
                   TRY_CAST(reordered AS INT) AS reordered,
                   strftime(TRY_CAST(order_timestamp AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS order_timestamp,
                   CAST(TRY_CAST(date AS DATE) AS VARCHAR) AS date, sheet_name, source_file
            FROM read_csv('{path}', all_varchar = true, header = true)
            WHERE TRY_CAST(id AS BIGINT) IS NOT NULL AND TRY_CAST(order_id AS BIGINT) IS NOT NULL
              AND TRY_CAST(user_id AS BIGINT) IS NOT NULL AND TRY_CAST(product_id AS BIGINT) IS NOT NULL
              AND TRY_CAST(order_timestamp AS TIMESTAMP) IS NOT NULL""")
        self.con.execute("DELETE FROM src WHERE order_id NOT IN (SELECT order_id FROM orders_t)")
        self._merge("order_items", "id", "order_timestamp DESC,")

    def products(self, path):
        self.con.execute(f"""CREATE OR REPLACE TEMP TABLE src AS
            SELECT DISTINCT product_id, department_id, department, product_name
            FROM read_csv('{path}', all_varchar = true, header = true)
            WHERE product_id IS NOT NULL AND product_name IS NOT NULL""")
        if "order_items" in self.have:
            self.con.execute("""DELETE FROM src WHERE product_id NOT IN
                (SELECT CAST(product_id AS VARCHAR) FROM order_items_t)""")
        self._merge("products", "product_id", "")


WORKLOADS = {w.name: w for w in (EtlIngest, QueryMix)}
