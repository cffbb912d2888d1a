"""SparkSession construction, the session settings every query runs
under, and test-table registration.

Mirrors the reference's session bootstrap (jobs/order_glue_job.py:49-53
builds a Delta-enabled session and leaves it alone; we have no
delta-spark in this environment, so the lakehouse layer in
`lab5_lakehouse_etl_spark.lakehouse` provides the ACID-ish table
semantics instead) while adding the configs that matter for scale:

- AQE on (runtime re-planning, skew-join handling, partition coalescing).
- Arrow execution for any pandas interchange.
- The settings :func:`tune` pins (UTC session timezone, shuffle width,
  TIMESTAMP_MICROS output, nanosecond timestamps read as long).

This module is the only place that writes session confs: every
registered query runs :func:`tune` first (the ``query()`` decorator in
``queries/__init__.py`` does it), and a stream drain narrows the
session for its own duration through :func:`scoped_conf`.  Readers
write none.

All queries must ALSO be correct under a vanilla session the driver
builds (ANSI mode on in Spark 4), which is why operators use
``try_cast``/``try_*`` explicitly rather than relying on legacy
permissive-cast session configs.
"""

from __future__ import annotations

import os
import weakref
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Every driver-provided test table (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build_session(
    app_name: str = "lab5-lakehouse-etl-spark",
    master: str | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    On the test box we run ``local[N]``; on a real cluster the same
    configs hold.  The session-scoped settings come from :func:`tune`,
    the same call every registered query makes on the driver's session.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return tune(builder.getOrCreate())


def tune(spark: SparkSession) -> SparkSession:
    """Pin the session-scoped settings every declared query relies on.

    The correctness driver constructs its own SparkSession, so the
    ``query()`` decorator runs this before each registered query and
    :func:`build_session` runs it once; nothing else sets these keys.

    - Timezone UTC: the DuckDB oracle reads parquet timestamps as naive
      UTC, so Spark must collect them in UTC too.
    - Shuffle partitions = ``SPARK_GRAFT_CPUS``: sized to the machine
      instead of a vanilla session's 200; AQE coalesces batch shuffles
      below it, and stream drains narrow it for their state stores
      (``streaming.events._drain``).
    - TIMESTAMP_MICROS output instead of the deprecated INT96: INT96
      columns carry no usable parquet min/max statistics, which
      silently disables footer stats, and so manifest data skipping,
      for TIMESTAMP columns written through LakeTable.
    - nanosAsLong: ``events.ts`` has shipped as parquet
      TIMESTAMP(NANOS), which Spark's reader rejects
      (PARQUET_TYPE_ILLEGAL) unless the column is read as a long;
      :func:`load_table` and ``read_events_stream`` rebuild the
      microsecond timestamp from it.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(
        "spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, settings: dict[str, str]):
    """Set ``settings`` on ``spark`` for the body of the ``with`` block,
    then restore each key: the previous value where one was set, unset
    where none was, so the session's confs read as before.

    The confs are session-global: a query running concurrently on the
    SAME session sees them while the block runs.  Callers that need
    isolation run in their own ``spark.newSession()``."""
    before = spark.conf.getAll
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k in settings:
            if k in before:
                spark.conf.set(k, before[k])
            else:
                spark.conf.unset(k)


def scratch_dir(*parts: str, fresh: bool = False) -> str:
    """Stable per-process scratch directory for staged landing files.

    Declared queries that stage data (CSV landing, workbook splits,
    streamed LakeTables) must return DISTRIBUTED scans over files that
    outlive the query call — a ``TemporaryDirectory`` would vanish
    before the driver collects, which previously forced driver-side
    ``collect()`` round-trips. The pid component keeps concurrent
    processes apart; ``fresh=True`` clears a previous run's files so
    each call is idempotent.
    """
    import shutil
    import tempfile

    base = os.environ.get(
        "SPARK_GRAFT_SCRATCH",
        os.path.join(tempfile.gettempdir(), "lab5_lakehouse_scratch"),
    )
    d = os.path.join(base, f"pid{os.getpid()}", *parts)
    if fresh and os.path.isdir(d):
        shutil.rmtree(d)
    os.makedirs(d, exist_ok=True)
    return d


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_rows(sf_dir: str, name: str) -> int:
    """Row count of one driver test table from PARQUET FOOTER METADATA —
    driver-side, zero Spark jobs, zero data pages read.  For parameter
    choosers that only need corpus SCALE (e.g. minhash_params picking a
    banding tier), a full ``df.count()`` action is a whole extra scan
    the query's plan pins never see; the footer already carries the
    exact count.  Falls back to a Spark count only if pyarrow cannot
    read the footer (never expected for the fixture tables — the
    fallback keeps the helper total rather than fast).

    Directory scans walk RECURSIVELY: a hive-partitioned table nests
    its files under ``key=value/`` subdirectories, where a top-level
    ``os.listdir`` finds no ``*.parquet`` and a bare ``sum()`` over the
    empty generator would silently report 0 rows (r9 advice) — sending
    e.g. ``minhash_params`` to the smallest banding tier at any corpus
    scale.  An empty match set is therefore treated as
    footer-unreadable and routed to the Spark-count fallback too."""
    path = table_path(sf_dir, name)
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            files = [
                os.path.join(root, f)
                for root, _dirs, names in os.walk(path)
                for f in names
                if f.endswith(".parquet")
            ]
            if not files:
                raise FileNotFoundError(f"no parquet files under {path}")
            return sum(
                pq.ParquetFile(f).metadata.num_rows for f in files
            )
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:  # noqa: BLE001 — footer unreadable: stay correct
        from pyspark.sql import SparkSession

        return SparkSession.active().read.parquet(path).count()


#: Parquet schemas Spark inferred, per session:
#: ``{(path, nanosAsLong): (listing, StructType)}``.  Weak keys, so an
#: entry goes away with its session.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _listing(path: str) -> tuple:
    """``(name, size, mtime_ns)`` of every file under ``path``; a file
    is its own listing.  A Spark directory rewritten in place with
    ``mode("overwrite")`` keeps the directory but not its files."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((path, st.st_size, st.st_mtime_ns),)
    out = []
    for root, dirs, names in os.walk(path):
        dirs.sort()
        for n in sorted(names):
            st = os.stat(os.path.join(root, n))
            out.append((os.path.join(root, n), st.st_size, st.st_mtime_ns))
    return tuple(out)


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    session while the files under ``path`` are unchanged.

    Inference runs a Spark job on every call; a read with a declared
    schema runs none.  The memo key is the path, the current
    ``spark.sql.legacy.parquet.nanosAsLong`` (it turns a nanosecond
    timestamp into a long) and the listing of every file under the
    path.  A path that is not a local file or directory is inferred on
    every call, so Spark raises its own error for a missing one."""
    if not os.path.exists(path):
        return spark.read.parquet(path).schema
    key = (path, spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"))
    listing = _listing(path)
    memo = _SCHEMAS.setdefault(spark, {})
    hit = memo.get(key)
    if hit is None or hit[0] != listing:
        hit = memo[key] = (listing, spark.read.parquet(path).schema)
    return hit[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan of one driver test table.

    ``spark.read.schema(s).parquet(path)``, with ``s`` the schema Spark's
    own inference returned, memoized per session by
    :func:`parquet_schema` (key: path, the nanosAsLong conf and the
    ``(name, size, mtime_ns)`` of every file under the path), so only
    the first call on a table runs the inference job and a query build
    runs none.  The schema is cached, not the DataFrame: every call
    builds a fresh plan, so a self-join of one table stays unambiguous.
    Catalyst keeps scan-level predicate pushdown and column pruning for
    whatever the caller composes on top.

    `events.ts` has shipped as either parquet TIMESTAMP(NANOS) or
    TIMESTAMP(MICROS) depending on the generator run. Spark's reader
    rejects nanos (PARQUET_TYPE_ILLEGAL — Spark timestamps are µs)
    unless the legacy conf reads them as long, which :func:`tune` sets
    (every registered query runs under it), so this branches on the
    landed type: long → rebuild the µs timestamp with
    FLOOR integer division (NOT float division — ns epoch values
    ~1.7e18 exceed double's 2^53 integer range; and not bare `div`,
    which truncates toward zero: DuckDB's ns→µs conversion FLOORS, so
    a pre-epoch nanosecond timestamp under `div` would land one µs
    later than the oracle and than the MICROS encoding of the same
    instant — measured: DuckDB maps -1500 ns to -2 µs; r10 review);
    timestamp/timestamp_ntz → cast to the session-local TIMESTAMP (a
    no-op under the pinned UTC timezone), so every downstream query
    sees one stable TIMESTAMP type.
    """
    path = table_path(sf_dir, name)
    schema = parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name != "events":
        return df
    if schema["ts"].dataType.simpleString() == "bigint":
        ts = F.timestamp_micros(F.expr("(ts - ((ts % 1000) + 1000) % 1000) div 1000"))
    else:
        ts = F.col("ts").cast("timestamp")
    return df.withColumn("ts", ts).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for ``spark.sql`` use.

    Local stand-in for the reference's Glue-Crawler→Athena catalog path
    (step_functions/state_machine.json:69-145): Spark's catalog replaces
    the Glue Data Catalog and ``spark.sql`` replaces Athena.
    """
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def cluster_for_write(df, by: str):
    """Key-clustered exchange ahead of a ``partition_by=[by]`` table
    write: hash-repartition by ``by`` with an EXPLICIT partition count
    (defaultParallelism).  The explicit count is the point — a bare
    ``repartition("col")`` is an AQE-coalescible shuffle, and on a
    small build (kilobytes into 256 cells) AQE collapses it to ONE
    post-shuffle partition, so a single task serially pays the parquet
    writer open/close for every partition directory (measured: the
    256-cell IVF index create spent 4-5 s of its 5.3 s in one task
    writing 253 files; pinned at defaultParallelism the same write is
    ~0.9 s across 32 tasks).  Layout is unchanged — each key still
    lands wholly in one task, so the one-file-per-partition-value
    small-files discipline holds; only writer parallelism moves, and
    it scales with the cluster instead of with AQE's byte heuristic."""
    from pyspark.sql import functions as F

    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.col(by))


def spread(df, by: str, min_partitions: int | None = None):
    """Fixture-parallelism knob for CPU-heavy narrow maps: when the
    upstream scan yields fewer partitions than cores (the test corpora
    are single small parquet files with one row group — Spark cannot
    split below a row-group boundary, so the whole map runs on ONE
    core), hash-spread by ``by`` first.  CONDITIONAL on purpose: on a
    real corpus the scan is already split and this returns the input
    untouched — the 100 TB plan stays shuffle-free, while the local
    fixture stops serializing a 32-core box onto one thread (measured
    3.3 s -> 0.95 s on the prefix-join shingle pass at sf0.1).

    Expects a SCAN-FED frame (scan, filter, project): counting its
    partitions is then free.  On a frame whose plan holds an exchange
    (join, aggregate) ``rdd.getNumPartitions()`` runs the upstream
    stages as a hidden job just to count; use an explicit-width
    ``repartition(defaultParallelism, col)`` there instead."""
    from pyspark.sql import functions as F

    n = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, F.col(by))
