"""Streaming pipelines over events (event_id, ts, user_id, event_type,
value, props).

The reference has no streaming (SURVEY §2.9) — its freshness story is
batch re-runs + idempotent MERGE. This module incrementalizes exactly
that: file-source replay of the events parquet → windowed/stateful
transforms → sink, with foreachBatch driving the same LakeTable.merge
the batch pipelines use.

All pipelines run with ``trigger(availableNow=True)`` in tests: the
stream drains the source and stops — deterministic, CI-friendly — and
the identical code runs continuously against a live directory/Kafka
source in production (swap the reader; the plan is unchanged).

Scale: watermarks bound state; windowed aggregations shuffle on
(window, key) with map-side partial aggregation; dedup state is keyed
by event_id and expired by the watermark.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lakehouse import LakeTable
from ..lakehouse.table import ConcurrentWriteError
from ..session import parquet_schema, scoped_conf

#: State partitions for the drains below.  Streaming state partitions
#: are frozen at a checkpoint's first batch from
#: spark.sql.shuffle.partitions, and EVERY state store instance pays a
#: fixed file-commit (delta file + CRC + maintenance) per micro-batch
#: regardless of how little state it holds — a stream-stream join is 4
#: stores per partition, so inheriting the batch shuffle width (32
#: here) means 128 commit streams for kilobytes of state each
#: (measured r7: state commit dominated q_stream_join's 6.3 s).
#: Production guidance is to size state partitions to state VOLUME
#: (~100 MB-1 GB per partition), not to the batch shuffle width; 8 is
#: generous for the bench corpus and the knob is explicit where a real
#: deployment would raise it.  The drains use fresh checkpoints, so
#: re-sizing is safe; a production stream with a retained checkpoint
#: must keep its original partition count.
STATE_PARTITIONS = 8

#: Confs every drain runs under (:func:`_drain`).  The state width is
#: STATE_PARTITIONS.  AQE is off because it materializes every exchange
#: of the per-batch plan as its own query-stage SUB-JOB to re-plan
#: downstream stages — measured on the q_stream_neardup drain at ~29
#: scheduler jobs per micro-batch for a probe+verify plan with nothing
#: for AQE to decide (the shuffle width is pinned, the relations are
#: batch-sized, skew handling has no 256 MB-scale partitions to split).
#: At micro-batch scale the per-stage scheduling/planning overhead
#: dominates the work; with AQE off the same plan runs as a handful of
#: jobs.
_DRAIN_CONFS = {
    "spark.sql.shuffle.partitions": str(STATE_PARTITIONS),
    "spark.sql.adaptive.enabled": "false",
}


def _drain(spark: SparkSession, writer):
    """Run ``writer`` (a configured ``DataStreamWriter``) with
    ``trigger(availableNow=True)`` until the source is drained, under
    :data:`_DRAIN_CONFS` scoped to the drain (``session.scoped_conf``:
    the session's confs read as before once it returns); returns the
    finished ``StreamingQuery``."""
    with scoped_conf(spark, _DRAIN_CONFS):
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    return q


def _land(table_path: str, write):
    """foreachBatch body that lands each non-empty micro-batch in the
    LakeTable at ``table_path``: ``write(table, batch_df)`` once the
    table exists, ``LakeTable.create`` for the first batch.  Losing an
    optimistic-concurrency race (``ConcurrentWriteError``) is retried,
    3 attempts in all: the write re-reads the winner's snapshot."""

    def land(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        for attempt in range(3):
            try:
                if LakeTable.is_table(table_path):
                    write(LakeTable(table_path), batch_df)
                else:
                    LakeTable.create(batch_df, table_path)
                return
            except ConcurrentWriteError:
                if attempt == 2:
                    raise

    return land


def _events_schema_ddl(ts_type: str) -> str:
    # ts has shipped as parquet TIMESTAMP(NANOS) (→ read as long via
    # nanosAsLong, rebuilt with integer division) or TIMESTAMP(MICROS)
    # (→ read natively); the caller reads which from the memoized
    # schema (session.parquet_schema).
    return (
        f"event_id BIGINT, ts {ts_type}, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    )


def _as_stream_dir(path: str) -> str:
    """Spark's file stream source wants a directory; the fixture is a
    single parquet file. Symlink it into a stable per-path temp dir."""
    if os.path.isdir(path):
        return path
    key = hashlib.md5(path.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"lab5_stream_{key}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(path))
    # lexists (not exists): a dangling link from a deleted fixture must
    # be replaced, not skipped; tolerate the concurrent-creator race
    if os.path.lexists(link) and not os.path.exists(link):
        os.unlink(link)
    if not os.path.lexists(link):
        try:
            os.symlink(path, link)
        except FileExistsError:
            pass
    return d


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source replay of the events parquet (schema must be
    declared for streaming reads; maxFilesPerTrigger throttles replay).
    A TIMESTAMP(NANOS) ``ts`` reads as a long under the nanosAsLong conf
    ``session.tune`` sets, and is rebuilt as µs like ``load_table``'s."""
    # streaming sources need a declared schema — the ts encoding of this
    # fixture generation comes from the session's memoized batch schema
    # (the same entry load_table's events branch uses), so only the
    # first read of a fixture in a session runs the inference job
    ts_is_long = (
        parquet_schema(spark, path)["ts"].dataType.simpleString() == "bigint"
    )
    raw = (
        spark.readStream.schema(
            _events_schema_ddl("BIGINT" if ts_is_long else "TIMESTAMP")
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(_as_stream_dir(path))
    )
    ts = (
        F.timestamp_micros(F.expr("(ts - ((ts % 1000) + 1000) % 1000) div 1000"))
        if ts_is_long
        else F.col("ts").cast("timestamp")
    )
    return raw.withColumn("ts", ts)


def tumbling_counts(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Tumbling-window count/sum per event_type with a 1-hour watermark:
    late events beyond the watermark are dropped, state is bounded."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity (native session_window state merging)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on (event_id, ts) within the watermark
    horizon. The event-time column MUST be part of the dedup key for
    late rows to be dropped: dropDuplicates on event_id alone only
    expires state — measured numRowsDroppedByWatermark stays 0 and
    arbitrarily late rows pass through. With ts in the key the state
    operator both dedups and discards input older than the watermark,
    which is what bounds state on an unbounded stream."""
    return events.withWatermark("ts", "1 hour").dropDuplicates(["event_id", "ts"])


def stream_dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark`` (Spark
    3.5+): dedup key is event_id ALONE — no event-time column in the
    key — and the engine still expires state once the watermark passes
    each key's first-seen event time. This is the API for the common
    real case :func:`stream_dedup` can't express: retried/duplicated
    records whose event-time jitters between copies (same event_id,
    slightly different ts), which a (event_id, ts)-keyed dedup would
    NOT collapse. Guarantee: duplicates arriving within the watermark
    delay of first arrival are dropped; state stays bounded."""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def view_purchase_join(events: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Watermarked stream-stream inner join: each purchase matched to
    the same user's views in the preceding ``horizon``.

    Both sides carry watermarks and the join condition bounds event
    time on BOTH ends (p_ts ∈ [v_ts, v_ts + horizon]), which is what
    lets Spark expire join state: a view older than watermark − horizon
    can never match a future purchase and is dropped. Without the time
    bound the state grows unboundedly — the canonical stream-stream
    join mistake. Same-source self-join is fine: each side gets its own
    file-source offsets and state store."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("v_ts", horizon)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", horizon)
    )
    return views.join(
        purchases,
        F.expr(
            f"v_user = p_user AND p_ts >= v_ts "
            f"AND p_ts <= v_ts + INTERVAL {horizon}"
        ),
        "inner",
    ).select(
        F.col("v_user").alias("user_id"), "view_id", "purchase_id", "v_ts", "p_ts"
    )


def run_to_memory(
    df: DataFrame,
    name: str,
    spark: SparkSession,
    output_mode: str = "append",
    expect_min_batches: int | None = None,
) -> DataFrame:
    """Drain a streaming DF into an in-memory table (availableNow) and
    return the materialized result — the deterministic test harness.
    Windowed aggregations need ``output_mode='complete'``.

    ``expect_min_batches`` asserts the drain really exercised
    MULTI-batch state merging (q_stream_multibatch's contract): with
    maxFilesPerTrigger=1 a multi-file input must produce one progress
    entry per file, so fewer means the source silently collapsed the
    replay and the query would be testing less than it claims."""
    q = _drain(
        spark,
        df.writeStream.format("memory").queryName(name).outputMode(output_mode),
    )
    if expect_min_batches is not None:
        n = sum(1 for p in q.recentProgress if p.numInputRows > 0)
        assert n >= expect_min_batches, (
            f"expected >= {expect_min_batches} non-empty micro-batches, "
            f"saw {n} — multi-batch replay collapsed"
        )
    return spark.table(name)


def stream_agg_to_table(
    spark: SparkSession,
    agg_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key: list[str],
) -> LakeTable:
    """UPDATE-mode foreachBatch drain for windowed aggregations: each
    micro-batch emits only the windows it changed, carrying their
    CUMULATIVE aggregate, and those rows MERGE into a LakeTable on the
    window key — the production pattern for landing a streaming agg in
    a queryable table.  Nothing ever accumulates on the driver: agg
    state lives in the (executor-side, RocksDB-backed at scale)
    stateful operator, results live in the table, and re-running the
    drain converges because each update row replaces its key's previous
    cumulative value.  Lands through :func:`_land` like
    :func:`stream_merge_to_table` (latest-wins is unnecessary — update
    rows are unique per key within a batch by construction)."""
    upsert = _land(
        table_path, lambda table, batch: table.merge(spark, batch, key=key)
    )
    _drain(
        spark,
        agg_df.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir),
    )
    return LakeTable(table_path)


def stream_sessions_to_table(
    spark: SparkSession,
    session_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
) -> LakeTable:
    """Session-window drain: COMPLETE-mode foreachBatch → versioned
    snapshot overwrite of a LakeTable.

    Why not update/append: Spark's native session_window aggregation
    supports only append and complete output modes (update is rejected
    because merging sessions changes their identity — a session's
    (start, end) both move as events merge in, so there is no stable
    key an update row could address).  Append emits only sessions
    CLOSED by the watermark, which structurally misses every session
    still open at end-of-input.  Complete mode is therefore the lossless
    drain — and the state it completes from lives in the distributed
    agg operator, NOT the driver: foreachBatch receives the result as a
    distributed DataFrame and lands it straight into table files, so no
    driver-side memory sink exists anywhere on the path (the r4/r5
    review's objection to the old memory-table drain).  Each batch
    commits one snapshot VERSION via :meth:`LakeTable.overwrite`
    (first batch creates v0): history is preserved across batches, so
    readers time-travel to any earlier batch's complete result or
    read latest — retention (``retain_versions``) bounds how far
    back."""
    overwrite = _land(table_path, lambda table, batch: table.overwrite(batch))
    _drain(
        spark,
        session_df.writeStream.foreachBatch(overwrite)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir),
    )
    return LakeTable(table_path)


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + running value sum, state kept across
    micro-batches (the escape hatch for semantics window functions
    can't express in a stream; Arrow-batched, keyed state, watermark-
    bounded in production)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 3)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id BIGINT, n_events BIGINT, sum_value DOUBLE",
        stateStructType="n BIGINT, total DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_available() -> bool:
    """transformWithStateInPandas needs protobuf (its state-server
    protocol is proto-encoded); this sandbox ships pyspark without it,
    so the TWS operator is environment-gated exactly like the
    delta-spark adapter (probe is cheap, failure mode is an
    ImportError inside Spark's streaming python runner)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stateful_user_counts_tws(events: DataFrame) -> DataFrame:
    """Per-user running count + value sum via
    ``transformWithStateInPandas`` — the arbitrary-stateful API that
    supersedes applyInPandasWithState in Spark 4 (typed state
    variables with TTL, timers, composite ValueState/ListState/
    MapState, RocksDB-backed).  Same semantics as
    :func:`stateful_user_counts`; the two are parity-pinned by
    tests/test_streaming.py::test_tws_matches_applyinpandaswithstate
    wherever the runtime has protobuf (see :func:`tws_available` —
    this sandbox does not, so the pin ships skip-guarded like the
    delta-spark suite).

    Caller must run the stream with the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass`` =
    ``...state.RocksDBStateStoreProvider``) — transformWithState
    requires it."""
    from pyspark.sql.streaming import StatefulProcessor

    class _Counter(StatefulProcessor):
        def init(self, handle):
            self._agg = handle.getValueState("agg", "n BIGINT, total DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n, total = (
                self._agg.get() if self._agg.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._agg.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [round(total, 3)],
                }
            )

        def close(self):
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_Counter(),
        outputStructType="user_id BIGINT, n_events BIGINT, sum_value DOUBLE",
        outputMode="Update",
        timeMode="None",
    )


def stream_neardup_gate(
    spark: SparkSession,
    docs_stream: DataFrame,
    stored_index: DataFrame,
    corpus: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    phases: dict | None = None,
) -> None:
    """foreachBatch near-dup gate — the STREAMING form of
    q_dedup_index_store's ingest probe: each micro-batch of documents
    is signature-banded (functions/dedup.minhash_band_index), probed
    against the STATIC persisted band index on (band, bucket), exact-
    verified on candidates only, and the reject rows (doc_id, dup_of,
    jaccard) appended to ``out_path`` — what a corpus-ingest pipeline
    routes to the reject sink while accepted docs flow on.

    Batch-independence is the correctness design: every batch probes
    only the immutable base index (never batch-vs-batch), so the
    drained result is a pure function of the input set — invariant to
    file→micro-batch assignment and to replay, which is what lets a
    DuckDB oracle state it.  Per-batch cost is O(batch) signature
    compute + a join against the narrow index + candidate-only verify;
    at corpus scale the verify's semi-join prefilter keeps the shingle
    pass candidate-sized (verified_near_dups docstring).

    ``phases`` (optional) receives cost attribution (r11 verdict #7):
    ``cap_sec``/``cap_jobs`` for the one-time hot-bucket-cap
    materialization (index-build cost), ``drain_sec``/``drain_jobs``
    for the micro-batch drain itself — the part whose per-batch cost
    the O(batch) contract governs.  Job deltas come from
    plans.job_count (AppStatusStore), which sees the streaming
    thread's jobs where thread-local job groups would not."""
    import time

    from pyspark.sql import functions as SF

    from ..functions import dedup as D
    from ..plans import job_count

    # Hot-bucket capping of the STATIC index happens ONCE per gate,
    # materialized (localCheckpoint), so the per-batch probe pays zero
    # capping passes — per-batch minhash_probe_index is then called
    # with the cap disabled (r11 review: recomputing the cap per
    # micro-batch would be an O(index) window shuffle per batch).
    t0, j0 = time.monotonic(), job_count(spark)
    capped_index = D.cap_band_index(stored_index, 256).localCheckpoint(
        eager=True
    )
    if phases is not None:
        phases["cap_sec"] = round(time.monotonic() - t0, 3)
        phases["cap_jobs"] = job_count(spark) - j0

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # WITHIN-batch id dedup, deterministically (r11 review): a
        # re-landed file picked up in the same availableNow batch as
        # the original carries the same doc_id twice; without this
        # both rows reach the band index AND the verify side, and the
        # reject output doubles (or conflicts, if texts differ — min
        # text wins, an arbitrary-but-stable tiebreak).  The r10
        # dropDuplicates this gate replaced had quietly provided the
        # within-batch half of this invariant.
        batch_df = batch_df.groupBy("doc_id").agg(
            SF.min("text").alias("text")
        )
        cands = D.minhash_probe_index(
            capped_index, D.minhash_band_index(batch_df),
            hot_bucket_cap=None,
        )
        # verify over corpus ∪ batch: a genuinely NEW document (not in
        # the static corpus relation) must still have shingles for the
        # exact verify, or its candidates silently vanish through the
        # inner join and the duplicate is ADMITTED (r10 review).
        # Overlap policy — CORPUS WINS, deterministically (r10 advice):
        # the first cut used dropDuplicates(["doc_id"]) over the union,
        # whose surviving row is arbitrary when a replayed/overlapping
        # batch carries DIFFERENT text for an id already in the corpus,
        # making the verify outcome (hence the reject set)
        # nondeterministic.  A left-anti on the corpus ids keeps
        # exactly the corpus row for overlaps (the stored/indexed text
        # IS the ground truth a duplicate gate verifies against) and
        # still contributes batch-only docs' shingles.  Cost: one
        # id-projected hash join per batch — the corpus text column
        # never moves for overlap rows.
        verify_side = corpus.select("doc_id", "text").unionByName(
            batch_df.select("doc_id", "text").join(
                corpus.select("doc_id"), "doc_id", "left_anti"
            )
        )
        # prefilter=True: probe candidates are O(batch); without it the
        # auto heuristic (scan partition count) picks a corpus-wide
        # shingle pass per micro-batch on small-file corpora — an
        # O(corpus) cost the gate's own scale contract forbids (r11)
        ver = D.verified_near_dups(
            verify_side, cands, threshold=0.5, prefilter=True
        )
        (
            ver.select(
                SF.col("id_b").alias("doc_id"),
                SF.col("id_a").alias("dup_of"),
                "jaccard",
            )
            # one DIRECTORY per batch_id, mode=overwrite: foreachBatch
            # commits the checkpoint AFTER this function returns, so a
            # replayed batch rewrites ITS OWN directory instead of
            # appending duplicate reject rows (r10 review — the
            # batch-independence argument covers dataset contents,
            # not a non-idempotent append sink)
            .write.mode("overwrite")
            .parquet(f"{out_path}/batch_{batch_id}")
        )
        # verified_near_dups' prefilter path caches two per-batch
        # relations (candidates + survivor shingles) that nothing
        # unpersists; over a long-lived stream those blocks accumulate
        # until eviction thrash (r11 review).  The catalog cache holds
        # nothing load-bearing here — capped_index is an RDD
        # localCheckpoint, not a catalog entry, and corpus/index are
        # plain reads — so clearing per batch is safe and bounds
        # storage at one batch's working set.
        spark.catalog.clearCache()

    t0, j0 = time.monotonic(), job_count(spark)
    _drain(
        spark,
        docs_stream.writeStream.foreachBatch(gate).option(
            "checkpointLocation", checkpoint_dir
        ),
    )
    if phases is not None:
        phases["drain_sec"] = round(time.monotonic() - t0, 3)
        phases["drain_jobs"] = job_count(spark) - j0


def stream_decontaminate_gate(
    spark: SparkSession,
    docs_stream: DataFrame,
    bench_grams: DataFrame,
    out_path: str,
    checkpoint_dir: str,
) -> None:
    """foreachBatch benchmark-decontamination gate — the STREAMING form
    of q_decontaminate: each micro-batch of incoming documents explodes
    its per-doc-distinct word-5-grams into a BROADCAST join against the
    static held-out gram set, and contaminated rows
    (doc_id, n_leaked_grams) are appended to ``out_path`` — what a
    crawl-ingest pipeline routes to the quarantine sink before a
    benchmark item can train in.

    Batch-independence: the probe side is the immutable benchmark set,
    never batch-vs-batch state, so the drained result is a pure
    function of the input set — invariant to file→micro-batch
    assignment and replay, which is what lets a DuckDB oracle state it.
    Per-batch cost is O(batch tokens) explode + broadcast hash join +
    a batch-local count; the corpus side never shuffles.  The probe is
    the SHARED primitive (functions/decontaminate.probe_leak_counts,
    r10) — the same code path as the batch audit, pointed at the same
    persisted gram index the caller passes in."""
    from ..functions import decontaminate as DC

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            DC.probe_leak_counts(batch_df, bench_grams, n=5)
            # per-batch overwrite sink — replay-idempotent, see
            # stream_neardup_gate
            .write.mode("overwrite")
            .parquet(f"{out_path}/batch_{batch_id}")
        )

    _drain(
        spark,
        docs_stream.writeStream.foreachBatch(gate).option(
            "checkpointLocation", checkpoint_dir
        ),
    )


def stream_merge_to_table(
    spark: SparkSession,
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
) -> LakeTable:
    """foreachBatch → LakeTable.merge: the reference's idempotent MERGE
    upsert (jobs/order_glue_job.py:151-155), incrementalized. Each
    micro-batch upserts on event_id with latest-wins on ts — re-running
    the stream (or replaying a batch after failure) converges to the
    same table, which is the exactly-once story.  Losing an
    optimistic-concurrency race to an out-of-band writer (backfill,
    OPTIMIZE job) is retried: merge re-reads the winner's snapshot, and
    latest-wins makes the replay order-insensitive, so a bounded retry
    is exactly-once safe."""
    upsert = _land(
        table_path,
        lambda table, batch: table.merge(
            spark, batch, key=["event_id"], latest_by="ts"
        ),
    )
    _drain(
        spark,
        events.writeStream.foreachBatch(upsert).option(
            "checkpointLocation", checkpoint_dir
        ),
    )
    return LakeTable(table_path)


def stream_warc_gate(
    spark: SparkSession,
    files_stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
) -> int:
    """foreachBatch WARC ingest gate — the STREAMING front of the
    web-corpus chain (q_scan_warc is its batch twin): crawl ``.warc.gz``
    landings arrive as a binaryFile STREAM (one file per fetcher
    flush), each micro-batch decodes through the SHARED Arrow decode
    (``sources/readers.decode_warc_content`` — decode semantics
    defined once for batch and stream), and every record lands in
    the sink with its quarantine verdict: ok / truncated /
    bad_header / corrupt_gzip rows flow, nothing ever raises.

    Batch-independence (what lets a DuckDB oracle state the drained
    result): decoding is per-FILE with no cross-batch state, so the
    output set is a pure function of the landed files — invariant to
    file->micro-batch assignment and replay.  Per-batch cost is
    O(batch bytes); payload bytes never shuffle (the sink projection
    drops them before write).  Returns the number of non-empty
    micro-batches drained (asserted > 1 in tests — the multi-batch
    claim)."""
    from ..sources.readers import decode_warc_content

    batches_seen = {"n": 0}

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batches_seen["n"] += 1
        (
            decode_warc_content(batch_df)
            .drop("payload")  # verdicts relation only: bytes stay out
            .write.mode("overwrite")
            .parquet(f"{out_path}/batch_{batch_id}")
        )

    _drain(
        spark,
        files_stream.writeStream.foreachBatch(gate).option(
            "checkpointLocation", checkpoint_dir
        ),
    )
    return batches_seen["n"]
