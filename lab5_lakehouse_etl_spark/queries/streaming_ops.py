"""Streaming declared queries (SURVEY §2.9).

`q_window_tumbling` is the batch twin of the streaming tumbling-window
aggregation — same expression tree, SQL-oracle-verified (DuckDB bucket
via epoch arithmetic; Spark's window() aligns to the unix epoch, and
600 divides both origins' offsets, so buckets coincide).

The true streaming runs drain the parquet through a real readStream
with availableNow — and are ALSO oracle-paired: the fixture is a
single parquet file, so availableNow produces exactly one micro-batch,
no row is ever late against the watermark, update-mode sinks emit one
final row per key, and every drained result is a deterministic
function of the input that plain SQL can state. The multi-batch
behaviors the single-batch oracle can't see (watermark late-drop lag,
state expiry) are measured explicitly in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import cluster_for_write, load_table, scratch_dir, table_path
from ..streaming import events as E
from . import query

#: Cost attribution of the LAST q_stream_neardup run (r11 verdict #7:
#: the registry's heaviest query mixes one-time index-build cost with
#: the per-batch probe drain in a single wall number, so an O(table)
#: regression in the probe path could hide inside the build time).
#: Keys: build_sec/build_jobs (landing write + band-index LakeTable
#: create), cap_sec/cap_jobs (the gate's one-time hot-bucket-cap
#: materialization — also build-side cost), drain_sec/drain_jobs (the
#: 4-micro-batch foreachBatch drain — the part whose per-batch cost
#: must stay O(batch)).  bench.py's isolated run copies this into its
#: JSON line; tests/test_plans.py pins the drain job budget.
NEARDUP_PHASES: dict[str, float] = {}


@query(
    "q_window_tumbling",
    oracle="""
    SELECT make_timestamp(
             (CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600) AS BIGINT) * 600)
             * 1000000) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 3)     AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling-window aggregation: 10-minute windows per
    event_type — identical expression to the streaming pipeline."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "q_window_sliding",
    oracle="""
    WITH e AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
    ),
    x AS (
      SELECT event_type, value, ts,
             unnest([
               make_timestamp((CAST(floor(epoch(ts) / 300) AS BIGINT)) * 300 * 1000000),
               make_timestamp((CAST(floor(epoch(ts) / 300) AS BIGINT) - 1) * 300 * 1000000)
             ]) AS window_start
      FROM e
    )
    SELECT window_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(avg(value), 4)     AS avg_value
    FROM x
    WHERE ts >= window_start AND ts < window_start + INTERVAL 10 MINUTE
    GROUP BY 1, 2
    """,
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10-minute window, 5-minute slide): each event
    lands in 2 overlapping windows. The oracle materializes both
    candidate window starts per event and filters to containment —
    exactly what Spark's window() expands to internally."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


@query(
    "q_stream_stateful",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT)  AS n_events,
           round(sum(value), 3)      AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running counts across micro-batches. Oracle-paired: the
    fixture is one parquet file → one micro-batch with availableNow, so
    the update-mode sink holds exactly the final per-user totals, which
    must equal the batch GROUP BY."""
    stream = E.read_events_stream(spark, table_path(sf_dir, "events"))
    return E.run_to_memory(
        E.stateful_user_counts(stream), "q_stream_stateful_sink", spark, "update"
    )


@query(
    "q_stream_tumbling",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600) AS BIGINT) AS bkt,
             event_type, value
      FROM events
    )
    SELECT make_timestamp(bkt * 600 * 1000000)       AS window_start,
           make_timestamp((bkt + 1) * 600 * 1000000) AS window_end,
           event_type,
           CAST(count(*) AS BIGINT)                  AS n_events,
           round(sum(value), 3)                      AS sum_value
    FROM b
    GROUP BY 1, 2, 3
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Structured Streaming tumbling windows: readStream over the
    events parquet, watermark, windowed agg, drained with availableNow
    through an UPDATE-mode foreachBatch → LakeTable.merge on the window
    key (streaming/events.py stream_agg_to_table) and returned as a
    distributed snapshot scan — the production landing pattern, with
    zero driver-side result state anywhere on the path.  Oracle-paired:
    one input file → one micro-batch, no row is ever late, each window's
    single update row MERGEs its final aggregate, so the table equals
    the batch epoch-bucket aggregation."""
    stream = E.read_events_stream(spark, table_path(sf_dir, "events"))
    scratch = scratch_dir("q_stream_tumbling", fresh=True)
    table = E.stream_agg_to_table(
        spark,
        E.tumbling_counts(stream),
        f"{scratch}/tumbling_tbl",
        f"{scratch}/ckpt",
        key=["window_start", "window_end", "event_type"],
    )
    return table.read(spark)


@query(
    "q_stream_dedup",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
           value, props
    FROM events
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (event_id, ts) within the watermark horizon.
    Oracle-paired: fixture event_ids are unique, so the dedup is an
    identity pass — the oracle pins that the streaming machinery loses
    and duplicates nothing end to end (and the multi-batch late-drop
    behavior is measured separately in tests/test_streaming.py)."""
    stream = E.read_events_stream(spark, table_path(sf_dir, "events"))
    return E.run_to_memory(E.stream_dedup(stream), "q_stream_dedup_sink", spark)


@query(
    "q_stream_session",
    oracle="""
    WITH o AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    x AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    y AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM x
    )
    SELECT min(ts)                        AS session_start,
           max(ts) + INTERVAL 30 MINUTE   AS session_end,
           user_id,
           CAST(count(*) AS BIGINT)       AS n_events
    FROM y
    GROUP BY user_id, sid
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization (30-minute inactivity gap) per user via
    native session_window state merging, drained through a COMPLETE-mode
    foreachBatch → LakeTable snapshot overwrite and returned as a
    distributed scan (streaming/events.py stream_sessions_to_table —
    session windows forbid update mode and append misses still-open
    sessions, so complete is the lossless drain; the completed state
    lives in the distributed agg operator and lands directly in table
    files — no driver memory sink).  Oracle-paired with the gap-islands
    SQL twin: a session closes when the next event is >= 30 minutes
    away (session_window intervals are half-open [start, last+gap)),
    session_end = last event + gap."""
    stream = E.read_events_stream(spark, table_path(sf_dir, "events"))
    scratch = scratch_dir("q_stream_session", fresh=True)
    table = E.stream_sessions_to_table(
        spark,
        E.sessionize(stream),
        f"{scratch}/sessions_tbl",
        f"{scratch}/ckpt",
    )
    return table.read(spark)


@query(
    "q_stream_join",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           CAST(v.ts AS TIMESTAMP) AS v_ts,
           CAST(p.ts AS TIMESTAMP) AS p_ts
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join (views ⋈ purchases within 1 hour,
    per user): real readStream on both sides, time-range condition
    bounding join state on both ends. Oracle-paired with the equivalent
    batch interval join; also pinned against the batch DataFrame join
    in tests/test_streaming.py."""
    stream = E.read_events_stream(spark, table_path(sf_dir, "events"))
    return E.run_to_memory(
        E.view_purchase_join(stream), "q_stream_join_sink", spark, "append"
    )


@query(
    "q_stream_merge",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
           value, props
    FROM events
    """,
)
def q_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch → LakeTable MERGE: the reference's idempotent upsert
    incrementalized; returns the merged table as a direct distributed
    scan (table + checkpoint live under a stable per-process scratch
    dir, so no driver-side materialization). Oracle-paired: unique
    event_ids mean the latest-wins MERGE converges to the input events
    exactly — the oracle pins that the stream → foreachBatch → MERGE →
    snapshot-read path is lossless."""
    stream = E.read_events_stream(spark, table_path(sf_dir, "events"))
    scratch = scratch_dir("q_stream_merge", fresh=True)
    table = E.stream_merge_to_table(
        spark, stream, f"{scratch}/events_tbl", f"{scratch}/ckpt"
    )
    return table.read(spark)


@query(
    "q_stream_dedup_wm",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
           value, props
    FROM events
    """,
)
def q_stream_dedup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup via dropDuplicatesWithinWatermark — key is
    event_id ALONE (no event-time in the key), the Spark 3.5+ operator
    for duplicates whose timestamps jitter between retries, which the
    (event_id, ts)-keyed q_stream_dedup cannot collapse. State still
    expires at the watermark, so memory is bounded on an unbounded
    stream. Oracle-paired: unique fixture event_ids make it an
    identity pass — pinning that the within-watermark machinery loses
    and duplicates nothing; the actual jittered-duplicate collapse is
    asserted multi-batch in tests/test_streaming.py."""
    stream = E.read_events_stream(spark, table_path(sf_dir, "events"))
    return E.run_to_memory(
        E.stream_dedup_within_watermark(stream), "q_stream_dedup_wm_sink", spark
    )


@query(
    "q_stream_multibatch",
    oracle="""
    SELECT make_timestamp(
             (CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600) AS BIGINT) * 600)
             * 1000000) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 3)     AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation whose state provably merges ACROSS
    micro-batches under the hash gate — the multi-batch claim the
    single-file fixtures cannot make.  The events land as THREE
    range-partitioned parquet chunks; maxFilesPerTrigger=1 turns the
    availableNow drain into (at least) three micro-batches, asserted
    from query progress, so every window that spans a chunk boundary
    must combine partial state from different batches to reach the
    batch-equal answer the oracle hashes.  The watermark is present
    (the production shape) but its delay exceeds the fixture's whole
    time span, so NO replay order can drop a row — the final
    complete-mode state is a deterministic function of the input
    regardless of how the file source orders the chunks.  Late-drop
    timing itself is measured separately in tests/test_streaming.py;
    the complete-mode memory sink is the same documented test-harness
    drain as q_stream_tumbling."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    chunks = scratch_dir("q_stream_multibatch", fresh=True) + "/chunks"
    ev.repartitionByRange(3, "ts").write.mode("overwrite").parquet(chunks)
    stream = E.read_events_stream(spark, chunks)
    agg = (
        stream.withWatermark("ts", "87600 hours")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return E.run_to_memory(
        agg,
        "q_stream_multibatch_sink",
        spark,
        "complete",
        expect_min_batches=2,
    )


@query(
    "q_stream_enrich",
    oracle="""
    WITH stats AS (
      SELECT event_type, round(avg(value), 4) AS type_avg
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value, s.type_avg,
           round(e.value - s.type_avg, 4) AS deviation
    FROM events e JOIN stats s USING (event_type)
    """,
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment — the dimension-join shape every
    production stream has and the stream-stream join (q_stream_join)
    does not cover: each streamed event joins a STATIC, batch-computed
    per-type statistics relation (broadcast — the stream side never
    shuffles, no state store involved, arbitrarily late events still
    enrich correctly because the static side is not watermarked).
    Here the static side is itself derived from the same fixture
    (per-type mean), so the drained append-mode result is a
    deterministic function of the input the oracle states as a plain
    join.  At 100 TB the static side refreshes per micro-batch epoch
    from its table — exactly this plan with the aggregate swapped for
    a LakeTable read."""
    ev_static = load_table(spark, sf_dir, "events")
    stats = ev_static.groupBy("event_type").agg(
        F.round(F.avg("value"), 4).alias("type_avg")
    )
    stream = E.read_events_stream(spark, table_path(sf_dir, "events"))
    enriched = stream.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "type_avg",
        F.round(F.col("value") - F.col("type_avg"), 4).alias("deviation"),
    )
    return E.run_to_memory(
        enriched, "q_stream_enrich_sink", spark, "append"
    )


@query(
    "q_stream_decontaminate",
    oracle=r"""
    WITH b AS (
      SELECT doc_id,
             CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                  WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split,
             string_split_regex(lower(text), '[ \t\n\r\f]+') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, split,
             array_to_string(t[CAST(j AS INT):CAST(j AS INT)+4], ' ') AS s
      FROM (SELECT doc_id, split, t,
                   unnest(range(1, greatest(len(t)-4, 1) + 1)) AS j
            FROM b)
    ),
    tg AS (SELECT DISTINCT s FROM sh WHERE split = 'test')
    SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_leaked_grams
    FROM (SELECT doc_id, s FROM sh WHERE split = 'train') a
    JOIN tg USING (s)
    GROUP BY a.doc_id
    """,
)
def q_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING decontamination gate: training documents arrive as a
    file stream (4 landing files, maxFilesPerTrigger=1 → four real
    micro-batches) and every batch's word-5-grams are probed against
    the STATIC held-out benchmark gram set (broadcast); contaminated
    docs land in the quarantine sink as (doc_id, n_leaked_grams) —
    decontamination moved from the batch audit (q_decontaminate /
    q_decontaminate_spans) to the ingest boundary, where a production
    crawl pipeline actually runs it.

    Batch-independence makes it SQL-stateable (same argument as
    q_stream_neardup): each batch probes only the immutable benchmark
    set, so the drained output equals the batch-mode broadcast join
    the oracle states, invariant to file→micro-batch assignment.
    Per-batch cost is O(batch tokens); the benchmark set is the SAME
    persisted build-once LakeTable artifact the batch audit and span
    report probe (functions/decontaminate.ensure_gram_index, r10) —
    its distinct gram projection broadcasts once per drain."""
    import os

    from ..functions import decontaminate as DC
    from ..streaming import events as E

    docs = load_table(spark, sf_dir, "documents")
    split = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(100))
    train = docs.filter(split < 80).select("doc_id", "text")
    index = DC.ensure_gram_index(
        spark,
        docs.filter(split >= 90).select("doc_id", "text"),
        cache_key=os.path.abspath(sf_dir),
        n=5,
    )
    bench_grams = index.select("gram").distinct()
    scratch = scratch_dir("q_stream_decontaminate", fresh=True)
    land = f"{scratch}/landing"
    train.repartitionByRange(4, "doc_id").write.parquet(land)
    stream = (
        spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    out = f"{scratch}/quarantine"
    E.stream_decontaminate_gate(
        spark, stream, bench_grams, out, f"{scratch}/ckpt"
    )
    import os

    if not os.path.isdir(out):  # zero contaminated docs
        return spark.createDataFrame([], "doc_id long, n_leaked_grams long")
    # per-batch subdirectories (replay-idempotent overwrite sinks)
    return spark.read.option("recursiveFileLookup", "true").parquet(out)


@query(
    "q_stream_neardup",
    oracle=r"""
    WITH sh AS (
      SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 5) AS s
      FROM (SELECT doc_id, text,
                   unnest(range(1, greatest(length(text)-4, 1) + 1)) AS i
            FROM documents)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT b.doc_id AS doc_id, a.doc_id AS dup_of, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s
      WHERE a.doc_id % 4 != 0 AND b.doc_id % 4 = 0
      GROUP BY 1, 2
    )
    SELECT inter.doc_id, dup_of,
           round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = inter.dup_of
               JOIN sizes sb ON sb.doc_id = inter.doc_id
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
    """,
)
def q_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup ingest gate: the corpus arrives as a file
    stream (4 parquet landing files, maxFilesPerTrigger=1 → four real
    micro-batches), and every batch is probed against the PERSISTED
    MinHash band index of the already-ingested corpus — band rows
    computed per batch, (band, bucket) join against the stored index,
    exact Jaccard verify on candidates only, rejects appended to the
    result sink (streaming/events.stream_neardup_gate).  The streaming
    twin of q_dedup_index_store, and the 100 TB ingest-shape: work per
    micro-batch is O(batch), the index is never rebuilt, and the
    corpus is never rescanned wholesale.

    Batch-independence makes it SQL-stateable: each batch probes only
    the immutable base index (batch-vs-batch dups are the NEXT index
    epoch's problem, exactly like q_ingest_dedup's within-batch window
    vs history split), so the drained output is invariant to how files
    land in micro-batches and equals the batch-mode cross-split pair
    set the oracle brute-forces."""
    import time

    from ..functions import dedup as D
    from ..lakehouse import LakeTable
    from ..plans import job_count
    from ..streaming import events as E

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    scratch = scratch_dir("q_stream_neardup", fresh=True)
    land = f"{scratch}/landing"
    NEARDUP_PHASES.clear()
    t0, j0 = time.monotonic(), job_count(spark)
    batch.repartitionByRange(4, "doc_id").write.parquet(land)
    t = LakeTable.create(
        cluster_for_write(D.minhash_band_index(base), "band"),
        f"{scratch}/band_index",
        partition_by=["band"],
    )
    NEARDUP_PHASES["build_sec"] = round(time.monotonic() - t0, 3)
    NEARDUP_PHASES["build_jobs"] = job_count(spark) - j0
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    out = f"{scratch}/rejects"
    E.stream_neardup_gate(
        spark, stream, t.read(spark), docs, out, f"{scratch}/ckpt",
        phases=NEARDUP_PHASES,
    )
    import os

    if not os.path.isdir(out):  # zero rejects: nothing was written
        return spark.createDataFrame(
            [], "doc_id long, dup_of long, jaccard double"
        )
    # per-batch subdirectories (replay-idempotent overwrite sinks)
    return spark.read.option("recursiveFileLookup", "true").parquet(out)


@query(
    "q_stream_warc",
    oracle="""
    WITH c AS (
      SELECT doc_id, doc_id % 16 AS arm FROM documents
    )
    SELECT
      CASE WHEN arm = 14 THEN NULL ELSE doc_id END AS doc_id,
      CASE WHEN arm = 14 THEN NULL
           WHEN arm = 15 THEN 'request'
           ELSE 'response' END AS warc_type,
      CASE WHEN arm = 14 THEN NULL
           ELSE 'https://site' || CAST(doc_id % 7 AS VARCHAR)
                || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
           END AS target_uri,
      CASE WHEN arm IN (13, 14, 15) THEN NULL
           WHEN arm = 12 THEN 404 ELSE 200 END AS http_status,
      CASE WHEN arm IN (13, 14, 15) THEN NULL
           WHEN arm = 12 THEN 'text/plain'
           ELSE 'text/html' END AS http_content_type,
      CASE WHEN arm = 13 THEN 'truncated'
           WHEN arm = 14 THEN 'bad_header'
           ELSE 'ok' END AS verdict
    FROM c
    """,
)
def q_stream_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING WARC ingest gate — the streaming front of the
    web-corpus chain (q_scan_warc's batch twin, same fixture member
    builder ``sources_ops.warc_fixture_member`` so both oracles
    restate ONE closed form): crawl ``.warc.gz`` landings arrive as
    a binaryFile file STREAM (maxFilesPerTrigger=1 → one micro-batch
    per landed file, count asserted > 1), every batch decodes
    through the SHARED Arrow decode (sources/readers.
    decode_warc_content) inside ``streaming/events.stream_warc_gate``,
    and each record lands in the quarantine-verdict sink — corrupt
    members cost one row each, never a stream failure.

    Batch-independence makes it SQL-stateable (the q_stream_neardup /
    q_stream_decontaminate argument): per-file decode holds no
    cross-batch state, so the drained set is a pure function of the
    landed files, invariant to file→micro-batch assignment and
    replay.  Payload bytes never shuffle and never reach the sink
    (dropped before write)."""
    import pandas as pd

    from ..session import scratch_dir
    from ..sources.readers import WARC_SCHEMA  # noqa: F401 (contract)
    from ..streaming import events as E
    from .sources_ops import warc_fixture_member

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scratch = scratch_dir("q_stream_warc", fresh=True)
    land = f"{scratch}/landing"

    def write_batches(it):
        for pdf in it:
            members = [
                warc_fixture_member(int(d), t)
                for d, t in zip(pdf["doc_id"], pdf["text"])
            ]
            if members:
                import os as _os

                _os.makedirs(land, exist_ok=True)
                with open(
                    f"{land}/part-{int(pdf['doc_id'].min())}.warc.gz", "wb"
                ) as fh:
                    for m in members:
                        fh.write(m)
                yield pd.DataFrame({"n": [len(members)]})

    # 4 landing files -> >= 4 non-empty micro-batches under
    # maxFilesPerTrigger=1 (the fetcher-flush shape)
    docs.repartitionByRange(4, "doc_id").mapInPandas(
        write_batches, "n bigint"
    ).collect()

    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("maxFilesPerTrigger", 1)
        .load(land)
    )
    out = f"{scratch}/verdicts"
    n_batches = E.stream_warc_gate(spark, stream, out, f"{scratch}/ckpt")
    STREAM_WARC_BATCHES["n"] = n_batches
    back = spark.read.option("recursiveFileLookup", "true").parquet(out)
    return back.select(
        F.regexp_extract("record_id", r"urn:doc:(\d+)", 1)
        .try_cast("bigint")
        .alias("doc_id"),
        "warc_type",
        "target_uri",
        "http_status",
        "http_content_type",
        "verdict",
    )


#: micro-batch count of the last q_stream_warc drain (pinned > 1 in
#: tests — the multi-batch claim, same pattern as NEARDUP_PHASES)
STREAM_WARC_BATCHES: dict[str, int] = {}
