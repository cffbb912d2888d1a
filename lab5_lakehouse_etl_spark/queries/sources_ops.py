"""Source-ingestion declared queries (SURVEY §2.1 S1, S3).

The reference's landing path is XLSX → per-sheet CSV → schemaless
all-string CSV scan → permissive cast (jobs/xlsx_to_csv.py:28-55,
jobs/order_glue_job.py:87,105-109). These queries exercise that path
end-to-end on driver fixtures: materialize a table as CSV (resp. an
in-memory workbook), run the real readers, and return a DataFrame the
oracle can check against the original parquet.

Staged CSVs land under a stable per-process scratch dir
(``session.scratch_dir``) so both queries return the DISTRIBUTED scan
directly — no ``collect()`` anywhere in the declared path; the result
the driver hashes is the lazy CSV scan + cast plan itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table, scratch_dir
from ..sources.readers import read_csv_untyped, split_workbook
from . import query


@query(
    "q_scan_csv",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 + P3: header CSV scan with NO schema — every column lands as
    string (jobs/order_glue_job.py:87) — then the permissive cast block
    types it (jobs/order_glue_job.py:105-109). Round-trips `nation`
    through a real CSV file so the all-string landing → try_cast path is
    what the oracle hashes."""
    nation = load_table(spark, sf_dir, "nation")
    csv_dir = scratch_dir("q_scan_csv", fresh=True) + "/nation_csv"
    nation.coalesce(1).write.mode("overwrite").option("header", True).csv(csv_dir)
    landed = read_csv_untyped(spark, csv_dir)
    return landed.select(
        F.col("n_nationkey").try_cast("bigint").alias("n_nationkey"),
        F.col("n_name"),
        F.col("n_regionkey").try_cast("bigint").alias("n_regionkey"),
    )


@query(
    "q_xlsx_ingest",
    oracle="""
    SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey,
           r_name,
           'sheet_' || CAST(r_regionkey // 2 AS VARCHAR)           AS sheet_name,
           'sheet_' || CAST(r_regionkey // 2 AS VARCHAR) || '.csv' AS source_file
    FROM region
    """,
)
def q_xlsx_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: XLSX multi-sheet → per-sheet CSV split (jobs/xlsx_to_csv.py:
    28-55: each sheet → `<sheet>.csv`, None → ''), then the S1 scan with
    `sheet_name`/`source_file` lineage columns the warehouse schemas
    expect (SURVEY §1.1). Oracle-paired: sheets are built
    deterministically (regionkeys sorted, two per sheet), so the
    lineage columns are a pure function of r_regionkey and the whole
    workbook → CSV → scan path hash-compares against plain SQL.

    The workbook is built deterministically from `region` (one sheet per
    region pair, like the reference's monthly multi-sheet order drops).
    """
    region = load_table(spark, sf_dir, "region")
    rows = sorted(region.collect(), key=lambda r: r.r_regionkey)
    header = ["r_regionkey", "r_name"]
    sheets = {
        f"sheet_{i}": [header]
        + [[r.r_regionkey, r.r_name] for r in rows[i * 2 : i * 2 + 2]]
        for i in range((len(rows) + 1) // 2)
    }
    land = scratch_dir("q_xlsx_ingest", fresh=True)
    written = split_workbook(sheets, land)
    assert len(written) == len(sheets)
    # One scan over every per-sheet CSV; lineage comes from the file
    # name itself (input_file_name), exactly how a production landing
    # scan would attribute rows to their source drop.
    landed = read_csv_untyped(spark, land)
    return landed.select(
        F.col("r_regionkey").try_cast("bigint").alias("r_regionkey"),
        "r_name",
        F.regexp_extract(F.input_file_name(), r"([^/]+)\.csv$", 1).alias(
            "sheet_name"
        ),
        F.regexp_extract(F.input_file_name(), r"([^/]+\.csv)$", 1).alias(
            "source_file"
        ),
    )


@query(
    "q_scan_jsonl",
    oracle="""
    SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q_scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL round-trip scan — the LLM-corpus landing format the
    reference's CSV/XLSX path doesn't cover: materialize `documents`
    as JSON-Lines (Spark's own line-per-object writer, newlines and
    quotes in text escaped per RFC 8259), then scan it back through
    sources.readers.read_jsonl with the DECLARED schema (no sampling
    inference pass — at 100 TB inference reads the corpus twice) and
    hash-compare the distributed scan against the original parquet
    truth.  The declared-schema read also pins column ORDER (JSON
    objects carry no order; inference would alphabetize), so the
    result schema is exactly the table's."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..sources.readers import read_jsonl

    docs = load_table(spark, sf_dir, "documents")
    land = scratch_dir("q_scan_jsonl", fresh=True) + "/documents_jsonl"
    docs.write.mode("overwrite").json(land)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    return read_jsonl(spark, land, schema)


@query(
    "q_scan_avro",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey,
           CASE WHEN n_nationkey % 5 = 0 THEN NULL
                ELSE 'c' || CAST(n_nationkey AS VARCHAR) END AS note
    FROM nation
    """,
)
def q_scan_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro Object-Container-File SOURCE (sources.readers.read_avro)
    over the vendored spec codec that already round-trips the Iceberg
    manifests: the fixture writes nation into THREE separate .avro
    container files (slices by key mod 3; one deflate-coded, two
    null-coded; a nullable union column with real nulls), a
    header-only driver probe recovers the writer schema without
    touching a data block, and the distributed binaryFile +
    Arrow-batched decode reads all three files back — the DuckDB
    oracle restates the relation, so a wrong varint zig-zag, union
    branch index, block sync walk, or deflate frame breaks the hash.

    Scale boundary (stated in the reader docstring): files are the
    parallelism unit — the normal shape of warehouse Avro landings;
    block-splitting on sync markers and nested/logical types refuse
    loudly."""
    from ..lakehouse import avro as A
    from ..sources.readers import read_avro

    nation = load_table(spark, sf_dir, "nation")
    out_dir = scratch_dir("q_scan_avro", fresh=True)
    schema = {
        "type": "record",
        "name": "nation",
        "fields": [
            {"name": "n_nationkey", "type": "long"},
            {"name": "n_name", "type": "string"},
            {"name": "n_regionkey", "type": "long"},
            {"name": "note", "type": ["null", "string"]},
        ],
    }
    rows = [
        {
            "n_nationkey": int(r.n_nationkey),
            "n_name": r.n_name,
            "n_regionkey": int(r.n_regionkey),
            "note": None
            if r.n_nationkey % 5 == 0
            else f"c{int(r.n_nationkey)}",
        }
        for r in nation.collect()  # 25-row dimension: driver-side write
    ]
    for i in range(3):
        part = [r for r in rows if r["n_nationkey"] % 3 == i]
        A.write_container(f"{out_dir}/part-{i}.avro", schema, part)
    back = read_avro(spark, out_dir + "/*.avro")
    return back.select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
        "note",
    )


def warc_fixture_member(doc_id: int, text: str) -> bytes:
    """ONE gzip member of the shared WARC fixture — the per-doc arm
    logic (doc_id % 16) the batch source query (q_scan_warc) and the
    streaming ingest gate (q_stream_warc) both write, so their
    oracles restate the same closed form: 200 HTML response / 404
    text-plain / request record / truncated member (Content-Length
    overdeclared by 50, terminator cut) / gzip-intact bad_header
    garbage."""
    from ..sources import warc as W

    arm = doc_id % 16
    rid = f"<urn:doc:{doc_id}>"
    uri = f"https://site{doc_id % 7}.example.com/doc/{doc_id}"
    date = f"2024-01-{1 + doc_id % 28:02d}T00:00:00Z"
    if arm == 14:
        return W.gzip_member(b"NOT A WARC RECORD \xff\x00 garbage")
    if arm == 15:
        content = (
            f"GET /doc/{doc_id} HTTP/1.1\r\n"
            f"Host: site{doc_id % 7}.example.com\r\n\r\n"
        ).encode()
        return W.gzip_member(
            W.build_record(
                rid, "request", content,
                target_uri=uri, warc_date=date,
                content_type="application/http; msgtype=request",
            )
        )
    if arm == 12:
        content = W.build_http_response(
            b"<html><body>not found</body></html>",
            status=404, content_type="text/plain",
        )
    else:
        body = (
            f"<html><head><title>D{doc_id}</title></head>"
            f"<body><p>{text}</p></body></html>"
        ).encode()
        content = W.build_http_response(body, status=200)
    if arm == 13:
        # truncation plant: overdeclare by 50, cut the tail
        rec = W.build_record(
            rid, "response", content,
            target_uri=uri, warc_date=date,
            declared_length=len(content) + 50,
        )
        return W.gzip_member(rec[: len(rec) - 4])
    return W.gzip_member(
        W.build_record(
            rid, "response", content, target_uri=uri, warc_date=date
        )
    )


@query(
    "q_scan_warc",
    oracle="""
    WITH c AS (
      SELECT doc_id, text, doc_id % 16 AS arm FROM documents
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
      CASE WHEN arm = 14 THEN NULL
           ELSE '2024-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
                || 'T00:00:00Z' END AS warc_date,
      CASE WHEN arm IN (13, 14, 15) THEN NULL
           WHEN arm = 12 THEN 404 ELSE 200 END AS http_status,
      CASE WHEN arm IN (13, 14, 15) THEN NULL
           WHEN arm = 12 THEN 'text/plain'
           ELSE 'text/html' END AS http_content_type,
      CASE WHEN arm = 14 THEN NULL
           WHEN arm IN (13, 15) THEN NULL
           WHEN arm = 12 THEN '<html><body>not found</body></html>'
           ELSE '<html><head><title>D' || CAST(doc_id AS VARCHAR)
                || '</title></head><body><p>' || text
                || '</p></body></html>' END AS payload_text,
      CASE WHEN arm IN (13, 14, 15) THEN NULL
           WHEN arm = 12
           THEN CAST(length('<html><body>not found</body></html>') AS BIGINT)
           ELSE CAST(length('<html><head><title>D'
                || CAST(doc_id AS VARCHAR)
                || '</title></head><body><p>' || text
                || '</p></body></html>') AS BIGINT) END AS n_payload_chars,
      CASE WHEN arm = 13 THEN 'truncated'
           WHEN arm = 14 THEN 'bad_header'
           ELSE 'ok' END AS verdict
    FROM c
    """,
)
def q_scan_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC (ISO 28500) container SOURCE (sources.readers.read_warc
    over the pure-stdlib sources/warc.py) — the front of the
    web-corpus chain (r14 built the middle: html/urls).  The fixture
    is written DISTRIBUTED — each ``mapInPandas`` batch of
    ``documents`` serializes its docs as one-record-per-gzip-member
    ``.warc.gz`` files (the crawl-landing shape: one file per fetcher
    task) — then read back through the real binaryFile + Arrow
    decode.  Planted arms per doc (doc_id % 16): HTTP 200 response
    with an HTML body built from the doc text; a 404; a ``request``
    record; a TRUNCATED member (Content-Length overdeclared by 50,
    header fields survive, payload quarantined); and a gzip-intact
    garbage member (``bad_header`` verdict, all fields null).  The
    DuckDB oracle restates every arm in closed form over
    ``documents`` — a wrong header parse, member walk, HTTP split,
    or verdict classification breaks the hash.

    Scale: per-file parallelism (stated reader boundary); payload
    bytes stay inside the scan; the quarantine verdicts make one
    corrupt member cost one row, never a task.  4-job shape: fixture
    write action + binaryFile listing + the hashed scan."""
    import pandas as pd

    from ..sources import warc as W
    from ..sources.readers import read_warc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out_dir = scratch_dir("q_scan_warc", fresh=True)

    def write_batches(it):
        for pdf in it:
            members = [
                warc_fixture_member(int(doc_id), text)
                for doc_id, text in zip(pdf["doc_id"], pdf["text"])
            ]
            if members:
                name = f"{out_dir}/part-{int(pdf['doc_id'].min())}.warc.gz"
                W.write_warc(name, members)
                yield pd.DataFrame({"n": [len(members)]})

    # materialize the distributed write (bounded action: 1 row/batch)
    docs.repartition(8, "doc_id").mapInPandas(
        write_batches, "n bigint"
    ).collect()

    back = read_warc(spark, out_dir + "/*.warc.gz")
    return back.select(
        F.regexp_extract("record_id", r"urn:doc:(\d+)", 1)
        .try_cast("bigint")
        .alias("doc_id"),
        "warc_type",
        "target_uri",
        "warc_date",
        "http_status",
        "http_content_type",
        F.col("payload").cast("string").alias("payload_text"),
        F.length(F.col("payload").cast("string"))
        .cast("bigint")
        .alias("n_payload_chars"),
        "verdict",
    )
