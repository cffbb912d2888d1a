"""Composite pipeline declared queries (SURVEY §2.11).

Each reference Glue job is a composed dataflow; these queries re-express
the relational core of those compositions on the TPC-H-ish fixtures
(orders↔lineitem standing in for orders↔order_items, part for
products), with the §2.12 fine print preserved and a deterministic
survivor rule. The non-relational tail (Delta write, current_timestamp,
S3 archival) lives in `pipelines/` and is pytest-verified instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import relational as ops
from ..session import load_table
from . import query


@query(
    "q_pipeline_orders",
    oracle="""
    WITH typed AS (
      SELECT o_orderkey, o_custkey,
             round(o_totalprice, 2)        AS total_amount,
             CAST(o_orderdate AS DATE)     AS order_date,
             nullif(o_orderstatus, 'P')    AS status
      FROM orders
    ),
    valid AS (
      SELECT * FROM typed
      WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
        AND status IS NOT NULL
    ),
    dedup AS (
      SELECT o_orderkey, o_custkey, total_amount, order_date, status
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_custkey
          ORDER BY order_date DESC NULLS LAST, o_orderkey DESC NULLS LAST
        ) AS rn FROM valid
      ) WHERE rn = 1
    )
    SELECT d.* FROM dedup d
    WHERE d.o_orderkey IN (SELECT l_orderkey FROM lineitem)
    """,
)
def q_pipeline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders job's relational core (jobs/order_glue_job.py:87-158):
    project → permissive cast → required-field filter → latest-wins
    window dedup → RI semi-join — composed from the same combinators the
    real pipeline uses, as ONE Catalyst plan (single shuffle for the
    window, semi-join on the distinct key)."""
    orders = load_table(spark, sf_dir, "orders")
    typed = orders.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("total_amount"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status"),
    )
    valid, _rejected = ops.split_valid_rejected(
        typed, ["o_orderkey", "o_custkey", "status"]
    )
    deduped = ops.latest_wins_dedup(
        valid, ["o_custkey"], "order_date", tiebreak=["o_orderkey"]
    )
    keys = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey AS o_orderkey"
    )
    return ops.ri_semi_join(deduped, keys, on="o_orderkey")


@query(
    "q_pipeline_items",
    oracle="""
    WITH typed AS (
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
             round(l_quantity, 2) AS quantity,
             CAST(l_shipdate AS DATE) AS ship_date,
             nullif(l_returnflag, 'R') AS flag
      FROM lineitem
    ),
    valid AS (
      SELECT * FROM typed
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        AND flag IS NOT NULL
    ),
    rejected AS (
      SELECT l_orderkey, l_linenumber FROM typed
      EXCEPT
      SELECT l_orderkey, l_linenumber FROM valid
    ),
    ri AS (
      SELECT v.* FROM valid v
      WHERE v.l_orderkey IN (SELECT o_orderkey FROM orders)
    )
    SELECT ri.*,
           (SELECT CAST(count(*) AS BIGINT) FROM rejected) AS n_rejected
    FROM ri
    """,
)
def q_pipeline_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The order_items job's relational core
    (jobs/order_items_glue_job.py:96-183): intersection-projection →
    cast → filter → EXCEPT-style reject capture → RI join; the reject
    count rides along as a column (the job logs it as a run metric,
    jobs/order_items_glue_job.py:196-205). Reject capture runs through
    rejected_keys — the single-scan aggregation form of EXCEPT DISTINCT
    (see operators/relational.py) — cutting the plan from four lineitem
    scans to three and dropping the two-sided EXCEPT shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    typed = ops.project_intersection(
        li.select(
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            F.round("l_quantity", 2).alias("quantity"),
            F.col("l_shipdate").cast("date").alias("ship_date"),
            F.nullif(F.col("l_returnflag"), F.lit("R")).alias("flag"),
        ),
        [
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "quantity",
            "ship_date",
            "flag",
            "ghost_column",
        ],
    )
    valid, _ = ops.split_valid_rejected(typed, ["l_orderkey", "l_partkey", "flag"])
    rejected = ops.rejected_keys(
        typed,
        ["l_orderkey", "l_linenumber"],
        F.col("l_orderkey").isNotNull()
        & F.col("l_partkey").isNotNull()
        & F.col("flag").isNotNull(),
    )
    keys = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey AS l_orderkey"
    )
    ri = ops.ri_semi_join(valid, keys, on="l_orderkey")
    n_rej = rejected.agg(F.count(F.lit(1)).cast("bigint").alias("n_rejected"))
    return ri.crossJoin(F.broadcast(n_rej))


@query(
    "q_pipeline_products",
    oracle="""
    WITH typed AS (
      SELECT p_partkey, p_brand,
             nullif(p_type, 'STANDARD PLATED TIN') AS ptype,
             round(p_retailprice, 2)               AS retail_price
      FROM part
    ),
    dedup AS (
      SELECT p_partkey, p_brand, ptype, retail_price
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY p_partkey
          ORDER BY p_brand ASC NULLS LAST, retail_price ASC NULLS LAST
        ) AS rn FROM typed
      ) WHERE rn = 1
    ),
    valid AS (
      SELECT * FROM dedup
      WHERE p_partkey IS NOT NULL AND ptype IS NOT NULL
    )
    SELECT v.* FROM valid v
    WHERE v.p_partkey IN (SELECT l_partkey FROM lineitem)
    """,
)
def q_pipeline_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The products job's relational core (jobs/products_glue_job.py:
    135-187): declared-schema read → dedup by product key BEFORE
    null-filtering (the §2.12 quirk: a null-attribute survivor can
    shadow a valid duplicate) → required-field filter → RI semi-join
    against the fact table. Dedup survivor made deterministic via an
    ordered window (the reference's dropDuplicates keeps an arbitrary
    row)."""
    part = load_table(spark, sf_dir, "part")
    typed = part.select(
        "p_partkey",
        "p_brand",
        F.nullif(F.col("p_type"), F.lit("STANDARD PLATED TIN")).alias("ptype"),
        F.round("p_retailprice", 2).alias("retail_price"),
    )
    deduped = ops.latest_wins_dedup(
        typed,
        ["p_partkey"],
        order_col="p_brand",
        tiebreak=["retail_price"],
        descending=False,
    )
    valid, _ = ops.split_valid_rejected(deduped, ["p_partkey", "ptype"])
    keys = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey AS p_partkey"
    )
    return ops.ri_semi_join(valid, keys, on="p_partkey")


@query(
    "q_pipeline_web",
    oracle=None,  # built below: composed from the stage twin-builders
)
def q_pipeline_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end WEB-CORPUS composite — the §2.11 pipeline shape
    (q_pipeline_orders precedent) applied to the training-data chain
    r14/r15 built piecewise: WARC fixture → quarantine/status gate →
    ``html_to_text`` → ``canonical_url`` + URL-level dedup (first
    crawl wins) → trigram langid → Gopher repetition gate → exact
    text dedup → deterministic train/val/test split.  ONE Catalyst
    plan over ONE binaryFile scan of the fixture.

    The fixture plants, beyond q_scan_warc's five arms (200/404/
    request/truncated/bad_header), the two duplication shapes a real
    crawl produces: arm 11 is a RE-CRAWL of the arm-9 page two ids
    below (same URL modulo tracking params + same body — URL dedup
    must drop it) and arm 10 is a MIRROR of the arm-9 page one id
    below (different host, same body — URL dedup keeps it, exact
    text dedup drops it).  The DuckDB oracle rebuilds every stage
    from the SAME pattern tables (``html_to_text_sql``,
    ``canonical_url_sql``, the langid/Gopher closed forms, the
    multiplicative-hash split) over ``documents``, so the hash pins
    the whole chain across engines.

    Scale shape: langid/Gopher/fingerprint are computed BEFORE any
    shuffle (semantically commuting with the dedups), so document
    BODIES never cross an exchange — the two window shuffles move
    only (doc_id, canon_url, lang, stats, fp) — and the final split
    is a row-local expression.  Plan pins in tests/test_plans.py:
    one binaryFile scan, two exchanges, two Python nodes (the WARC
    decode + the langid UDF)."""
    import pandas as pd
    from pyspark.sql import Window

    from ..functions import text as T
    from ..functions.html import html_to_text
    from ..functions.urls import canonical_url
    from ..session import scratch_dir
    from ..sources import warc as W
    from ..sources.readers import read_warc
    from .corpus_ops import _split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    blk = Window.partitionBy(F.expr("doc_id DIV 16")).orderBy("doc_id")
    staged = docs.select(
        "doc_id",
        "text",
        F.lag("text", 1).over(blk).alias("p1"),
        F.lag("text", 2).over(blk).alias("p2"),
    )
    out_dir = scratch_dir("q_pipeline_web", fresh=True)

    def write_batches(it):
        for pdf in it:
            members = []
            for doc_id, text, p1, p2 in zip(
                pdf["doc_id"], pdf["text"], pdf["p1"], pdf["p2"]
            ):
                doc_id = int(doc_id)
                arm = doc_id % 16
                rid = f"<urn:doc:{doc_id}>"
                date = f"2024-01-{1 + doc_id % 28:02d}T00:00:00Z"
                if arm == 14:
                    members.append(W.gzip_member(b"NOT WARC \xff junk"))
                    continue
                if arm == 15:
                    members.append(
                        W.gzip_member(
                            W.build_record(
                                rid, "request",
                                b"GET / HTTP/1.1\r\n\r\n",
                                target_uri="https://h/x",
                                warc_date=date,
                                content_type=(
                                    "application/http; msgtype=request"
                                ),
                            )
                        )
                    )
                    continue
                if arm == 12:
                    content = W.build_http_response(
                        b"<html><body>not found</body></html>", status=404
                    )
                    uri = f"https://site{doc_id % 7}.example.com/gone/{doc_id}"
                elif arm == 13:
                    content = W.build_http_response(b"cut")
                    uri = f"https://site{doc_id % 7}.example.com/doc/{doc_id}"
                elif arm == 11:
                    src = doc_id - 2
                    body = (
                        f"<html><head><title>D{src}</title></head>"
                        f"<body><p>{p2}</p></body></html>"
                    ).encode()
                    content = W.build_http_response(body)
                    uri = (
                        f"https://site{src % 7}.example.com/doc/{src}"
                        f"/?utm_source=recrawl&id={src}"
                    )
                elif arm == 10:
                    src = doc_id - 1
                    body = (
                        f"<html><head><title>D{src}</title></head>"
                        f"<body><p>{p1}</p></body></html>"
                    ).encode()
                    content = W.build_http_response(body)
                    uri = f"https://mirror.example.com/doc/{src}"
                else:
                    body = (
                        f"<html><head><title>D{doc_id}</title></head>"
                        f"<body><p>{text}</p></body></html>"
                    ).encode()
                    content = W.build_http_response(body)
                    uri = (
                        f"https://Site{doc_id % 7}.example.COM/doc/{doc_id}"
                        f"/?utm_source=feed&utm_medium=rss&id={doc_id}"
                    )
                if arm == 13:
                    rec = W.build_record(
                        rid, "response", content,
                        target_uri=uri, warc_date=date,
                        declared_length=len(content) + 50,
                    )[:-4]
                    members.append(W.gzip_member(rec))
                else:
                    members.append(
                        W.gzip_member(
                            W.build_record(
                                rid, "response", content,
                                target_uri=uri, warc_date=date,
                            )
                        )
                    )
            if members:
                W.write_warc(
                    f"{out_dir}/part-{int(pdf['doc_id'].min())}.warc.gz",
                    members,
                )
                yield pd.DataFrame({"n": [len(members)]})

    staged.repartition(8, "doc_id").mapInPandas(
        write_batches, "n bigint"
    ).collect()

    raw = read_warc(spark, out_dir + "/*.warc.gz")
    resp = raw.filter(
        (F.col("verdict") == "ok") & (F.col("http_status") == 200)
    )
    clean = F.trim(html_to_text(F.col("payload").cast("string")))
    ext = resp.select(
        F.regexp_extract("record_id", r"urn:doc:(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        canonical_url(F.col("target_uri")).alias("canon_url"),
        clean.alias("text"),
    )
    # narrow per-doc features BEFORE any shuffle: bodies never cross
    # an exchange — only (ids, url, lang, stats, fp) do
    feat = ext.select(
        "doc_id",
        "canon_url",
        T.lang_id_ngram(F.col("text")).alias("lang_pred"),
        T.gopher_repetition_stats("text").alias("s"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.md5(F.col("text")).alias("fp"),
    ).select(
        "doc_id", "canon_url", "lang_pred", "n_chars", "fp",
        (
            (F.col("s.dup_word_frac") <= 0.70)
            & (F.col("s.top_2gram_char_frac") <= 0.20)
            & (F.col("s.dup_3gram_char_frac") <= 0.18)
        ).alias("keep"),
    )
    w_url = Window.partitionBy("canon_url").orderBy("doc_id")
    w_txt = Window.partitionBy("fp").orderBy("doc_id")
    out = (
        feat.withColumn("rn", F.row_number().over(w_url))
        .filter("rn = 1")
        .withColumn("rn2", F.row_number().over(w_txt))
        .filter("rn2 = 1")
        .filter("keep")
    )
    return out.select("doc_id", "canon_url", "lang_pred", "n_chars", _split())


def _web_oracle() -> str:
    """DuckDB twin of q_pipeline_web, composed from the SAME pattern
    tables the Spark side executes (html_to_text_sql,
    canonical_url_sql — the functions/html.py doctrine) plus the
    langid/Gopher/split closed forms their stage queries already
    pin."""
    from ..functions.html import html_to_text_sql
    from ..functions.urls import canonical_url_sql
    from .corpus_ops import _SPLIT_SQL

    ext_text = html_to_text_sql("html")
    canon = canonical_url_sql("raw_url")
    return rf"""
    WITH base AS (
      SELECT doc_id, text, doc_id % 16 AS arm FROM documents
    ),
    src AS (
      SELECT b.doc_id, b.arm,
             CASE WHEN b.arm = 10 THEN b.doc_id - 1
                  WHEN b.arm = 11 THEN b.doc_id - 2
                  ELSE b.doc_id END AS src_id,
             CASE WHEN b.arm = 10 THEN p1.text
                  WHEN b.arm = 11 THEN p2.text
                  ELSE b.text END AS btext
      FROM base b
      LEFT JOIN base p1 ON p1.doc_id = b.doc_id - 1
      LEFT JOIN base p2 ON p2.doc_id = b.doc_id - 2
      WHERE b.arm NOT IN (12, 13, 14, 15)
    ),
    web AS (
      SELECT doc_id,
             '<html><head><title>D' || CAST(src_id AS VARCHAR)
               || '</title></head><body><p>' || btext
               || '</p></body></html>' AS html,
             CASE WHEN arm = 10
                  THEN 'https://mirror.example.com/doc/'
                       || CAST(doc_id - 1 AS VARCHAR)
                  WHEN arm = 11
                  THEN 'https://site' || CAST(src_id % 7 AS VARCHAR)
                       || '.example.com/doc/' || CAST(src_id AS VARCHAR)
                       || '/?utm_source=recrawl&id=' || CAST(src_id AS VARCHAR)
                  ELSE 'https://Site' || CAST(doc_id % 7 AS VARCHAR)
                       || '.example.COM/doc/' || CAST(doc_id AS VARCHAR)
                       || '/?utm_source=feed&utm_medium=rss&id='
                       || CAST(doc_id AS VARCHAR) END AS raw_url
      FROM src
    ),
    ext AS (
      SELECT doc_id, {canon} AS canon_url, {ext_text} AS text
      FROM web
    ),
    url1 AS (
      SELECT doc_id, canon_url, text FROM (
        SELECT *, row_number() OVER (
          PARTITION BY canon_url ORDER BY doc_id) AS rn FROM ext
      ) WHERE rn = 1
    ),
    txt1 AS (
      SELECT doc_id, canon_url, text FROM (
        SELECT *, row_number() OVER (
          PARTITION BY text ORDER BY doc_id) AS rn FROM url1
      ) WHERE rn = 1
    ),
    lang AS (
      SELECT doc_id,
             len(list_filter(grams, x -> list_contains(['der','ein','sch','und','ich'], x))) AS s_de,
             len(list_filter(grams, x -> list_contains(['the',' th','he ','ing','and'], x))) AS s_en,
             len(list_filter(grams, x -> list_contains(['los','de ','que','ión','ent'], x))) AS s_es,
             len(list_filter(grams, x -> list_contains(['les','de ','ent','une','est'], x))) AS s_fr
      FROM (
        SELECT doc_id,
               list_distinct(list_transform(
                 range(1, greatest(length(lower(text)) - 2, 0) + 1),
                 i -> substring(lower(text), CAST(i AS INT), 3)
               )) AS grams
        FROM txt1
      )
    ),
    goph AS (
      SELECT doc_id,
             1.0 - n_distinct / greatest(n_toks, 1) AS dup_word_frac,
             coalesce(list_max(list_transform(list_distinct(g2),
                 g -> len(list_filter(g2, x -> x = g)) * (length(g) - 1))), 0)
               / greatest(total_chars, 1) AS top_2gram_char_frac,
             coalesce(list_sum(list_transform(list_distinct(g3),
                 g -> CASE WHEN len(list_filter(g3, x -> x = g)) > 1
                      THEN len(list_filter(g3, x -> x = g)) * (length(g) - 2)
                      ELSE 0 END)), 0)
               / greatest(total_chars, 1) AS dup_3gram_char_frac
      FROM (
        SELECT doc_id,
               CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(range(1, len(toks)),
                           i -> concat(toks[i], ' ', toks[i+1])) END AS g2,
               CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(range(1, len(toks) - 1),
                           i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) END AS g3,
               list_sum(list_transform(toks, x -> length(x))) AS total_chars,
               len(toks) AS n_toks,
               len(list_distinct(toks)) AS n_distinct
        FROM (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM txt1
        )
      )
    )
    SELECT t.doc_id, t.canon_url,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) IS NULL
                  OR greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'en'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred,
           CAST(length(t.text) AS BIGINT) AS n_chars,
           {_SPLIT_SQL} AS split
    FROM txt1 t
    JOIN lang USING (doc_id)
    JOIN goph USING (doc_id)
    WHERE dup_word_frac <= 0.70 AND top_2gram_char_frac <= 0.20
      AND dup_3gram_char_frac <= 0.18
    """


from . import ORACLES as _ORACLES  # noqa: E402

_ORACLES["q_pipeline_web"] = _web_oracle()
