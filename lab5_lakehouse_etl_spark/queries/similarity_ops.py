"""Similarity-search declared queries over `embeddings` (SURVEY §2.10).

Brute-force cosine top-k carries a DuckDB oracle (explicit double
dot-product on both sides, rounded to 4 — both engines fold the list
sequentially, so agreement holds far past 4 decimals). The approximate
operators (LSH/IVF/PQ) are deterministic but hash-seeded, so their
declared outputs are SQL-stateable invariants instead: exact-result
checksums the oracle recomputes plus the operator's accuracy guarantee
(precision / recall floor) as a boolean the oracle states as TRUE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import similarity as S
from ..session import cluster_for_write, load_table
from . import query

_K = 10


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    """The query point is embeddings[vec_id=0] — a parameter literal,
    fetched once driver-side (one row, not a distributed collect)."""
    row = (
        load_table(spark, sf_dir, "embeddings")
        .filter("vec_id = 0")
        .select("embedding")
        .first()
    )
    return [float(x) for x in row[0]]


@query(
    "q_topk_similarity",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT e.vec_id,
             round(
               list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv)
               / (sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                  * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine_sim
      FROM embeddings e, q
    )
    SELECT vec_id, cosine_sim FROM scored
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT {_K}
    """,
)
def q_topk_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k vs the vec_id=0 query vector —
    one narrow scan + TakeOrderedAndProject; the ANN baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.topk_cosine(emb, _query_vec(spark, sf_dir), k=_K)


@query(
    "q_ann_lsh",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.e, b.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(b.e, b.e))), 4) AS c
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
           TRUE AS precision_ok
    FROM pairs WHERE c >= 0.5
    """,
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-neighbor pairs (12 planes, seed 42)
    with exact cosine re-rank inside buckets — the scale path that
    avoids the all-pairs join.

    The LSH pair set is seed-defined (recall is probabilistic by
    design), so the declared output is the SQL-stateable invariant:
    the brute-force count of TRUE cosine-≥0.5 pairs (which the DuckDB
    oracle recomputes all-pairs — fine at fixture scale, exactly what
    LSH exists to avoid at corpus scale) plus the operator's hard
    precision guarantee as a boolean — every pair LSH returns IS a
    true pair with its exact cosine (the in-bucket re-rank computes
    true cosine; tests/test_ann_recall.py pins the same subset
    property). exact_pairs_blocked at threshold 0.4999 absorbs the
    round-to-4 boundary so a pair whose cosine rounds UP to 0.5000
    still finds its exact twin."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    lsh = S.ann_pairs_lsh(emb, n_planes=12, seed=42, min_cosine=0.5)
    exact = S.exact_pairs_blocked(emb, threshold=0.4999).select(
        "id_a", "id_b", F.col("cosine_sim").alias("__exact_cos")
    )
    n_true = (
        exact.filter(F.col("__exact_cos") >= 0.5)
        .agg(F.count(F.lit(1)).alias("n_true_pairs"))
    )
    prec = (
        lsh.join(exact, ["id_a", "id_b"], "left")
        .agg(
            F.coalesce(
                F.bool_and(
                    F.col("__exact_cos").isNotNull()
                    & (F.col("__exact_cos") == F.col("cosine_sim"))
                ),
                F.lit(True),  # empty LSH result: vacuously precise
            ).alias("precision_ok")
        )
    )
    return n_true.crossJoin(prec)


#: recall floors for the approximate top-k invariants, from
#: tests/test_ann_recall.py: IVF's adaptive budget clears 5/10 on the
#: isotropic fixture (measured 8/10 at sf0.01); PQ's 10× shortlist +
#: exact re-rank clears 6/10 per planted query.
_IVF_RECALL_FLOOR = 5
_PQ_RECALL_FLOOR = 6


@query(
    "q_ann_ivf",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT e.vec_id,
             round(
               list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv)
               / (sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                  * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine_sim
      FROM embeddings e, q
      ORDER BY cosine_sim DESC, e.vec_id ASC
      LIMIT {_K}
    )
    SELECT CAST({_K} AS BIGINT) AS k,
           CAST(sum(vec_id) AS BIGINT) AS sum_topk_ids,
           round(sum(cosine_sim), 4) AS sum_topk_cos,
           TRUE AS recall_ok
    FROM scored
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style top-k: multi-probe LSH cells around the query's cell,
    exact scan only inside probed cells, probe radius chosen adaptively
    by candidate budget (see functions/similarity.ivf_topk — clustered
    corpora stay narrow, the fixture's isotropic vectors widen).

    Which k ids the probe surfaces is index-defined, so the declared
    output is the SQL-stateable invariant: checksums of the EXACT
    brute-force top-k (id sum + rounded cosine sum, both restated by
    the oracle) plus the operator's recall guarantee as a boolean —
    |IVF∩exact| ≥ _IVF_RECALL_FLOOR (5) of 10 on the isotropic
    worst-case fixture (measured 8/10 at sf0.01; clustered corpora
    recall 1.0 — both pinned in tests/test_ann_recall.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    exact = S.topk_cosine(emb, qv, k=_K)
    # candidate budget 64×k: isotropic vectors (the fixture) spread
    # true neighbors across many Hamming cells, so the declared query
    # doubles the default 32×k budget — recall 10/10 at sf0.001/0.01
    # and 6/10 at sf0.1, all above the floor; on clustered (real)
    # embeddings the adaptive probe stops far earlier anyway
    ivf_ids = S.ivf_topk(
        emb, qv, k=_K, n_planes=8, min_candidates_factor=64
    ).select("vec_id")
    sums = exact.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("vec_id").cast("bigint").alias("sum_topk_ids"),
        F.round(F.sum("cosine_sim"), 4).alias("sum_topk_cos"),
    )
    overlap = (
        exact.select("vec_id")
        .join(ivf_ids, "vec_id", "left_semi")
        .agg((F.count(F.lit(1)) >= _IVF_RECALL_FLOOR).alias("recall_ok"))
    )
    return sums.crossJoin(overlap)


@query(
    "q_semantic_search",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT e.vec_id,
             round(
               list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv)
               / (sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                  * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine_sim
      FROM embeddings e, q
      ORDER BY cosine_sim DESC, e.vec_id ASC
      LIMIT {_K}
    )
    SELECT s.vec_id AS doc_id, s.cosine_sim, d.lang, d.source,
           CAST(d.n_chars AS BIGINT) AS n_chars
    FROM scored s JOIN documents d ON d.doc_id = s.vec_id
    """,
)
def q_semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval composite (the RAG read path): exact top-k cosine over
    the embedding store, then hydrate the hits from the documents
    table. The 10-row hit list is the broadcast side of the hydration
    join — the fact-sized documents table never shuffles. At 100 TB the
    only change is swapping the brute-force scorer for the IVF/LSH
    operators declared above; the hydration join shape is identical."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    hits = S.topk_cosine(emb, _query_vec(spark, sf_dir), k=_K)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.col("n_chars").cast("bigint").alias("n_chars")
    )
    return docs.join(
        F.broadcast(hits), docs.doc_id == hits.vec_id
    ).select("doc_id", "cosine_sim", "lang", "source", "n_chars")


#: RRF rank-smoothing constant (the k=60 of Cormack et al. 2009).
_RRF_K = 60


@query(
    "q_hybrid_search",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 0
    ),
    sem AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (ORDER BY cosine_sim DESC, vec_id ASC) AS rnk
      FROM (
        SELECT e.vec_id,
               round(
                 list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv)
                 / (sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                          list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                    * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine_sim
        FROM embeddings e, q
        ORDER BY cosine_sim DESC, e.vec_id ASC
        LIMIT 20
      )
    ),
    d AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS dl,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
    tf AS (
      SELECT doc_id, dl, term, count(*) AS tf
      FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
      WHERE term IN ('scan', 'merge', 'window')
      GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    bm AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rnk
      FROM (
        SELECT tf.doc_id,
               round(sum(
                 ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))
               ), 4) AS bm25
        FROM tf CROSS JOIN stats JOIN dfreq ON tf.term = dfreq.term
        GROUP BY tf.doc_id
        ORDER BY bm25 DESC, tf.doc_id ASC
        LIMIT 20
      )
    )
    SELECT coalesce(sem.doc_id, bm.doc_id) AS doc_id,
           round(coalesce(1.0 / ({_RRF_K} + sem.rnk), 0)
                 + coalesce(1.0 / ({_RRF_K} + bm.rnk), 0), 6) AS rrf,
           CAST(coalesce(sem.rnk, 0) AS BIGINT) AS sem_rank,
           CAST(coalesce(bm.rnk, 0) AS BIGINT) AS bm25_rank
    FROM sem FULL OUTER JOIN bm ON sem.doc_id = bm.doc_id
    ORDER BY rrf DESC, doc_id ASC
    LIMIT 10
    """,
)
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.
    2009, the default fusion in modern RAG stacks): the dense ranking
    (exact cosine top-20, `q_semantic_search`'s scorer) and the lexical
    ranking (Okapi BM25 top-20, `q_keyword_search`'s scorer) are fused
    by RRF(d) = Σ 1/(60 + rank_list(d)), absent-from-list contributes
    0. Returns the fused top-10 with both source ranks (0 = unranked).

    Scale shape: both input rankings end in TakeOrderedAndProject, so
    each is a 20-row relation regardless of corpus size; the fusion
    full-outer join and the final sort run on ≤40 rows driver-adjacent
    (broadcast), never touching the fact tables again. Ranks come from
    row_number over ROUNDED scores with id tie-breaks, so both engines
    rank identically.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .text_ops import _bm25_top20

    emb = load_table(spark, sf_dir, "embeddings")
    sem = (
        S.topk_cosine(emb, _query_vec(spark, sf_dir), k=20)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
            ),
        )
        .select(F.col("vec_id").alias("doc_id"), F.col("rnk").alias("sem_rnk"))
    )
    bm = (
        _bm25_top20(spark, sf_dir)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            ),
        )
        .select("doc_id", F.col("rnk").alias("bm_rnk"))
    )
    fused = sem.join(bm, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("sem_rnk")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("bm_rnk")), F.lit(0.0)),
            6,
        ).alias("rrf"),
        F.coalesce(F.col("sem_rnk"), F.lit(0)).cast("bigint").alias("sem_rank"),
        F.coalesce(F.col("bm_rnk"), F.lit(0)).cast("bigint").alias("bm25_rank"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(10)


@query(
    "q_embed_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), s AS (
      SELECT vec_id, v,
             CASE WHEN amax = 0 THEN CAST(1 AS DOUBLE)
                  ELSE amax / 127.0 END AS scale
      FROM (SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS amax
            FROM v)
    )
    SELECT vec_id,
           round(scale, 6) AS scale,
           CAST(list_sum(list_transform(v, x -> CAST(round(x / scale) AS BIGINT)))
                AS BIGINT) AS q_sum,
           round(list_max(list_transform(v, x -> abs(round(x / scale) * scale - x))),
                 6) AS max_err
    FROM s
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization — the storage/serving
    compression step of an embedding pipeline (4× smaller than fp32,
    8× than fp64). Per row: scale = max|v| / 127, q_i = round(v_i /
    scale) ∈ [-127, 127]; returns the per-vector scale, the quantized
    checksum (sum of q_i), and the max reconstruction error (bounded by
    scale/2 by construction). Pure row-local higher-order expressions —
    zero shuffles, embarrassingly parallel at any corpus size; the
    zero-vector guard (scale := 1) keeps the arithmetic ANSI-safe.
    Engine-portable determinism: both engines compute on doubles cast
    from the same float32 inputs with round-half-away-from-zero."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v")
    )
    s = v.withColumn(
        "amax", F.array_max(F.expr("transform(v, x -> abs(x))"))
    ).withColumn(
        "scale",
        F.when(F.col("amax") == 0, F.lit(1.0)).otherwise(F.col("amax") / F.lit(127.0)),
    )
    return s.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.expr(
            "CAST(aggregate(transform(v, x -> CAST(round(x / scale) AS BIGINT)),"
            " CAST(0 AS BIGINT), (a, x) -> a + x) AS BIGINT)"
        ).alias("q_sum"),
        F.round(
            F.expr("array_max(transform(v, x -> abs(round(x / scale) * scale - x)))"),
            6,
        ).alias("max_err"),
    )


from ..functions import clustering as KM  # noqa: E402


@query("q_kmeans_embed", oracle=KM.kmeans_oracle_sql(k=8, iters=5, dim=64))
def q_kmeans_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (Lloyd's, k=8, 5 fixed update rounds, deterministic
    lowest-vec_id init) over the embedding store — the semantic-
    clustering primitive for SemDeDup-style dedup and cluster-balanced
    corpus sampling (arXiv:2303.09540). Returns the per-vector cluster
    assignment under the final centroids.

    Iterative-Spark shape mirrors q_pagerank: broadcast-literal
    centroids (narrow assignment), map-side partial sums into one tiny
    k x dim shuffle per round, centroids rounded each round so the
    unrolled-CTE DuckDB oracle tracks the identical trajectory — see
    functions/clustering.py for the full scale/parity argument.

    ``dedup_ids=False`` in all three kmeans-family queries: the
    embeddings table is a keyed store (vec_id unique — pinned by
    tests/test_clustering.py::test_fixture_vec_ids_unique), so the
    final assignment stays the zero-shuffle narrow map; with unique
    ids the dedup window is a per-id no-op and both settings produce
    identical (oracle-matched) rows.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return KM.kmeans_fit_assign(emb, k=8, iters=5, dedup_ids=False)


@query(
    "q_semdedup",
    oracle=KM.semdedup_oracle_sql(k=8, iters=5, dim=64, threshold=0.35),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540): cluster the embedding store with
    k-means, then drop within-cluster cosine near-dups, keeping the
    lowest vec_id of each near-dup pair. Threshold 0.35 for the same
    reason as q_dedup_embedding (fixture max pairwise cosine ~0.51, so
    the verified set is non-trivial).

    Scale shape: assignment is a narrow map; the quadratic pairwise
    step is partitioned BY CLUSTER (applyInPandas, one vectorized
    numpy matmul per cluster — functions/clustering.py
    semantic_pairs_within_clusters), so no global all-pairs work ever
    materializes; the verdict join is an id-only broadcast.
    """
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = KM.kmeans_fit_assign(emb, k=8, iters=5, dedup_ids=False)
    v = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    pairs = KM.semantic_pairs_within_clusters(
        v.join(assigned, "vec_id"), threshold=0.35
    )
    dropped = (
        pairs.select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("dup", F.lit(True))
    )
    return assigned.join(F.broadcast(dropped), "vec_id", "left").select(
        "vec_id", "cluster", F.col("dup").isNull().alias("keep")
    )


@query(
    "q_cluster_sample",
    oracle=KM.cluster_sample_oracle_sql(k=8, iters=5, dim=64, per_cluster=32),
)
def q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced prototypicality sampling: keep the 32 vectors
    closest to their final k-means centroid in each cluster (the
    "SSL prototypes" / cluster-balanced curation pattern — sample
    uniformly across semantic clusters instead of uniformly across the
    corpus, arXiv:2303.09540 §5).

    Distances round to 6 decimals BEFORE the per-cluster rank (ties
    then break on vec_id), so the ranking is stable across engines and
    runs; the rank itself is one window over data already partitioned
    by cluster — a single skew-free shuffle.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = KM.kmeans_fit_assign(
        emb, k=8, iters=5, with_dist=True, dedup_ids=False
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        assigned.withColumn("proto_rank", F.row_number().over(w))
        .filter(F.col("proto_rank") <= 32)
        .select("vec_id", "cluster", "proto_rank")
    )


@query(
    "q_arrow_l2norm",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_dot_product(
             list_transform(embedding, x -> CAST(x AS DOUBLE)),
             list_transform(embedding, x -> CAST(x AS DOUBLE)))), 4) AS l2_norm
    FROM embeddings
    """,
)
def q_arrow_l2norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` surface (§2.8): per-vector L2 norm computed
    directly on Arrow RecordBatches — no pandas conversion layer at
    all, the lowest-overhead Python escape hatch Spark offers (the
    list column arrives as one contiguous values buffer + offsets, and
    numpy reshapes it zero-copy because the fixture vectors are
    fixed-length). Output is row-local and batch-size-independent, so
    unlike most Python-UDF ops this one is ORACLE-pAIRED: norms are
    rounded to 4 decimals and hash-compared against DuckDB.

    The norm itself could of course be a JVM expression
    (`aggregate(transform(...))` — q_embed_quantize does exactly
    that); this query exists to pin the mapInArrow batch contract the
    multimodal/matmul operators rely on, with a differential oracle
    instead of a smoke test."""
    import numpy as np
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def batches(it):
        for batch in it:
            ids = batch.column("vec_id")
            col = batch.column("embedding")
            arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
            values = np.asarray(arr.values, dtype=np.float64)
            offsets = np.asarray(arr.offsets)
            lens = np.diff(offsets)
            if len(lens) and (lens == lens[0]).all():
                # fixed-length vectors: zero-copy reshape + one matmul-
                # free vectorized reduction over the whole batch
                norms = np.sqrt(
                    (values.reshape(len(lens), lens[0]) ** 2).sum(axis=1)
                )
            else:  # ragged fallback: segment-reduce via cumsum
                csq = np.concatenate([[0.0], np.cumsum(values**2)])
                norms = np.sqrt(csq[offsets[1:]] - csq[offsets[:-1]])
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(np.round(norms, 4), pa.float64())],
                ["vec_id", "l2_norm"],
            )

    return emb.mapInArrow(batches, "vec_id long, l2_norm double")


@query(
    "q_ann_pq",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT e.vec_id,
             round(
               list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                list_transform(e.embedding, x -> CAST(x AS DOUBLE)))
               - 2 * list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv)
               + list_dot_product(q.qv, q.qv), 6) AS dist
      FROM embeddings e, q
      ORDER BY dist ASC, e.vec_id ASC
      LIMIT {_K}
    )
    SELECT CAST({_K} AS BIGINT) AS k,
           CAST(sum(vec_id) AS BIGINT) AS sum_topk_ids,
           round(sum(dist), 4) AS sum_topk_dist,
           TRUE AS recall_ok
    FROM scored
    """,
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (functions/similarity.pq_*): train
    per-subspace codebooks (m=8 subspaces x 16 centroids, deterministic
    Lloyd's like q_kmeans_embed), compress every vector to 8 one-byte
    codes (32x smaller than float32 — the memory trade that keeps a
    billion-vector index in RAM), then answer top-10 by ADC shortlist
    (distance-table lookups over the codes, no float reads) + exact
    re-rank of the 100-candidate shortlist.  IVF (q_ann_ivf) cuts how
    many vectors a query SCANS; PQ cuts how many bytes each vector
    COSTS — production indexes (IVF-PQ) compose both.

    The shortlist is codebook-defined, so the declared output is the
    SQL-stateable invariant: checksums of the EXACT squared-L2 top-k
    (id sum + rounded distance sum, restated by the oracle via the
    ‖a‖² − 2a·q + ‖q‖² expansion) plus the recall guarantee as a
    boolean — |PQ∩exact| ≥ _PQ_RECALL_FLOOR (6) of 10
    (tests/test_ann_recall.py pins ≥6/10 per planted query, mean
    ≥7.5)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    books = S.pq_train(emb, m=8, k=16, iters=5)
    codes = S.pq_encode(emb, books)
    got = S.pq_search(codes, emb, books, qv, k=_K).select("vec_id")
    # same ‖a‖² − 2a·q + ‖q‖² expansion as the oracle: both engines
    # fold each dot product sequentially, so the rounded values agree
    # bit-for-bit (the elementwise Σ(a−b)² form sums in a different
    # order and can flip the 6th decimal)
    q = F.array(*[F.lit(float(x)) for x in qv])
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q_sq = float(sum(float(x) * float(x) for x in qv))
    d = S.dot(v, v) - 2 * S.dot(v, q) + F.lit(q_sq)
    exact = (
        emb.select("vec_id", F.round(d, 6).alias("dist"))
        .orderBy("dist", "vec_id")
        .limit(_K)
    )
    sums = exact.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("vec_id").cast("bigint").alias("sum_topk_ids"),
        F.round(F.sum("dist"), 4).alias("sum_topk_dist"),
    )
    overlap = (
        exact.select("vec_id")
        .join(got, "vec_id", "left_semi")
        .agg((F.count(F.lit(1)) >= _PQ_RECALL_FLOOR).alias("recall_ok"))
    )
    return sums.crossJoin(overlap)


@query(
    "q_knn_graph",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ),
    p AS (
      SELECT a.vec_id AS src, b.vec_id AS nbr,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS sim
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
    )
    SELECT src, nbr, CAST(rn AS INT) AS knn_rank, sim
    FROM (SELECT src, nbr, sim,
                 row_number() OVER (
                   PARTITION BY src ORDER BY sim DESC, nbr ASC) AS rn
          FROM p)
    WHERE rn <= 5
    """,
)
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide 5-NN graph by cosine — every vector's five
    nearest neighbors, the primitive graph-based curation pipelines
    (SemDeDup variants, kNN-graph community detection, diversity
    sampling) build before any clustering step.  The oracle is the
    naive O(n²) self-join; the implementation is the blocked
    partial-top-k kernel (functions/similarity.py knn_graph): B(B+1)/2
    matmul tasks emit per-block local top-k candidates only, so the
    merge shuffle carries ~n*B*k rows instead of n² — the layout that
    survives 100 TB, where the oracle's self-join does not.  Every
    emitted sim is re-computed with the sequential dim fold, and the
    global rank orders by (rounded sim DESC, nbr ASC) in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.knn_graph(emb, k=5)


@query(
    "q_decontaminate_semantic",
    oracle="""
    WITH v AS (
      SELECT vec_id, (vec_id * 2654435761) % 100 AS m,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )
    SELECT a.vec_id AS train_vec_id, b.vec_id AS heldout_vec_id,
           round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))), 4) AS cosine_sim
    FROM v a JOIN v b ON a.m < 80 AND b.m >= 90
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(b.e, b.e))) >= 0.35
    """,
)
def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space complement of
    q_decontaminate's verbatim n-gram probe: every (training vector,
    held-out vector) pair with cosine ≥ 0.35, catching paraphrased /
    reworded benchmark leakage that shares no 5-gram (the check teams
    run alongside n-gram decontamination since the GPT-4/Llama
    contamination reports).  Same deterministic hash split as the
    document-side split: <80 train, ≥90 held-out.

    Scale shape (functions/similarity.cross_pairs_blocked): the
    held-out side is orders of magnitude smaller by contract, so it
    collects to ONE matrix block and BROADCASTS; the corpus side hashes
    into B blocks, each task one numpy matmul of its block against the
    held-out matrix — the corpus is never shuffled beyond its own
    blocking and never self-joined.  The oracle is the naive cross
    join (fine at fixture scale, exactly what the blocked kernel
    avoids at 100 TB).  Candidates scan at threshold−1e-9; the
    declared cosine re-computes with the sequential fold, so BLAS
    summation order can't flip boundary membership between engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    m = F.pmod(F.col("vec_id") * F.lit(2654435761), F.lit(100))
    train = emb.filter(m < 80).select("vec_id", "embedding")
    heldout = emb.filter(m >= 90).select("vec_id", "embedding")
    pairs = S.cross_pairs_blocked(train, heldout, threshold=0.35)
    return pairs.select(
        F.col("id_a").alias("train_vec_id"),
        F.col("id_b").alias("heldout_vec_id"),
        "cosine_sim",
    )


@query(
    "q_ann_index_store",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT e.vec_id,
             round(
               list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv)
               / (sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                  * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine_sim
      FROM embeddings e, q
      ORDER BY cosine_sim DESC, e.vec_id ASC
      LIMIT {_K}
    )
    SELECT CAST({_K} AS BIGINT) AS k,
           CAST(sum(vec_id) AS BIGINT) AS sum_topk_ids,
           round(sum(cosine_sim), 4) AS sum_topk_cos,
           TRUE AS recall_ok
    FROM scored
    """,
)
def q_ann_index_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted ANN index — the index-store pattern completing the
    IVF family (the vector twin of the HLL sketch store): the corpus
    is bucketed ONCE into LSH cells and written as a LakeTable
    PARTITIONED BY CELL; a later search session reads the table back,
    picks probe cells adaptively from the cell histogram, and the
    cell filter prunes every unprobed partition's files at the scan —
    at 100 TB a query touches the probed cells' files only, never the
    corpus.  Search semantics are identical to q_ann_ivf (same
    hyperplanes, same adaptive budget — functions/similarity.
    ivf_search_bucketed); what changed is that bucketing cost is paid
    at INDEX BUILD, amortized across every subsequent query.

    Declared output is q_ann_ivf's invariant: exact brute-force top-k
    checksums (oracle-restated) plus the recall floor boolean over the
    stored-index probe.

    Bench cost is BUILD-dominated by design: the 2^8-partition table
    create (staged write + per-file stats + manifest commit) measures
    ~4.5 s at sf0.1 vs ~1.9 s for the search leg — machinery a real
    deployment pays once and amortizes over every query, the same
    declared-side-effect accounting as q_merge_upsert.  The build
    repartitions by cell first so each partition is written by one
    task — one file per cell, the standard small-files discipline for
    partitioned index stores."""
    from ..lakehouse import LakeTable
    from ..session import scratch_dir

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    planes = S.hyperplanes(len(qv), n_planes=8, seed=42)
    indexed = cluster_for_write(
        emb.withColumn("cell", S.lsh_bucket("embedding", planes)), "cell"
    )
    path = scratch_dir("q_ann_index_store", fresh=True) + "/ivf_index"
    t = LakeTable.create(indexed, path, partition_by=["cell"])
    stored = t.read(spark)
    # probe planning from manifest metadata: per-cell row counts fold
    # from each file's [v, v] partition stats + footer row count —
    # zero Spark jobs where the generic path pays a group-by (the
    # distributed fallback stays for non-LakeTable relations and is
    # histogram-identical, tests/test_lakehouse.py)
    got = S.ivf_search_bucketed(
        stored, qv, k=_K, n_planes=8, seed=42, min_candidates_factor=64,
        hist=t.partition_histogram("cell"),
    ).select("vec_id")
    # exact is referenced twice (checksum agg + recall overlap) and
    # NOT cached, by measured A/B (r16): the duplicated top-k subtrees
    # run concurrently inside the one action, while a cache barrier
    # rewrites TakeOrderedAndProject into a materialized global sort
    # and serializes the legs — measured 4.10 → 4.92 s (min-of-2 warm
    # profile, sf0.1).
    exact = S.topk_cosine(emb, qv, k=_K)
    sums = exact.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("vec_id").cast("bigint").alias("sum_topk_ids"),
        F.round(F.sum("cosine_sim"), 4).alias("sum_topk_cos"),
    )
    overlap = (
        exact.select("vec_id")
        .join(got, "vec_id", "left_semi")
        .agg((F.count(F.lit(1)) >= _IVF_RECALL_FLOOR).alias("recall_ok"))
    )
    return sums.crossJoin(overlap)


@query(
    "q_ann_index_append",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT e.vec_id,
             round(
               list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv)
               / (sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                  * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine_sim
      FROM embeddings e, q
      ORDER BY cosine_sim DESC, e.vec_id ASC
      LIMIT {_K}
    )
    SELECT CAST({_K} AS BIGINT) AS k,
           CAST(sum(vec_id) AS BIGINT) AS sum_topk_ids,
           round(sum(cosine_sim), 4) AS sum_topk_cos,
           TRUE AS recall_ok,
           TRUE AS found_self
    FROM scored
    """,
)
def q_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL maintenance of the persisted ANN index — the vector
    leg of the index-advance pattern (near-dup: q_dedup_epoch; exact:
    q_ingest_dedup's history anti-join): the base corpus (vec_id % 4
    != 0) is bucketed into the cell-partitioned index ONCE, then a new
    batch (vec_id % 4 == 0) arrives and is added as ONE cell-bucketed
    LakeTable append — an O(batch) commit into the existing partition
    layout, never an index rebuild — and the very next search probes
    base ∪ batch through the updated cell histogram.

    The append is PROVABLY load-bearing, not decorative: the query
    point is embeddings[vec_id=0], which lives in the APPENDED batch —
    its own cell is the first probed (identical vector ⇒ identical LSH
    cell), so ``found_self`` (the probe returned vec 0, cosine 1.0)
    can only be TRUE if the appended files are visible to the probe's
    partition pruning and histogram.  Declared output adds that
    boolean to q_ann_index_store's invariant: exact brute-force top-k
    checksums over the FULL corpus (oracle-restated) + the recall
    floor over the stored-index probe.

    Scale shape: search cost identical to q_ann_index_store (probed
    cells' files only); maintenance cost is one bucketed append per
    ingest batch — the standard production cadence, with periodic
    OPTIMIZE (q_table_optimize_where) compacting hot cells when batch
    files accumulate.  2^7 cells here (vs the store query's 2^8):
    the append pattern is what this query declares, and each commit
    writes one file per touched cell, so cell count is pure machinery
    cost at fixture scale — 128 cells measured 8/10 exact-top-k
    overlap at sf0.1 (floor 5; 2^6 was a zero-margin 5/10) and
    6.4 s min-of-3 vs 8.9 s at 2^8."""
    from ..lakehouse import LakeTable
    from ..session import scratch_dir

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    planes = S.hyperplanes(len(qv), n_planes=7, seed=42)
    cell = S.lsh_bucket("embedding", planes)
    # one bucketed scan feeds BOTH commits: the create and the append
    # otherwise each re-scan the corpus and re-compute the 2^7-plane
    # LSH projection for their slice (within-query intermediate,
    # recomputed every run; 8B id + vector + 8B cell per row)
    bucketed = emb.withColumn("cell", cell).cache()
    base = bucketed.filter(F.col("vec_id") % 4 != 0)
    batch = bucketed.filter(F.col("vec_id") % 4 == 0)
    path = scratch_dir("q_ann_index_append", fresh=True) + "/ivf_index"
    t = LakeTable.create(
        cluster_for_write(base, "cell"),
        path,
        partition_by=["cell"],
    )
    t.append(spark, cluster_for_write(batch, "cell"))
    stored = t.read(spark)
    # got and exact are each referenced twice in the declared plan and
    # NOT cached, by measured A/B (r16): the duplicated subtrees run
    # concurrently inside the one action; cache barriers serialized
    # them and rewrote the top-k legs into materialized global sorts
    # (store leg measured 4.10 → 4.92 s with the cache).
    got = S.ivf_search_bucketed(
        stored, qv, k=_K, n_planes=7, seed=42, min_candidates_factor=64,
        hist=t.partition_histogram("cell"),
    ).select("vec_id")
    exact = S.topk_cosine(emb, qv, k=_K)
    sums = exact.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("vec_id").cast("bigint").alias("sum_topk_ids"),
        F.round(F.sum("cosine_sim"), 4).alias("sum_topk_cos"),
    )
    overlap = (
        exact.select("vec_id")
        .join(got, "vec_id", "left_semi")
        .agg((F.count(F.lit(1)) >= _IVF_RECALL_FLOOR).alias("recall_ok"))
    )
    found_self = got.agg(
        F.max(F.col("vec_id") == F.lit(0)).alias("found_self")
    )
    return sums.crossJoin(overlap).crossJoin(found_self)


#: recall-monitor sample size and alarm floor: mean probe recall over
#: the sampled query points must stay >= this fraction of k (the
#: isotropic fixture measures ~0.7-1.0; a drifted batch concentrating
#: in starved cells drops well below — tests/test_ann_recall.py)
#: 3 probes: each costs an index probe + an exact top-k pass (2 jobs),
#: and the monitor is a periodic health check, not a per-query path —
#: 3 keeps the declared query's bench row ~5 s while still averaging
#: over multiple appended-slice points (5 probes measured 9.1 s)
_MONITOR_PROBES = 3
_MONITOR_FLOOR = 0.4

#: q_ann_recall_monitor cost attribution (r12 verdict next-round #4):
#: wall + job split of the monitor's three phases — index BUILD
#: (create, incl. the one-row dim probe), APPEND (the O(batch) cell
#: commit), and PROBE (histogram + the per-probe IVF-vs-exact
#: overlap — the monitoring cadence work whose per-probe cost must
#: stay O(cell), never O(table)).  bench.py's isolated run copies
#: this into its JSON line; tests/test_plans.py pins the probe job
#: budget, so a real O(table) regression in the probe path is
#: visible as probe-side job/time growth instead of hiding inside
#: host drift (the r12 bench measured a 2.8x whole-query swing on
#: unchanged code — exactly the ambiguity this split removes).
ANN_MONITOR_PHASES: dict[str, float] = {}


def ann_probe_recall(
    spark: SparkSession,
    stored: DataFrame,
    hist,
    corpus: DataFrame,
    probe_ids: list[int],
    k: int = _K,
    n_planes: int = 7,
    seed: int = 42,
    min_candidates_factor: int = 64,
) -> list[tuple[int, float]]:
    """Measured probe recall of a stored cell-partitioned ANN index
    against the exact kernel, per sampled query point: for each probe
    id, |ivf_search_bucketed top-k ∩ brute-force top-k| / k over the
    SAME corpus the index serves.

    This is the drift monitor the append-only index family needs (r10
    verdict #7): appends never re-cluster, so a drifting embedding
    stream concentrates mass into cells the fixed hyperplanes never
    anticipated and recall degrades SILENTLY — this probe makes the
    degradation an observable.  Cost: per probe, one probed-cells scan
    + one exact top-k pass (2 small jobs); a production deployment
    runs it on a monitoring cadence over O(10) probes, not per query,
    and triggers per-cell re-centroiding / index rebuild on alarm."""
    if not probe_ids:
        return []
    out: list[tuple[int, float]] = []
    vec_by_id = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in corpus.filter(F.col("vec_id").isin(probe_ids))
        .select("vec_id", "embedding")
        .collect()
    }
    # ONE union plan over every (probe, side) leg instead of two
    # collects per probe (guide §2.6 — actions were only sequential
    # because this loop called them sequentially): each leg is an
    # independent k-row TakeOrdered subtree, so the union executes
    # them as parallel stages of a single job and the monitor pays one
    # collect total, not 2 × |probes|.  Per-leg ``limit(k)`` applies
    # before the union, so the collected sets are identical to the
    # sequential form's.
    legs = None
    for pid in probe_ids:
        qv = vec_by_id[pid]
        leg_ivf = S.ivf_search_bucketed(
            stored, qv, k=k, n_planes=n_planes, seed=seed,
            min_candidates_factor=min_candidates_factor, hist=hist,
        ).select(
            F.lit(pid).alias("pid"), F.lit("ivf").alias("side"), "vec_id"
        )
        leg_exact = S.topk_cosine(corpus, qv, k=k).select(
            F.lit(pid).alias("pid"), F.lit("exact").alias("side"), "vec_id"
        )
        for leg in (leg_ivf, leg_exact):
            legs = leg if legs is None else legs.unionByName(leg)
    got_by: dict[int, set] = {pid: set() for pid in probe_ids}
    exact_by: dict[int, set] = {pid: set() for pid in probe_ids}
    for r in legs.collect():
        (got_by if r.side == "ivf" else exact_by)[r.pid].add(r.vec_id)
    for pid in probe_ids:
        out.append(
            (pid, len(got_by[pid] & exact_by[pid]) / float(k))
        )
    return out


@query(
    "q_ann_recall_monitor",
    oracle=f"""
    SELECT CAST({_MONITOR_PROBES} AS BIGINT) AS n_probes,
           CAST({_K} AS BIGINT)              AS k,
           CAST({_MONITOR_FLOOR} AS DOUBLE)  AS floor,
           TRUE                              AS recall_ok
    """,
)
def q_ann_recall_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall MONITOR over the appended ANN index (r10 verdict #7):
    rebuild q_ann_index_append's scenario (base corpus indexed, batch
    appended O(batch) into the cell layout), then measure probe recall
    vs the exact kernel for {_MONITOR_PROBES} query points drawn FROM
    THE APPENDED SLICE — the rows most at risk when appends outrun the
    index's cell geometry — and alarm when mean recall falls below the
    floor.

    The IVF result set is index-defined (no SQL twin), so the declared
    output is the monitoring invariant the oracle can state: probe
    count, k, the floor itself, and the alarm boolean — which is a
    REAL computation (ivf-vs-exact overlap per probe), not a constant:
    a starved probe budget or invisible appended files flips it, and
    the synthetic-drift scenario in tests/test_ann_recall.py pins that
    the alarm actually fires on degradation."""
    import time

    from ..lakehouse import LakeTable
    from ..plans import job_count
    from ..session import scratch_dir

    ANN_MONITOR_PHASES.clear()
    t0, j0 = time.monotonic(), job_count(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first().embedding)
    planes = S.hyperplanes(dim, n_planes=7, seed=42)
    cell = S.lsh_bucket("embedding", planes)
    # one bucketed scan feeds BOTH commits (q_ann_index_append's
    # shared-scan argument): create and append otherwise each re-scan
    # the corpus and re-compute the LSH projection for their slice
    bucketed = emb.withColumn("cell", cell).cache()
    base = bucketed.filter(F.col("vec_id") % 4 != 0)
    batch = bucketed.filter(F.col("vec_id") % 4 == 0)
    path = scratch_dir("q_ann_recall_monitor", fresh=True) + "/ivf_index"
    t = LakeTable.create(
        cluster_for_write(base, "cell"),
        path,
        partition_by=["cell"],
    )
    ANN_MONITOR_PHASES["build_sec"] = round(time.monotonic() - t0, 3)
    ANN_MONITOR_PHASES["build_jobs"] = job_count(spark) - j0
    t0, j0 = time.monotonic(), job_count(spark)
    t.append(spark, cluster_for_write(batch, "cell"))
    ANN_MONITOR_PHASES["append_sec"] = round(time.monotonic() - t0, 3)
    ANN_MONITOR_PHASES["append_jobs"] = job_count(spark) - j0
    t0, j0 = time.monotonic(), job_count(spark)
    stored = t.read(spark)
    hist = t.partition_histogram("cell")
    probe_ids = [i * 4 for i in range(_MONITOR_PROBES)]  # appended slice
    recalls = ann_probe_recall(
        spark, stored, hist, emb, probe_ids, k=_K, n_planes=7, seed=42
    )
    mean_recall = sum(r for _, r in recalls) / len(recalls)
    ANN_MONITOR_PHASES["probe_sec"] = round(time.monotonic() - t0, 3)
    ANN_MONITOR_PHASES["probe_jobs"] = job_count(spark) - j0
    return spark.createDataFrame(
        [
            (
                len(recalls),
                _K,
                float(_MONITOR_FLOOR),
                bool(mean_recall >= _MONITOR_FLOOR),
            )
        ],
        "n_probes bigint, k bigint, floor double, recall_ok boolean",
    )
