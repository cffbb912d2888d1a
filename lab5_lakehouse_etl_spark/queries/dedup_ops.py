"""Deduplication declared queries over `documents` (SURVEY §2.10).

Exact dedup carries a DuckDB oracle. MinHash and ngram-Jaccard are
hash-seeded but their VERIFIED pair sets are exact-Jaccard relations a
brute-force DuckDB oracle restates. SimHash measures Hamming distance
(no SQL twin), so its declared output is the SQL-stateable invariant —
true-pair count + recall-floor boolean — with the raw pair set pinned
in tests/test_dedup_golden.py. The exact overlap-coefficient join
(q_dedup_containment) covers the subset/quote-duplicate class every
Jaccard threshold structurally misses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dedup as D
from ..session import cluster_for_write, load_table, spread, table_rows
from . import query


@query(
    "q_dedup_exact_docs",
    oracle=r"""
    WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents)
    SELECT fp,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(count(*)    AS BIGINT) AS n_copies
    FROM fp GROUP BY fp
    """,
)
def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on a content fingerprint: one
    shuffle on the 16-byte hash, never on the document text — the only
    exact-dedup shape that survives 100 TB (min doc_id = survivor)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5("text").alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
    )


_CHAR_SHINGLE_JACCARD_ORACLE = """
WITH sh AS (
  SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 5) AS s
  FROM (SELECT doc_id, text,
               unnest(range(1, greatest(length(text)-4, 1) + 1)) AS i
        FROM documents)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = inter.id_a
           JOIN sizes sb ON sb.doc_id = inter.id_b
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
"""


@query("q_dedup_minhash", oracle=_CHAR_SHINGLE_JACCARD_ORACLE)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs with exact-Jaccard verify
    (threshold 0.5, char 5-shingles, 32 hashes × 8 bands).

    The oracle is the brute-force exact-Jaccard pair set (all-pairs
    shingle self-join in DuckDB — fine at fixture scale, exactly what
    LSH exists to avoid at corpus scale). Hash-equality holds because
    the verify stage is exact and the fixtures' true near-dups sit far
    above the estimate gate (planted dups have J ≥ 0.9; the lab-tier
    8-band × 4-row LSH misses a J=0.9 pair with probability
    ≈ (1-0.9⁴)⁸ < 1e-3), so measured recall is 1.0 at sf0.001/sf0.01 —
    pinned by this oracle and by tests/test_dedup_golden.py pair-level
    equality.

    Banding parameters come from CORPUS STATISTICS since r9
    (functions/dedup.minhash_params — the r8 scale-stress response
    automated): the corpus size comes from PARQUET FOOTER METADATA
    (session.table_rows — zero Spark jobs; the first cut ran a full
    count() action per invocation, an extra corpus scan the plan pins
    never see) and picks (num_hashes, bands) so the S-curve
    sharpens as the corpus grows — every fixture SF stays in the
    32-hash/8-band lab tier (byte-identical candidate sets to r8),
    while the 10x stress corpus resolves to 128×16 (rows-per-band 8,
    6.6x lower collision probability at J=0.5), which is what holds
    candidate volume near-linear at scale.  The recall floor
    (>= 1 - 1e-3 at the planted-dup similarity) is enforced by the
    chooser at BOTH tiers and property-pinned at both parameter
    points (tests/test_properties.py)."""
    docs = load_table(spark, sf_dir, "documents")
    num_hashes, bands = D.minhash_params(table_rows(sf_dir, "documents"))
    cands = D.minhash_candidate_pairs(
        docs, num_hashes=num_hashes, bands=bands
    )
    return D.verified_near_dups(docs, cands, threshold=0.5)


def _ensure_char5_jaccard_truth(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    """Build-once / probe-many EXACT char-5-shingle Jaccard pair
    relation for one fixture corpus (r10 verdict next-round #8): the
    exhaustive exact join is a VERIFICATION artifact consumed by two
    declared queries (q_dedup_jaccard_dense's output, q_dedup_simhash's
    truth set), and recomputing it per run was the two most expensive
    bench rows (7.3 s / 5.5 s at sf0.1).  Persisted via the SHARED
    build-once helper (functions/artifacts.ensure_lake_artifact —
    r12, the r11 self-review's accepted-debt consolidation with
    ensure_gram_index), keyed by md5(sf_dir | threshold | element
    spec) — sf_dir names the read-only fixture CONTENTS, per the
    helper's cache-key contract.  First caller pays the adaptive
    exact-join build (functions/dedup.exact_jaccard_pairs, routed
    dense on this low-entropy corpus); every later caller reads a
    3-column parquet relation.  Values are bit-identical either way:
    (id_a bigint, id_b bigint, jaccard double) round-trips parquet
    exactly."""
    from ..functions.artifacts import ensure_lake_artifact

    return ensure_lake_artifact(
        spark,
        "jaccard_truth",
        f"char5-jaccard|{sf_dir}|t={threshold}",
        lambda: D.exact_jaccard_pairs(
            load_table(spark, sf_dir, "documents"),
            threshold=threshold,
            elements=D.char_shingles("text", 5),
        ),
    )


@query("q_dedup_jaccard_dense", oracle=_CHAR_SHINGLE_JACCARD_ORACLE)
def q_dedup_jaccard_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs char-5-shingle Jaccard >= 0.5 through the
    ADAPTIVE exact-similarity router (functions/dedup.
    exact_jaccard_pairs) — the dense-vocabulary complement to
    q_dedup_prefix's prefix-filter route, declared first-class so the
    routing decision itself is under the differential oracle.

    Why a second exact-Jaccard query: set-similarity joins have two
    cost regimes.  High-entropy element spaces (word n-grams —
    q_dedup_prefix) keep prefix postings short; low-entropy spaces
    (char shingles over a bounded alphabet: ~2k types at sf0.1,
    median df 291) turn every posting hot and prefix filtering emits
    a near-cross-product.  There the right exact kernel is a
    binary-incidence block matmul over the SMALL vocabulary —
    intersection counts are exact 0/1 sums, so the emitted jaccard is
    float64-over-exact-integers, bit-identical to the brute-force SQL
    twin.  The router probes |vocab| with one capped job and picks
    the kernel; both are full-recall and pinned equal
    (tests/test_dedup_backends.py).

    Since r11 the relation is the build-once fixture-keyed truth
    artifact (:func:`_ensure_char5_jaccard_truth`): the first run per
    process executes the router + kernel and persists; later runs
    read the persisted pairs — same values, and the routing decision
    stays under this oracle via the build path."""
    return _ensure_char5_jaccard_truth(spark, sf_dir, threshold=0.5)


#: simhash recall floor over true Jaccard-≥0.5 pairs: Hamming ≤ 6 on
#: 64-bit fingerprints measures a DIFFERENT similarity than Jaccard, so
#: recall of J≥0.5 pairs is structurally < 1 (measured 0.93/1.0/0.93 at
#: sf0.001/0.01/0.1, deterministic per fixture — fixed xxhash64).
_SIMHASH_RECALL_FLOOR = 0.85


@query(
    "q_dedup_simhash",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 5) AS s
      FROM (SELECT doc_id, text,
                   unnest(range(1, greatest(length(text)-4, 1) + 1)) AS i
            FROM documents)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
           TRUE AS recall_ok
    FROM inter JOIN sizes sa ON sa.doc_id = inter.id_a
               JOIN sizes sb ON sb.doc_id = inter.id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection (64-bit fingerprints, chunked LSH
    banding — pigeonhole over max_hamming+1 chunks gives FULL recall of
    the Hamming-≤6 pair set without all-pairs — then exact popcount
    verify).

    SimHash measures Hamming distance, not Jaccard, and its xxhash64
    fingerprints have no DuckDB twin, so the declared output is the
    SQL-stateable invariant: the brute-force count of TRUE near-dup
    pairs (exact char-5-shingle Jaccard ≥ 0.5, the same pair set the
    q_dedup_minhash oracle states) plus the operator's recall floor as
    a boolean — |simhash ∩ true| / |true| ≥ _SIMHASH_RECALL_FLOOR
    (0.85) — which the oracle states as TRUE. Deterministic per
    fixture (fixed seeds); the raw Hamming pair set remains available
    via functions/dedup.simhash_near_dups and is pinned structurally
    in tests/test_dedup_golden.py.

    The Spark-side truth set is an EXHAUSTIVE exact Jaccard join
    (full recall by construction — round-7 advice), NOT minhash
    candidates: deriving truth from minhash banding would silently
    couple this invariant to minhash recall being exactly 1.0 on
    every fixture, and a banding miss would fail here implicating
    simhash instead of the candidate generator.  The adaptive router
    (functions/dedup.exact_jaccard_pairs) picks the dense-vocabulary
    block-matmul kernel on this corpus — the synthetic text has only
    ~2k distinct 5-shingle types, the regime where prefix-filter
    postings are uselessly hot (measured: 42 s vs ~1 s at sf0.1)."""
    docs = load_table(spark, sf_dir, "documents")
    # truth set = the persisted build-once artifact (r11): consumed
    # twice below (count + semi join) as two cheap reads of a 3-column
    # parquet relation instead of two exact-join recomputations
    truth = _ensure_char5_jaccard_truth(spark, sf_dir, threshold=0.5).select(
        "id_a", "id_b"
    )
    found = D.simhash_near_dups(docs, max_hamming=6).select("id_a", "id_b")
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    rec = (
        truth.join(found, ["id_a", "id_b"], "left_semi")
        .agg(F.count(F.lit(1)).alias("__hit"))
        .crossJoin(n_true.select(F.col("n_true_pairs").alias("__n")))
        .select(
            (
                (F.col("__n") == 0)
                | (F.col("__hit") / F.col("__n") >= _SIMHASH_RECALL_FLOOR)
            ).alias("recall_ok")
        )
    )
    return n_true.crossJoin(rec)


@query(
    "q_dedup_embedding",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))), 4) AS cosine_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(b.e, b.e))) >= 0.35
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact and oracle-verified.
    Threshold 0.35: the fixture has no true near-dups (max pairwise
    cosine ≈ 0.51), so it sits where the operator returns a non-trivial
    verified set. Runs through the block-matmul all-pairs operator
    (functions/similarity.exact_pairs_blocked) — a pairwise cosine
    self-join evaluates O(n²) interpreted lambdas (measured ~100 s at
    2000 vectors); block matmul does the same flops vectorized in
    ~B(B+1)/2 balanced tasks. The approximate LSH-bucketed variant is
    declared as q_ann_lsh."""
    from ..functions import similarity as S

    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return S.exact_pairs_blocked(v, threshold=0.35)


_WORD_NGRAM_JACCARD_ORACLE = r"""
WITH sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[CAST(i AS INT):CAST(i AS INT)+2], ' ') AS s
  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t,
               unnest(range(1,
                 greatest(len(string_split_regex(lower(text), '\s+'))-2, 1) + 1
               )) AS i
        FROM documents)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = inter.id_a
           JOIN sizes sb ON sb.doc_id = inter.id_b
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.3
"""


@query("q_dedup_ngram", oracle=_WORD_NGRAM_JACCARD_ORACLE)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs: minhash candidates verified
    against word-ngram sets (threshold 0.3). Oracle = brute-force
    all-pairs word-ngram Jaccard (see q_dedup_minhash's recall note —
    equality pinned at sf0.001/sf0.01)."""
    docs = load_table(spark, sf_dir, "documents")
    # looser estimate gate: word-ngram Jaccard runs lower than char-shingle
    cands = D.minhash_candidate_pairs(docs, est_threshold=0.25)
    return D.verified_near_dups(
        docs, cands, shingle_fn=lambda c: D.word_ngrams(c, 3), threshold=0.3
    )


@query(
    "q_dedup_clusters",
    oracle="""
    WITH RECURSIVE
    edges AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM documents a JOIN documents b
        ON a.lang = b.lang AND a.source = b.source
       AND abs(a.n_chars - b.n_chars) <= 20
       AND a.doc_id <> b.doc_id
    ),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.label < e.dst
    )
    SELECT node AS doc_id, min(label) AS component
    FROM reach GROUP BY node
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a
    similarity-pair graph, canonical survivor = min doc_id per
    component. Pair relations are NOT transitive (A~B and B~C don't
    imply A~C), so grouping by any pair key under-merges; components
    are the correct dedup unit. Edges are the deterministic
    SQL-expressible relation same (lang, source) AND |Δn_chars| ≤ 20.

    Plan shape (r7): this edge relation is an INTERVAL-OVERLAP graph
    per (lang, source) — so its transitive closure is exactly the
    gap-island partition of the sorted band values: a component
    breaks where consecutive n_chars (sorted within the group)
    differ by more than 20.  The whole computation reduces to one
    window pass (lag → cumulative break count) plus a per-island
    min — O(sort) with bounded range-sorts per group at corpus
    scale, instead of the O(diameter) shuffle rounds generic label
    propagation pays (~19 rounds on this graph even with pointer
    jumping, measured r7: the min label must physically traverse
    band hops, so doubling cannot shortcut it).  The generic
    operator stays in functions/graph.py for graphs with no such
    structure, and tests/test_graph.py pins the island plan against
    it on this very relation.  The oracle is UNCHANGED — a
    recursive-CTE closure over the pair relation — so the island
    reduction is verified against an independent formulation, not
    against itself."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return D.band_components(
        docs, id_col="doc_id", keys=["lang", "source"],
        band_col="n_chars", gap=20,
    )


@query(
    "q_dedup_canonical",
    oracle="""
    WITH RECURSIVE
    edges AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM documents a JOIN documents b
        ON a.lang = b.lang AND a.source = b.source
       AND abs(a.n_chars - b.n_chars) <= 20
       AND a.doc_id <> b.doc_id
    ),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.label < e.dst
    ),
    comp AS (
      SELECT node AS doc_id, min(label) AS component
      FROM reach GROUP BY node
    )
    SELECT component, doc_id AS canonical_doc_id,
           CAST(n AS BIGINT) AS n_members,
           CAST(total_chars AS BIGINT) AS total_chars
    FROM (SELECT c.component, d.doc_id,
                 count(*) OVER (PARTITION BY c.component) AS n,
                 sum(d.n_chars) OVER (PARTITION BY c.component)
                     AS total_chars,
                 row_number() OVER (
                   PARTITION BY c.component
                   ORDER BY d.n_chars DESC, d.doc_id) AS rn
          FROM comp c JOIN documents d USING (doc_id))
    WHERE rn = 1
    """,
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection per duplicate cluster — the
    'which copy survives' step real dedup pipelines run AFTER
    clustering: q_dedup_clusters stops at canonical = min doc_id, but
    production pipelines keep the BEST member (longest / highest
    quality), which changes what the training set actually contains.
    Per component: the largest-n_chars member (doc_id tiebreak),
    member count, and total duplicated characters.

    Scale shape: components via the same gap-island reduction as
    q_dedup_clusters (one window pass, no label propagation — see its
    docstring); selection is a component-keyed WindowGroupLimit
    (rank-1 filter pre-prunes map-side) over the components join,
    and the member/char aggregates ride the same window partitioning,
    so the selection layer adds no exchange beyond the component key.
    Oracle = the unchanged recursive-CTE closure + argmax window, so
    the island reduction is again verified against an independent
    formulation."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    comp = D.band_components(
        docs, id_col="doc_id", keys=["lang", "source"],
        band_col="n_chars", gap=20,
    )
    joined = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    wc = Window.partitionBy("component")
    w = wc.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .withColumn("total_chars", F.sum("n_chars").over(wc))
        .filter(F.col("__rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("canonical_doc_id"),
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("total_chars").cast("bigint").alias("total_chars"),
        )
    )


@query(
    "q_graph_neighbor_jaccard",
    oracle="""
    WITH e AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM documents a JOIN documents b
        ON a.lang = b.lang AND a.source = b.source
       AND abs(a.n_chars - b.n_chars) <= 20
       AND a.doc_id <> b.doc_id
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS dg FROM e GROUP BY src),
    common AS (
      SELECT e1.src AS id_a, e2.src AS id_b,
             CAST(count(*) AS BIGINT) AS common_neighbors
      FROM e e1 JOIN e e2 ON e1.dst = e2.dst AND e1.src < e2.src
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, common_neighbors, nbr_jaccard FROM (
      SELECT id_a, id_b, common_neighbors,
             round(common_neighbors * 1.0
                   / (du.dg + dv.dg - common_neighbors), 6) AS nbr_jaccard
      FROM common JOIN deg du ON du.src = common.id_a
                  JOIN deg dv ON dv.src = common.id_b
    ) WHERE nbr_jaccard >= 0.8
    """,
)
def q_graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural node similarity: neighbor-set Jaccard >= 0.8 over
    the banded similarity graph — the link-prediction / entity-
    resolution primitive (two documents whose CANDIDATE SETS almost
    coincide are near-certain duplicates even when no direct edge
    scores them, the graph-side complement to content-side dedup).

    Plan shape: degrees are one count aggregate; common-neighbor
    counts come from the edge self-join on dst — cost Σ deg(dst)²,
    which is the same quantity triangle counting bounds, so at corpus
    scale the same degree-orientation/cap applies (functions/graph.py
    oriented_edges caps out-degree at O(sqrt m)); the division is one
    integer-derived IEEE op, so round(·, 6) is identical across
    engines with no summation-order surface."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    a = docs.select(
        F.col("doc_id").alias("src"), "lang", "source",
        F.col("n_chars").alias("na"),
    )
    b = docs.select(
        F.col("doc_id").alias("dst"), F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"), F.col("n_chars").alias("nb"),
    )
    edges = a.join(
        b,
        (a.lang == b.lang_b)
        & (a.source == b.source_b)
        & (F.abs(F.col("na") - F.col("nb")) <= 20)
        & (F.col("src") != F.col("dst")),
    ).select("src", "dst")
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("dg")
    )
    e1 = edges.select(F.col("src").alias("id_a"), "dst")
    e2 = edges.select(F.col("src").alias("id_b"), "dst")
    common = (
        e1.join(e2, "dst")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_neighbors"))
    )
    du = deg.select(F.col("src").alias("id_a"), F.col("dg").alias("da"))
    dv = deg.select(F.col("src").alias("id_b"), F.col("dg").alias("db"))
    return (
        common.join(du, "id_a")
        .join(dv, "id_b")
        .withColumn(
            "nbr_jaccard",
            F.round(
                F.col("common_neighbors")
                / (
                    F.col("da") + F.col("db") - F.col("common_neighbors")
                ).cast("double"),
                6,
            ),
        )
        .filter(F.col("nbr_jaccard") >= 0.8)
        .select("id_a", "id_b", "common_neighbors", "nbr_jaccard")
    )


@query(
    "q_dedup_fuzzy",
    oracle="""
    SELECT id_a, id_b, lev FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(levenshtein(a.text, b.text) AS INT) AS lev
      FROM documents a JOIN documents b
        ON a.lang = b.lang AND a.source = b.source
       AND abs(a.n_chars - b.n_chars) <= 10
       AND a.doc_id < b.doc_id
    ) WHERE lev <= 12
    """,
)
def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level fuzzy dedup: edit-distance (Levenshtein <= 12) pairs
    under blocking — the third near-dup regime next to set-overlap
    (minhash/ngram Jaccard) and bit-signature (simhash): character
    edits that barely move a shingle set (OCR noise, template fills,
    version strings) but make texts byte-unequal.

    Shape at scale: NEVER all-pairs-levenshtein (it is O(n^2) pairs x
    O(len^2) per pair). Blocking first — (lang, source) equi-join keys
    bound candidate groups exactly like q_dedup_clusters' edge
    relation, plus a |delta n_chars| <= 10 length band. The band is
    tighter than the edit-distance-≥-length-gap bound would allow
    at threshold 12, so it is part of the DECLARED pair relation (the
    oracle states the identical predicate), not a lossless pre-filter.
    Only the blocked candidates pay the quadratic verify, JVM-side via
    the built-in levenshtein codegen — no UDF. At corpus scale the
    band becomes a binned range join (q_range_join_binned's layout) so
    no reducer sees an unbounded group.

    The candidate/verify SPLIT is load-bearing, not stylistic: written
    as one join-then-filter, Catalyst pushes `levenshtein <= 12` into
    the join's residual condition AHEAD of the band predicates, so
    every (lang, source)-matched pair — 1.25 M at sf0.1, band or not —
    pays the full O(len^2) DP (measured: 229 s; the blocked relation
    it should verify is 6.6 k pairs).  The localCheckpoint is an
    optimizer BARRIER that pins the evaluation order the blocking
    theorem requires — cheap predicates inside the join, the quadratic
    verify strictly after, spread across the cluster (the candidate
    relation is small by construction, so materializing it is free);
    tests/test_plans.py pins the verify stage join-free."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    a = docs.select(
        F.col("doc_id").alias("id_a"),
        F.col("text").alias("text_a"),
        "lang",
        "source",
        F.col("n_chars").alias("na"),
    )
    b = docs.select(
        F.col("doc_id").alias("id_b"),
        F.col("text").alias("text_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("n_chars").alias("nb"),
    )
    cands = a.join(
        b,
        (a.lang == b.lang_b)
        & (a.source == b.source_b)
        & (F.abs(F.col("na") - F.col("nb")) <= 10)
        & (F.col("id_a") < F.col("id_b")),
    ).select("id_a", "id_b", "text_a", "text_b")
    # explicit width, not spread(): on a join, counting partitions
    # runs the join's stages once before the checkpoint runs them again
    n = spark.sparkContext.defaultParallelism
    verify = cands.repartition(n, "id_a").localCheckpoint(eager=True)
    return (
        verify.withColumn(
            "lev", F.levenshtein("text_a", "text_b").cast("int")
        )
        .filter(F.col("lev") <= 12)
        .select("id_a", "id_b", "lev")
    )


@query(
    "q_dup_remove",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    tok AS (
      SELECT doc_id, i - 1 AS pos, t[CAST(i AS INT)] AS token
      FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks)
    ),
    spans AS (
      SELECT doc_id, i - 1 AS start, array_to_string(t[CAST(i AS INT) : CAST(i AS INT) + 7], ' ') AS span
      FROM (SELECT doc_id, t,
                   unnest(range(1, CAST(greatest(len(t) - 7, 1) AS BIGINT) + 1)) AS i
            FROM toks)
    ),
    owners AS (
      SELECT span, min(doc_id) AS owner
      FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    ),
    removable AS (
      SELECT DISTINCT s.doc_id, s.start
      FROM spans s JOIN owners o ON s.span = o.span AND s.doc_id <> o.owner
    ),
    cov AS (
      SELECT tok.doc_id, tok.pos, tok.token,
             max(CASE WHEN r.start IS NOT NULL THEN 1 ELSE 0 END)
               OVER (PARTITION BY tok.doc_id ORDER BY tok.pos
                     ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered
      FROM tok LEFT JOIN removable r
        ON r.doc_id = tok.doc_id AND r.start = tok.pos
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN covered = 0 THEN token END, ' '
                               ORDER BY pos), '') AS cleaned_text,
           CAST(count(*) FILTER (covered = 0) AS BIGINT) AS n_tokens_kept,
           CAST(count(*) FILTER (covered = 1) AS BIGINT) AS n_tokens_removed
    FROM cov GROUP BY doc_id
    """,
)
def q_dup_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage REMOVAL — the redaction step downstream of
    `q_dup_spans` (ExactSubstr dedup's remove phase, "Deduplicating
    Training Data Makes Language Models Better": cut the duplicated
    substring, keep the rest of the document). Every 8-token span seen
    in ≥ 2 documents keeps only its lowest-doc_id owner's copies; all
    other occurrences have their token positions blanked, and each
    document is reassembled from its surviving tokens in order.

    Scale shape: span extraction is a narrow posexplode; ownership is
    ONE window shuffle keyed on the span — no owners self-join, which
    would duplicate the whole explode subtree in the physical plan
    (Spark has no automatic common-subtree reuse): "shared by ≥ 2
    docs" is `min(doc_id) ≠ max(doc_id)` over the span partition, and
    "non-owner occurrence" is `doc_id ≠ min(doc_id)` (xxhash64 span
    key at 100 TB, as in q_dup_spans). Removable start-positions fold
    back to one array-valued row per affected document (doc_id-keyed
    partial agg), and the final redaction + reassembly is entirely
    ROW-LOCAL — the coverage test `∃ start ≤ pos ≤ start+7` and the
    rebuild run as higher-order array functions, so the token stream
    itself is never shuffled as rows and no per-doc SORT exists
    anywhere in the plan (the span window is partition-only, frameless;
    the oracle's per-doc window formulation is the same math — Spark
    gets the array form because Catalyst keeps it in whole-stage
    codegen).
    """
    from ..functions import text as T

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    t = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    # shared primitive with q_dup_spans_var (functions/dedup.
    # shared_gram_occurrences): every shared-gram occurrence with its
    # owner; the remove phase blanks the non-owner occurrences
    removable = (
        D.shared_gram_occurrences(t, n=8)
        .filter(F.col("doc_id") != F.col("owner"))
        .groupBy("doc_id")
        .agg(F.collect_set("start").alias("starts"))
    )
    joined = t.join(removable, "doc_id", "left").withColumn(
        "starts", F.coalesce(F.col("starts"), F.expr("array()"))
    )
    kept = F.expr(
        "filter(toks, (x, i) -> NOT exists(starts, j -> i >= j AND i <= j + 7))"
    )
    return joined.select(
        "doc_id",
        F.array_join(kept, " ").alias("cleaned_text"),
        F.size(kept).cast("bigint").alias("n_tokens_kept"),
        (F.size("toks") - F.size(kept)).cast("bigint").alias("n_tokens_removed"),
    )


@query(
    "q_triangle_count",
    oracle="""
    WITH edges AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM documents a JOIN documents b
        ON a.lang = b.lang AND a.source = b.source
       AND abs(a.n_chars - b.n_chars) <= 20
       AND a.doc_id < b.doc_id
    ),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM edges e1
      JOIN edges e2 ON e2.src = e1.dst
      JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    pernode AS (
      SELECT node, count(*) AS n_triangles
      FROM (SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY node
    )
    SELECT node AS doc_id, CAST(n_triangles AS BIGINT) AS n_triangles
    FROM pernode
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting over the deterministic doc-similarity
    graph of `q_dedup_clusters` — the local-density signal (clustering
    coefficient numerator) that separates tight near-dup families
    (cliques → many triangles) from chains of borderline pairs (few),
    which PageRank alone can't tell apart.

    Classic distributed shape with the skew refinement
    (functions/graph.py:triangle_counts): orient every edge
    low-(degree, id) → high so each triangle is generated exactly once
    at its lowest-order corner, build wedges with one self-join on the
    shared source, close them against the oriented edge list with a
    second join, then explode each triangle to its three corners and
    count.  Degree orientation caps every out-degree at O(√m), so
    wedge volume is O(m^1.5) even when one hub document matches
    thousands of near-twins — under id orientation that hub would put
    O(d²) wedge rows on one reducer key at 100 TB.  The oracle keeps
    the simple id orientation: any total order generates the SAME
    triangle set, so the per-node counts hash-match while the Spark
    side carries the skew-safe plan."""
    from ..functions.graph import triangle_counts

    docs = load_table(spark, sf_dir, "documents")
    return triangle_counts(similarity_edges(docs)).select(
        F.col("node").alias("doc_id"), "n_triangles"
    )


def similarity_edges(docs: DataFrame) -> DataFrame:
    """The deterministic doc-similarity graph shared by the graph
    queries: same (lang, source) and |Δ n_chars| <= 20, one (src < dst)
    row per undirected edge.  Exposed as a function so plan tests can
    assert scan-side column pruning on compositions that internally
    materialize (triangle_counts' checkpoint hides upstream lineage
    from the final plan)."""
    docs = docs.select("doc_id", "lang", "source", "n_chars")
    a = docs.select(
        F.col("doc_id").alias("src"), "lang", "source",
        F.col("n_chars").alias("na"),
    )
    b = docs.select(
        F.col("doc_id").alias("dst"), F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"), F.col("n_chars").alias("nb"),
    )
    return a.join(
        b,
        (F.col("lang") == F.col("lang_b"))
        & (F.col("source") == F.col("source_b"))
        & (F.abs(F.col("na") - F.col("nb")) <= 20)
        & (F.col("src") < F.col("dst")),
    ).select("src", "dst")


def _pagerank_oracle(n_iter: int = 5) -> str:
    """Unrolled power-iteration PageRank as plain DuckDB CTE stages.

    Recursive CTEs cannot aggregate in the recursive term (Postgres
    rule, DuckDB inherits it), so a FIXED iteration count is what makes
    PageRank SQL-stateable: each iteration becomes one non-recursive
    CTE stage, mechanically generated here."""
    sql = """
    WITH nodes AS (SELECT doc_id AS node FROM documents),
    nn AS (SELECT count(*) AS n FROM nodes),
    edges AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM documents a JOIN documents b
        ON a.lang = b.lang AND a.source = b.source
       AND abs(a.n_chars - b.n_chars) <= 20
       AND a.doc_id <> b.doc_id
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    e AS (SELECT edges.src, edges.dst, deg.deg FROM edges JOIN deg USING (src)),
    r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn)"""
    for i in range(1, n_iter + 1):
        sql += f""",
    r{i} AS (
      SELECT nodes.node,
             0.15 / nn.n + 0.85 * COALESCE(c.s, 0) AS pr
      FROM nodes CROSS JOIN nn
      LEFT JOIN (SELECT e.dst AS node, sum(r{i - 1}.pr / e.deg) AS s
                 FROM e JOIN r{i - 1} ON r{i - 1}.node = e.src
                 GROUP BY e.dst) c USING (node)
    )"""
    sql += f"""
    SELECT node AS doc_id, round(pr, 6) AS pagerank FROM r{n_iter}"""
    return sql


@query("q_pagerank", oracle=_pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the same deterministic doc-similarity
    graph as `q_dedup_clusters` — the importance signal a curation
    pipeline uses to pick canonical survivors or weight duplicated
    content (heavily-linked near-dup families rank high). Five fixed
    power iterations from the uniform start, damping 0.85, leak
    variant (see functions/graph.pagerank). Each Spark iteration is
    one O(edges) join + sum shuffle ending in localCheckpoint; the
    oracle unrolls the same five iterations as CTE stages. Ranks are
    ROUNDED to 6 decimals so cross-engine float-summation order cannot
    flip the comparison."""
    from ..functions.graph import pagerank

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    a = docs.select(
        F.col("doc_id").alias("src"), "lang", "source",
        F.col("n_chars").alias("na"),
    )
    b = docs.select(
        F.col("doc_id").alias("dst"), F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"), F.col("n_chars").alias("nb"),
    )
    edges = a.join(
        b,
        (F.col("lang") == F.col("lang_b"))
        & (F.col("source") == F.col("source_b"))
        & (F.abs(F.col("na") - F.col("nb")) <= 20)
        & (F.col("src") != F.col("dst")),
    ).select("src", "dst")
    nodes = docs.select(F.col("doc_id").alias("node"))
    ranks = pagerank(nodes, edges, n_iter=5, damping=0.85)
    return ranks.select(
        F.col("node").alias("doc_id"), F.round("rank", 6).alias("pagerank")
    )


@query(
    "q_ingest_dedup",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(
                   string_split_regex(trim(lower(text)), '\s+'), ' ')) AS fp
      FROM documents
    ),
    hist AS (SELECT DISTINCT fp FROM fp WHERE doc_id < 400),
    batch AS (SELECT doc_id, fp FROM fp WHERE doc_id >= 400),
    firsts AS (
      SELECT doc_id, fp,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM batch
    )
    SELECT f.doc_id, f.fp AS fingerprint
    FROM firsts f LEFT JOIN hist h ON f.fp = h.fp
    WHERE f.rn = 1 AND h.fp IS NULL
    """,
)
def q_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest exact dedup: the production shape of S-curve
    corpus growth — a new batch (doc_id >= 400 here) is deduped WITHIN
    itself (first doc_id per fingerprint wins) and AGAINST the
    fingerprint store of everything already ingested (doc_id < 400),
    returning only rows safe to append.

    Both steps key on the md5 token-stream fingerprint
    (functions/text.py rolling_fingerprint): one window and one anti-
    join sharing the fingerprint hash partitioning. At 100 TB the
    history side is a fingerprint-only index scan (one narrow column),
    never the historical corpus itself.
    """
    from pyspark.sql.window import Window

    from ..functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", T.rolling_fingerprint(F.col("text")).alias("fingerprint")
    )
    hist = fp.filter(F.col("doc_id") < 400).select("fingerprint").distinct()
    batch = fp.filter(F.col("doc_id") >= 400)
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    firsts = (
        batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return firsts.join(hist, "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    )


@query(
    "q_dup_spans",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i : i + 7], ' ') AS span
      FROM (SELECT doc_id, t,
                   unnest(range(1, CAST(greatest(len(t) - 7, 1) AS BIGINT) + 1))
                     AS i
            FROM toks)
    )
    SELECT span,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id)              AS first_doc_id
    FROM grams GROUP BY span HAVING count(*) >= 2
    """,
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage detection (the fixed-length
    approximation of suffix-array ExactSubstr dedup from the
    "Deduplicating Training Data Makes Language Models Better" line of
    work): every 8-token span that appears verbatim in >= 2 documents,
    with how many documents share it and the lowest sharing doc_id.

    Spans are distinct-per-doc word 8-grams (functions/dedup.
    word_ngrams — the let-binding idiom tokenizes once per row), so
    count(*) after the groupBy IS the distinct-document count: one
    explode (narrow, partition-preserving) and ONE shuffle keyed on
    the span. At 100 TB the span string would be replaced by its
    xxhash64 as the grouping key with min(span) carried as the
    representative — same plan shape, 8-byte shuffle payload; and the
    output feeds passage-level redaction (join back on doc_id) rather
    than whole-document dropping, which is exactly why span-level
    dedup exists as a separate operator from q_dedup_exact_docs.
    """
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    grams = docs.select(
        "doc_id", F.explode(D.word_ngrams("text", 8)).alias("span")
    )
    return (
        grams.groupBy("span")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "q_dup_spans_var",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    spans AS (
      SELECT doc_id, i - 1 AS start,
             array_to_string(t[CAST(i AS INT) : CAST(i AS INT) + 7], ' ')
               AS span
      FROM (SELECT doc_id, t,
                   unnest(range(1, CAST(greatest(len(t) - 7, 1) AS BIGINT)
                                   + 1)) AS i
            FROM toks)
    ),
    shared AS (
      SELECT span FROM spans
      GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    ),
    pos AS (
      SELECT DISTINCT s.doc_id, s.start
      FROM spans s JOIN shared USING (span)
    ),
    m AS (
      SELECT doc_id, start,
             CASE WHEN start > coalesce(
                    max(start + 7) OVER (
                      PARTITION BY doc_id ORDER BY start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -2) + 1
                  THEN 1 ELSE 0 END AS ni
      FROM pos
    ),
    isl AS (
      SELECT doc_id, start,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY start) AS island
      FROM m
    )
    SELECT doc_id,
           CAST(min(start) AS BIGINT)                  AS span_start,
           CAST(max(start) + 8 - min(start) AS BIGINT) AS span_len
    FROM isl GROUP BY doc_id, island
    """,
)
def q_dup_spans_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIABLE-LENGTH cross-document repeated-passage spans — the
    suffix-array ExactSubstr form (Lee et al. 2022) that q_dup_spans'
    fixed 8-gram report approximates: for every document, the maximal
    runs of tokens covered by any 8-token gram shared verbatim with
    another document, as (doc_id, span_start, span_len) with
    span_len >= 8 and unbounded above (a 200-token plagiarized
    passage reports as ONE 200-token span, not 193 overlapping
    8-grams).

    Equivalence argument (why no suffix array is materialized): a
    cross-doc repeat of token length L >= 8 appears as exactly L-7
    consecutive shared 8-gram starts, and conversely every covered
    token lies inside such a repeat — so the island-merged coverage of
    shared 8-grams IS the union of maximal >= 8-token repeats, the
    precise set a corpus-wide suffix array would mark at token
    granularity; abutting/overlapping repeats merge exactly like the
    paper's merged byte ranges.  Scale shape: one span-keyed window
    shuffle for sharing (functions/dedup.shared_gram_occurrences — no
    owners self-join), then doc-keyed gaps-and-islands over only the
    SHARED occurrences (functions/dedup.merge_covered_spans) — costs
    bounded by duplicate volume, not corpus size.  q_dup_remove
    consumes the same shared primitive for its removal phase."""
    from ..functions import text as T

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    t = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    occ = D.shared_gram_occurrences(t, n=8)
    return D.merge_covered_spans(occ, n=8)


@query(
    "q_dup_spans_char",
    oracle=r"""
    WITH spans AS (
      SELECT doc_id, i - 1 AS start, substring(text, CAST(i AS INT), 20)
               AS span
      FROM (SELECT doc_id, text,
                   unnest(range(1, CAST(greatest(length(text) - 19, 1)
                                        AS BIGINT) + 1)) AS i
            FROM documents)
    ),
    shared AS (
      SELECT span FROM spans
      GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    ),
    pos AS (
      SELECT DISTINCT s.doc_id, s.start
      FROM spans s JOIN shared USING (span)
    ),
    m AS (
      SELECT doc_id, start,
             CASE WHEN start > coalesce(
                    max(start + 19) OVER (
                      PARTITION BY doc_id ORDER BY start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -2) + 1
                  THEN 1 ELSE 0 END AS ni
      FROM pos
    ),
    isl AS (
      SELECT doc_id, start,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY start) AS island
      FROM m
    )
    SELECT doc_id,
           CAST(min(start) AS BIGINT)                   AS span_start,
           CAST(max(start) + 20 - min(start) AS BIGINT) AS span_len
    FROM isl GROUP BY doc_id, island
    """,
)
def q_dup_spans_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-granular variable-length ExactSubstr spans — the
    configuration the Lee et al. 2022 pipeline actually runs (repeats
    measured in bytes/chars, min length ~50; here 20 chars to suit the
    fixture's shorter documents): maximal per-document runs of
    characters covered by any 20-char substring appearing verbatim in
    >= 2 documents.  Same equivalence argument as q_dup_spans_var at
    character granularity (an L-char cross-doc repeat is exactly
    L-19 consecutive shared 20-gram starts), same two-shuffle plan
    (functions/dedup.shared_chargram_occurrences +
    merge_covered_spans), and spans here are measured in CHARS, so
    tokenization differences cannot move a boundary."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    occ = D.shared_chargram_occurrences(docs, n=20)
    return D.merge_covered_spans(occ, n=20)


def _kcore_oracle(k: int = 3, rounds: int = 5) -> str:
    """Unrolled k-core peeling as CTE stages (same mechanism as
    _pagerank_oracle: recursive CTEs cannot aggregate in the recursive
    term, so the fixed round count is what makes peeling
    SQL-stateable)."""
    sql = """
    WITH e0 AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM documents a JOIN documents b
        ON a.lang = b.lang AND a.source = b.source
       AND abs(a.n_chars - b.n_chars) <= 20
       AND a.doc_id <> b.doc_id
    )"""
    prev = "e0"
    for i in range(1, rounds + 1):
        sql += f""",
    a{i} AS (SELECT src FROM {prev} GROUP BY src HAVING count(*) >= {k}),
    e{i} AS (
      SELECT e.src, e.dst FROM {prev} e
      WHERE e.src IN (SELECT src FROM a{i})
        AND e.dst IN (SELECT src FROM a{i})
    )"""
        prev = f"e{i}"
    sql += f"""
    SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS degree
    FROM {prev} GROUP BY src HAVING count(*) >= {k}"""
    return sql


@query("q_kcore", oracle=_kcore_oracle())
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the deterministic doc-similarity graph (5 peel
    rounds): the maximal subgraph where every surviving document still
    has ≥ 3 near-duplicate neighbors — the "dense duplicate family"
    extractor that, unlike q_triangle_count's local signal, certifies
    mutual density (every member stays dense after the sparse fringe
    peels away). Completes the graph suite: components (membership),
    PageRank (importance), triangles (local density), k-core (global
    density).

    Fixed-round peeling via functions/graph.k_core — each round one
    O(edges) degree aggregate + two semi-joins, localCheckpoint per
    round; the oracle unrolls the identical rounds as CTE stages."""
    from ..functions.graph import k_core

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    a = docs.select(
        F.col("doc_id").alias("src"), "lang", "source",
        F.col("n_chars").alias("na"),
    )
    b = docs.select(
        F.col("doc_id").alias("dst"), F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"), F.col("n_chars").alias("nb"),
    )
    edges = a.join(
        b,
        (F.col("lang") == F.col("lang_b"))
        & (F.col("source") == F.col("source_b"))
        & (F.abs(F.col("na") - F.col("nb")) <= 20)
        & (F.col("src") != F.col("dst")),
    ).select("src", "dst")
    return k_core(edges, k=3, rounds=5).withColumnRenamed(
        "node", "doc_id"
    )


_PREFIX_JACCARD_ORACLE = r"""
WITH sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[CAST(i AS INT):CAST(i AS INT)+2], ' ') AS s
  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t,
               unnest(range(1,
                 greatest(len(string_split_regex(lower(text), '\s+'))-2, 1) + 1
               )) AS i
        FROM documents WHERE text IS NOT NULL)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = inter.id_a
           JOIN sizes sb ON sb.doc_id = inter.id_b
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
"""


@query("q_dedup_prefix", oracle=_PREFIX_JACCARD_ORACLE)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (PPJoin
    family) over word-3-gram sets, threshold 0.5 — the deterministic
    complement to q_dedup_minhash: same pair semantics, but guaranteed
    100% recall with no signature tuning.  Candidates come from an
    equi-join on each document's rarest-first prefix (|X| -
    ceil(t|X|) + 1 elements under the global (df, gram) order); a
    length ratio filter then an exact intersection count verify.  The
    oracle is the brute-force all-pairs Jaccard — equality proves both
    the prefix-filter completeness (no pair missed) and the
    verification math.  Use MinHash when an approximate answer is
    acceptable and signatures are reusable; use this when exactness is
    contractual (e.g. benchmark decontamination audits).

    Perf note: the synthetic fixture corpus is prefix filtering's WORST
    case — a small shared vocabulary (27k grams / 5000 docs at sf0.1)
    makes even rarest-first prefixes collide broadly, so this is the
    slowest headline query (~4.6 s at sf0.1 vs MinHash's ~0.9 s). On a
    natural corpus rare tokens have near-unique postings and the
    candidate set collapses toward the true pair set; when approximate
    recall suffices, q_dedup_minhash is the fast path at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return D.prefix_filter_jaccard_pairs(
        docs,
        threshold=0.5,
        elements=D.word_ngrams("text", 3),
    ).select(
        F.col("id_a"), F.col("id_b"), F.col("jaccard")
    )


_CONTAINMENT_ORACLE = r"""
WITH sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[CAST(i AS INT):CAST(i AS INT)+2], ' ') AS s
  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t,
               unnest(range(1,
                 greatest(len(string_split_regex(lower(text), '\s+'))-2, 1) + 1
               )) AS i
        FROM documents WHERE text IS NOT NULL)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT CAST(CASE WHEN sa.n <= sb.n THEN inter.id_a ELSE inter.id_b END
            AS BIGINT) AS id_small,
       CAST(CASE WHEN sa.n <= sb.n THEN inter.id_b ELSE inter.id_a END
            AS BIGINT) AS id_large,
       round(i * 1.0 / least(sa.n, sb.n), 6) AS containment
FROM inter JOIN sizes sa ON sa.doc_id = inter.id_a
           JOIN sizes sb ON sb.doc_id = inter.id_b
WHERE i * 1.0 / least(sa.n, sb.n) >= 0.8
"""


@query("q_dedup_containment", oracle=_CONTAINMENT_ORACLE)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT overlap-coefficient (containment) similarity join over
    word-3-gram sets, threshold 0.8 — the subset/quote-duplicate
    detector Jaccard structurally misses: a short document embedded in
    a much longer one has containment 1.0 but Jaccard ~ |A|/|B| -> 0.
    Standard companion pass to Jaccard dedup in pretraining curation
    (boilerplate wrappers, quoted articles, partial mirrors).

    Asymmetric prefix-probe / full-index join with exact verification
    (functions/dedup.containment_pairs): each doc's rarest-first
    prefix, sized for the role of SMALLER side (alpha = ceil(t*|A|)),
    probes the full postings of not-smaller docs; no length filter
    exists for this measure, which is exactly why it sees pairs the
    Jaccard kernels prune.  The oracle is the brute-force all-pairs
    overlap coefficient — equality proves prefix completeness and the
    verification math, same contract as q_dedup_prefix."""
    docs = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(
        docs,
        threshold=0.8,
        elements=D.word_ngrams("text", 3),
    )


@query(
    "q_dedup_index_store",
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
def q_dedup_index_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingest against a PERSISTED MinHash band
    index — the third leg of the index-store pattern (exact:
    q_ingest_dedup's fingerprint anti-join; vectors: q_ann_index_store's
    cell-partitioned IVF): the already-ingested corpus (doc_id % 4 != 0)
    is signature-banded ONCE and written as a LakeTable partitioned by
    band; a new batch (doc_id % 4 == 0) computes its own band rows,
    equi-joins the STORED index on (band, bucket), and exact-verifies
    only the candidates.  Output is (doc_id, dup_of, jaccard): each
    batch doc paired with every already-stored near-duplicate at
    char-5-shingle Jaccard >= 0.5 — the rows an ingest pipeline would
    route to the reject sink instead of appending.

    The 100 TB account: the index is signatures, not text — (8 B id +
    8 B bucket + 256 B sig) × bands per doc, scanned by the probe join
    in place of the corpus; an ingest batch of b docs costs O(b)
    signature compute + a (band, bucket)-keyed join whose probe side
    is b×bands rows + exact verification of the candidate pairs only.
    Base-corpus text is touched ONLY to shingle the candidates'
    partners (verified_near_dups' semi-join prefilter path at scale).
    Recall inherits the banding guarantee pinned for q_dedup_minhash
    (planted near-dups at J >= 0.9 miss with p < 1e-6; measured 1.0 on
    every fixture SF, and the estimate gate sits at 0.4 against true
    pairs >= 0.5), so the verified output equals the oracle's
    brute-force cross-split pair set exactly — same coupling,
    documented there.  If a future fixture DOES diff against the
    oracle, run functions/dedup.diagnose_missing_pair on the missing
    pair: it names the broken contract (banding recall vs estimate
    gate vs store/epoch logic) so the failure never implicates the
    index machinery by default (r8-advice truth-source marker,
    unit-tested on a forced banding miss).

    Bench cost: ~1.8 s at sf0.1 vs 1.2 s for q_dedup_minhash, which
    computes the same signatures and the same verify over the SAME
    corpus with no persisted build — the ~0.6 s difference is the
    band-partitioned table create, machinery a deployment pays once
    per ingest epoch.  (The first cut of this query measured 4.5 s:
    the sig column feeding both the declared output and the band-key
    explode let CollapseProject clone the whole signature subtree
    into a second corpus scan per side — minhash_band_index now
    carries the same cache barrier minhash_candidate_pairs documents,
    and the probe plan is pinned to one documents scan.)"""
    from ..lakehouse import LakeTable
    from ..session import scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    path = scratch_dir("q_dedup_index_store", fresh=True) + "/band_index"
    t = LakeTable.create(
        cluster_for_write(D.minhash_band_index(base), "band"),
        path,
        partition_by=["band"],
    )
    stored = t.read(spark)
    cands = D.minhash_probe_index(stored, D.minhash_band_index(batch))
    # prefilter=True: the probe contract is candidates = O(batch), so
    # the verify must semi-join the corpus down to candidate docs
    # BEFORE shingling — the auto heuristic keys on scan partition
    # count and picks the corpus-wide shingle pass on single-file
    # corpora, which silently made every probe O(table) (r11 slope
    # measurement; README "append slopes").
    verified = D.verified_near_dups(docs, cands, threshold=0.5,
                                    prefilter=True)
    return verified.select(
        F.col("id_b").alias("doc_id"),
        F.col("id_a").alias("dup_of"),
        "jaccard",
    )


@query(
    "q_dedup_epoch",
    oracle=r"""
    WITH sh AS (
      SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 5) AS s
      FROM (SELECT doc_id, text,
                   unnest(range(1, greatest(length(text)-4, 1) + 1)) AS i
            FROM documents)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT id_a, id_b,
             round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
      FROM inter JOIN sizes sa ON sa.doc_id = inter.id_a
                 JOIN sizes sb ON sb.doc_id = inter.id_b
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
    ),
    r1 AS (
      SELECT id_b AS doc_id, id_a AS dup_of, jaccard FROM jac
      WHERE id_b % 8 = 0 AND id_a % 4 != 0
    ),
    acc1 AS (
      SELECT doc_id FROM documents
      WHERE doc_id % 8 = 0
        AND doc_id NOT IN (SELECT doc_id FROM r1)
    ),
    r2 AS (
      SELECT id_b AS doc_id, id_a AS dup_of, jaccard FROM jac
      WHERE id_b % 8 = 4
        AND (id_a % 4 != 0 OR id_a IN (SELECT doc_id FROM acc1))
    )
    SELECT CAST(1 AS INT) AS epoch, * FROM r1
    UNION ALL
    SELECT CAST(2 AS INT) AS epoch, * FROM r2
    """,
)
def q_dedup_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE incremental near-dup ingest loop — two sequential
    batches with an INDEX EPOCH ADVANCE between them, closing the gap
    q_dedup_index_store and q_stream_neardup declare out of scope
    ("batch-vs-batch dups are the next epoch's problem"): after batch 1
    is gated against the persisted band index, the ACCEPTED batch-1
    docs' band rows are APPENDED to the index (one LakeTable append —
    an O(batch) commit, never an index rebuild), so batch 2 is probed
    against base ∪ accepted(batch 1) and a batch-2 doc duplicating an
    accepted batch-1 doc is correctly rejected.

    Output: (epoch, doc_id, dup_of, jaccard) — every rejected ingest
    doc paired with each stored near-duplicate (char-5-shingle exact
    Jaccard >= 0.5) that caused the rejection, for both epochs.  The
    oracle brute-forces the same two-stage fixpoint: r2's allowed
    dup_of set is base plus exactly the batch-1 docs r1 did NOT
    reject.  Rejected docs' bands are NEVER appended — a dup of a
    rejected doc is only reported against the doc's own stored
    partners, keeping the index a set of CANONICAL representatives
    (the standard dedup-ingest contract).

    Scale shape: identical per-epoch cost to q_dedup_index_store
    (O(batch) signatures + (band, bucket) probe join + candidate-only
    verify), plus one band-partitioned append per epoch.  Snapshot
    isolation makes the sequencing safe: r1's plan pins the
    pre-append table version, so materializing r1 after the append
    still reads epoch-1 state (r1 is checkpointed anyway, because it
    feeds both the declared output and the accepted-set anti-join).
    Recall inherits the banding guarantee documented at
    q_dedup_index_store (measured 1.0 per fixture); the epoch-2 probe
    uses the SAME signature family, so accepted-batch-1 partners bank
    the same guarantee.  A banding miss here would ALSO cascade into
    epoch 2's accepted set (a missed rejection changes which bands get
    appended) — on any oracle diff, classify the first missing pair
    with functions/dedup.diagnose_missing_pair before touching the
    epoch code: it separates banding/estimate recall from genuine
    store/epoch-logic loss (r8-advice truth-source marker)."""
    from ..lakehouse import LakeTable
    from ..session import scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 4 != 0)
    b1 = docs.filter(F.col("doc_id") % 8 == 0)
    b2 = docs.filter(F.col("doc_id") % 8 == 4)
    path = scratch_dir("q_dedup_epoch", fresh=True) + "/band_index"
    t = LakeTable.create(
        cluster_for_write(D.minhash_band_index(base), "band"),
        path,
        partition_by=["band"],
    )
    idx_b1 = D.minhash_band_index(b1)
    r1 = (
        # prefilter=True on both epoch probes: O(batch) candidates must
        # not trigger a corpus-wide shingle pass (see q_dedup_index_store)
        D.verified_near_dups(
            docs,
            D.minhash_probe_index(t.read(spark), idx_b1),
            threshold=0.5,
            prefilter=True,
        )
        .select(
            F.col("id_b").alias("doc_id"),
            F.col("id_a").alias("dup_of"),
            "jaccard",
        )
        .localCheckpoint(eager=True)
    )
    # append = batch-1's ALREADY-COMPUTED band rows minus the rejected
    # docs' — an anti-join on the narrow index relation, reusing the
    # probe's cached signatures, where recomputing
    # minhash_band_index(accepted rows) paid a second shingle+hash
    # pass over batch-1 text (identical rows either way: band rows
    # are per-doc, so filtering docs == filtering their band rows)
    acc_idx = idx_b1.join(
        r1.select(F.col("doc_id").alias("id")).distinct(),
        "id",
        "left_anti",
    ).select("band", "bucket", "id", "sig")
    t.append(spark, cluster_for_write(acc_idx, "band"))
    r2 = D.verified_near_dups(
        docs,
        D.minhash_probe_index(t.read(spark), D.minhash_band_index(b2)),
        threshold=0.5,
        prefilter=True,
    ).select(
        F.col("id_b").alias("doc_id"),
        F.col("id_a").alias("dup_of"),
        "jaccard",
    )
    one = F.lit(1).cast("int")
    two = F.lit(2).cast("int")
    return r1.withColumn("epoch", one).unionByName(
        r2.withColumn("epoch", two)
    )


@query(
    "q_ingest_epoch",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(
                   string_split_regex(trim(lower(text)), '\s+'), ' ')) AS fp
      FROM documents
    ),
    store0 AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 4 != 0),
    b1 AS (
      SELECT doc_id, fp,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM fp WHERE doc_id % 8 = 0
    ),
    acc1 AS (
      SELECT b.doc_id, b.fp FROM b1 b LEFT JOIN store0 s ON b.fp = s.fp
      WHERE b.rn = 1 AND s.fp IS NULL
    ),
    store1 AS (SELECT fp FROM store0 UNION SELECT fp FROM acc1),
    b2 AS (
      SELECT doc_id, fp,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM fp WHERE doc_id % 8 = 4
    ),
    acc2 AS (
      SELECT b.doc_id, b.fp FROM b2 b LEFT JOIN store1 s ON b.fp = s.fp
      WHERE b.rn = 1 AND s.fp IS NULL
    )
    SELECT CAST(1 AS INT) AS epoch, doc_id, fp AS fingerprint FROM acc1
    UNION ALL
    SELECT CAST(2 AS INT) AS epoch, doc_id, fp AS fingerprint FROM acc2
    """,
)
def q_ingest_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-dedup ingest loop with a MATERIALIZED fingerprint store —
    the third epoch-advance leg (near-dup bands: q_dedup_epoch;
    vector cells: q_ann_index_append), upgrading q_ingest_dedup's
    relational history into an actual LakeTable the loop appends to:
    the base corpus's distinct fingerprints are written once; batch 1
    (doc_id % 8 == 0) dedups within itself (first doc_id per
    fingerprint) and anti-joins the STORE; the accepted rows'
    fingerprints are APPENDED (one O(batch) commit); batch 2
    (doc_id % 8 == 4) then anti-joins base ∪ accepted(batch 1), so a
    batch-2 doc equal to an accepted batch-1 doc is correctly dropped.

    Output: (epoch, doc_id, fingerprint) of every ACCEPTED ingest row.
    The oracle restates the two-stage fixpoint with plain CTEs.

    Scale notes: the store is the narrow fingerprint column only —
    32 B/doc regardless of document size; each epoch costs one window
    + one anti-join sharing the fingerprint hash partitioning + one
    narrow append.  Snapshot isolation orders the legs (epoch-1's
    read pins the pre-append version; r1 is checkpointed because it
    feeds both the output and the append source).

    Whitespace: the fingerprint tokenizes via the shared
    rolling_fingerprint (functions/text.py), which since r10 uses the
    explicit [ \\t\\n\\r\\f] class == the oracle's RE2 \\s — the r8/r9
    documented Java-\\s divergence on this family is retired."""
    from pyspark.sql.window import Window

    from ..functions import text as T
    from ..lakehouse import LakeTable
    from ..session import scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", T.rolling_fingerprint(F.col("text")).alias("fingerprint")
    )
    path = scratch_dir("q_ingest_epoch", fresh=True) + "/fp_store"
    store = LakeTable.create(
        fp.filter(F.col("doc_id") % 4 != 0).select("fingerprint").distinct(),
        path,
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")

    def firsts(batch):
        return (
            batch.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    acc1 = (
        firsts(fp.filter(F.col("doc_id") % 8 == 0))
        .join(store.read(spark), "fingerprint", "left_anti")
        .select("doc_id", "fingerprint")
        .localCheckpoint(eager=True)
    )
    store.append(spark, acc1.select("fingerprint"))
    acc2 = (
        firsts(fp.filter(F.col("doc_id") % 8 == 4))
        .join(store.read(spark), "fingerprint", "left_anti")
        .select("doc_id", "fingerprint")
    )
    one = F.lit(1).cast("int")
    two = F.lit(2).cast("int")
    return acc1.withColumn("epoch", one).unionByName(
        acc2.withColumn("epoch", two)
    ).select("epoch", "doc_id", "fingerprint")


@query(
    "q_dedup_chunks",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(t[CAST(i AS INT):CAST(i AS INT)+31], ' '))
               AS fp
      FROM (SELECT doc_id, t, unnest(range(1, len(t)+1, 32)) AS i FROM toks)
    ),
    shared AS (
      SELECT fp FROM chunks GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared_chunks,
           round(sum(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS shared_frac,
           (sum(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*) >= 0.5) AS drop_doc
    FROM chunks c LEFT JOIN shared s ON c.fp = s.fp
    GROUP BY c.doc_id
    """,
)
def q_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-level duplication profile — the per-document boilerplate
    signal between exact whole-doc dedup and span reporting: the token
    stream is cut into fixed 32-token chunks, each chunk md5-keyed,
    and a chunk is SHARED when it appears in >= 2 distinct documents;
    every doc reports its chunk count, shared-chunk count, shared
    fraction, and the drop verdict at 50% — the standard
    mostly-boilerplate gate in curation (RefinedWeb/CCNet shape: a
    page that is half mirrored chunks is a template, not content).
    Distinct from q_dup_spans (which reports the SPANS) and
    q_dedup_exact_docs (whole-doc): this is a doc-level score driven
    by cross-doc chunk duplication.

    Plan: the chunk relation derives from one scan (LET-bound split,
    the word_ngrams trick, so the token array materializes once per
    row); the shared set is a chunk-keyed group-by whose count is
    DISTINCT doc (within-doc repeats are not boilerplate), the
    left join back rides the same fp hash partitioning (exchange
    reuse), and the per-doc rollup is the one further shuffle.  All
    keys are md5 fingerprints — 32 B regardless of chunk text, so at
    100 TB the shuffled relations are fingerprint-width, never text."""
    # explicit whitespace class == the oracle's RE2 \s (Java's \s adds
    # \x0B) — the q_text_normalize pin, applied here in r9
    chunk_fps = F.expr(
        r"""transform(array(split(trim(lower(text)), '[ \\t\\n\\r\\f]+')), t ->
              transform(sequence(1, size(t), 32),
                        i -> md5(array_join(slice(t, i, 32), ' '))))[0]"""
    )
    docs = spread(
        load_table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull()
        ),
        "doc_id",
    )
    chunks = docs.select("doc_id", F.explode(chunk_fps).alias("fp"))
    shared = (
        chunks.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("fp", F.lit(1).alias("hit"))
    )
    frac = F.col("n_shared_chunks") / F.col("n_chunks")
    return (
        chunks.join(shared, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.coalesce(F.sum("hit"), F.lit(0))
            .cast("bigint")
            .alias("n_shared_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_shared_chunks",
            F.round(frac, 6).alias("shared_frac"),
            (frac >= 0.5).alias("drop_doc"),
        )
    )


@query(
    "q_dedup_lines",
    oracle=r"""
    WITH l AS (
      SELECT doc_id,
             ['site ' || CAST(doc_id % 7 AS VARCHAR)
                || ' navigation home about contact',
              substring(text, 1, 80),
              substring(text, 81, 100000),
              'promo block ' || CAST(doc_id // 2 AS VARCHAR),
              'copyright example corp ' || CAST(doc_id % 3 AS VARCHAR)
             ] AS lines
      FROM documents
    ),
    occ AS (
      SELECT doc_id, i - 1 AS pos, lines[CAST(i AS INT)] AS line
      FROM (SELECT doc_id, lines,
                   unnest(range(1, len(lines) + 1)) AS i
            FROM l)
    ),
    bp AS (
      SELECT line FROM occ
      GROUP BY line HAVING count(DISTINCT doc_id) >= 3
    ),
    cov AS (
      SELECT o.doc_id, o.pos, o.line,
             (b.line IS NOT NULL) AS dropped
      FROM occ o LEFT JOIN bp b ON o.line = b.line
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN NOT dropped THEN line END,
                               chr(10) ORDER BY pos), '') AS cleaned_text,
           CAST(count(*) FILTER (NOT dropped) AS BIGINT) AS n_lines_kept,
           CAST(count(*) FILTER (dropped) AS BIGINT) AS n_lines_removed
    FROM cov GROUP BY doc_id
    """,
)
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINE-level boilerplate dedup (functions/dedup.
    drop_boilerplate_lines) — the CCNet/RefinedWeb first pass the
    span family doesn't cover: hash each LINE, drop every line whose
    fingerprint occurs in >= 3 DISTINCT documents (nav bars, cookie
    banners, copyright footers — boilerplate has no owner, so no
    copy survives, unlike ExactSubstr's owner-keeps semantics in
    q_dup_remove), reassemble the survivors in order.

    The fixture builds a 5-line page per document: a nav line shared
    by every same-``id%7`` doc (dropped), two content lines split
    from the doc text (kept — unique), a promo line shared by
    exactly TWO docs (``id//2`` pairs — below the threshold, KEPT:
    pins the >= boundary), and a copyright footer shared corpus-wide
    mod 3 (dropped).  The DuckDB oracle replays the rule by grouping
    the literal lines; the Spark side fingerprints with xxhash64 —
    a hash collision or a within-doc-repeat miscount breaks the
    hash.

    Scale: line text never shuffles (occurrences reduce to
    (id, pos, 8-byte fp) before both exchanges); the redaction is a
    row-local higher-order filter, the q_dup_remove rebuild
    doctrine."""
    from ..functions import dedup as DD

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    lines = docs.select(
        "doc_id",
        F.array(
            F.concat(
                F.lit("site "),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(" navigation home about contact"),
            ),
            F.expr("substring(text, 1, 80)"),
            F.expr("substring(text, 81, 100000)"),
            F.concat(
                F.lit("promo block "),
                F.expr("doc_id DIV 2").cast("string"),
            ),
            F.concat(
                F.lit("copyright example corp "),
                (F.col("doc_id") % 3).cast("string"),
            ),
        ).alias("lines"),
    )
    out = DD.drop_boilerplate_lines(
        lines, id_col="doc_id", lines_col="lines", min_docs=3
    )
    return out.select(
        "doc_id",
        F.array_join("kept", "\n").alias("cleaned_text"),
        F.size("kept").cast("bigint").alias("n_lines_kept"),
        (F.lit(5) - F.size("kept")).cast("bigint").alias("n_lines_removed"),
    )
