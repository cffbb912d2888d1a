"""ANN quality pins: approximate operators are 'approximate by
contract', not 'unverified'. Three properties hold deterministically
(fixed seeds, fixed fixtures):

1. design regime — clustered corpora (what real embeddings look like)
   recall perfectly even with a narrow probe;
2. worst case — the fixtures' isotropic random vectors still clear a
   recall floor because adaptive probing widens to its candidate
   budget and Hamming distance correlates with angle;
3. precision — whatever the probe returns is EXACT (re-rank inside
   probed cells computes true cosine), so returned scores always match
   brute force for the same ids.
"""

from __future__ import annotations

import numpy as np

from lab5_lakehouse_etl_spark.functions import similarity as S
from lab5_lakehouse_etl_spark.session import load_table
from tests.conftest import SF_DIR


def _planted(spark, n_clusters=40, per=5, dim=16, noise=0.05, seed=7):
    rng = np.random.RandomState(seed)
    base = rng.randn(n_clusters, dim).astype("float32")
    rows, vid = [], 0
    for b in base:
        for _ in range(per):
            v = b + noise * rng.randn(dim).astype("float32")
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"), rows


def test_ivf_recalls_clustered_neighbors_perfectly(spark):
    pl, rows = _planted(spark)
    q = rows[0][1]
    bf = [r.vec_id for r in S.topk_cosine(pl, q, 5).collect()]
    ivf = [
        r.vec_id
        for r in S.ivf_topk(pl, q, k=5, n_planes=8, n_probe_bits=1).collect()
    ]
    assert set(bf) == set(ivf)  # recall 1.0 with a narrow fixed probe


def test_ivf_adaptive_budget_recall_floor_on_random_fixture(spark):
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    q = emb.orderBy("vec_id").first().embedding
    bf = {r.vec_id for r in S.topk_cosine(emb, q, 10).collect()}
    ivf = {r.vec_id for r in S.ivf_topk(emb, q, k=10, n_planes=8).collect()}
    # isotropic vectors are ANN's worst case; the adaptive budget still
    # scans enough cells to clear a floor (measured 6/10 at sf0.001,
    # 8/10 at sf0.01 — deterministic, margin left for fixture drift)
    assert len(bf & ivf) >= 5


def test_ivf_returned_scores_are_exact(spark):
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    q = emb.orderBy("vec_id").first().embedding
    truth = {r.vec_id: r.cosine_sim for r in S.topk_cosine(emb, q, 1000).collect()}
    for r in S.ivf_topk(emb, q, k=10, n_planes=8).collect():
        assert truth[r.vec_id] == r.cosine_sim  # exact re-rank, no estimate


def test_lsh_pairs_subset_of_exact_with_exact_scores(spark):
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    exact = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in S.exact_pairs_blocked(emb, threshold=0.3).collect()
    }
    # 6 planes: a cos≈0.3 pair agrees per-bit with p≈0.6, so the full
    # bucket collides with p≈0.6^6≈5% — enough of the 900+ exact pairs
    # collide to make the check non-trivial (12 planes would find none
    # on this isotropic corpus: 0.6^12 ≈ 0.2%)
    lsh = S.ann_pairs_lsh(emb, n_planes=6, seed=42, min_cosine=0.3).collect()
    assert lsh
    for r in lsh:
        key = (min(r.id_a, r.id_b), max(r.id_a, r.id_b))
        assert key in exact  # precision 1.0: no false pairs
        assert exact[key] == r.cosine_sim


def test_pq_recall_and_compression(spark):
    """PQ shortlist+re-rank recall: for 5 planted queries, the 10x-ADC
    shortlist followed by exact re-rank must recover most of the true
    L2 top-10 (each query >= 0.6, mean >= 0.75 on the fixture), and the
    code representation must actually be m integers per vector — the
    32x-vs-float32 memory claim."""
    import statistics

    from pyspark.sql import functions as F

    from lab5_lakehouse_etl_spark.functions import similarity as S
    from lab5_lakehouse_etl_spark.session import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    books = S.pq_train(emb, m=8, k=16, iters=5)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    codes = S.pq_encode(emb, books).localCheckpoint()
    row = codes.first()
    assert len(row["codes"]) == 8
    assert all(0 <= c < 16 for c in row["codes"])
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    recalls = []
    for qid in (0, 7, 33, 101, 250):
        q = emb.filter(F.col("vec_id") == qid).select("embedding").first()[0]
        got = {r.vec_id for r in S.pq_search(codes, emb, books, q, k=10).collect()}
        ql = F.array(*[F.lit(float(x)) for x in q])
        d = F.aggregate(
            F.zip_with("v", ql, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0).cast("double"),
            lambda acc, z: acc + z,
        )
        exact = {
            r.vec_id
            for r in base.select("vec_id", d.alias("d"))
            .orderBy("d", "vec_id")
            .limit(10)
            .collect()
        }
        rec = len(got & exact) / 10
        assert rec >= 0.6, (qid, rec)
        recalls.append(rec)
    assert statistics.mean(recalls) >= 0.75, recalls


def test_knn_graph_equals_bruteforce_with_planted_duplicates(spark):
    """knn_graph's blocked partial-top-k must equal the naive oracle
    semantics — (round6(fold cosine) DESC, nbr ASC) per src — on a
    corpus salted with EXACT duplicate vectors, the tie shape that
    stresses both the local-cut margin and the id tie-break."""
    from decimal import ROUND_HALF_UP, Decimal

    rng = np.random.RandomState(11)
    dim, n = 12, 60
    vecs = rng.randn(n, dim).astype("float32")
    # plant exact-duplicate groups: ids 0-3 share one vector, 10-11
    # another — their mutual cosines tie exactly at 1.0
    vecs[1] = vecs[2] = vecs[3] = vecs[0]
    vecs[11] = vecs[10]
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    k = 5
    got = {
        (r.src, r.nbr): (r.knn_rank, r.sim)
        for r in S.knn_graph(df, k=k, n_blocks=3).collect()
    }

    def fold_cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            x, y = float(x), float(y)
            dot += x * y
            na += x * x
            nb += y * y
        return dot / (na**0.5 * nb**0.5)

    def r6(x):  # Spark/DuckDB round(): HALF_UP on the exact double
        return float(
            Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    V = [[float(x) for x in v] for v in vecs]
    exp = {}
    for i in range(n):
        sims = sorted(
            ((r6(fold_cos(V[i], V[j])), j) for j in range(n) if j != i),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        for rank, (s, j) in enumerate(sims, 1):
            exp[(i, j)] = (rank, s)
    assert got == exp


def test_cross_pairs_blocked_equals_bruteforce(spark):
    """cross_pairs_blocked (the asymmetric decontamination kernel) on a
    planted corpus: identical pair set and identical re-scored cosines
    to the per-pair brute force, including vectors engineered near the
    threshold boundary (where the candidate scan's 1e-9 margin and the
    sequential-fold re-score must agree on membership)."""
    from pyspark.sql import functions as F

    df, rows = _planted(spark, n_clusters=20, per=4, dim=16, seed=11)
    a_df = df.filter(F.col("vec_id") % 3 != 0)
    b_df = df.filter(F.col("vec_id") % 3 == 0)
    got = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in S.cross_pairs_blocked(a_df, b_df, threshold=0.8).collect()
    }
    import numpy as np

    vecs = {vid: np.asarray(v, dtype=np.float64) for vid, v in rows}
    want = {}
    for ia, va in vecs.items():
        if ia % 3 == 0:
            continue
        for ib, vb in vecs.items():
            if ib % 3 != 0:
                continue
            # sequential fold like the declared cosine
            dot = 0.0
            na = 0.0
            nb = 0.0
            for x, y in zip(va, vb):
                dot += x * y
                na += x * x
                nb += y * y
            c = dot / (np.sqrt(na) * np.sqrt(nb))
            if c >= 0.8:
                want[(ia, ib)] = round(c, 4)
    assert got == want
    assert len(want) > 0  # planted clusters guarantee cross-side pairs


def test_merge_covered_spans_composite_key_matches_per_key_runs(spark):
    """The composite-key form of merge_covered_spans must equal running
    the single-key merge independently per key-pair — islands never
    bleed across (train, test) pairs that share a train doc."""
    from pyspark.sql import functions as F

    occ = spark.createDataFrame(
        [
            # same train doc 1, two different test docs: overlapping
            # starts must NOT merge across the pair boundary
            (1, 10, 0), (1, 10, 1), (1, 10, 3),
            (1, 20, 2), (1, 20, 9),
            (2, 10, 5),
        ],
        "a long, b long, start long",
    )
    from lab5_lakehouse_etl_spark.functions import dedup as D

    got = sorted(
        (r.a, r.b, r.span_start, r.span_len)
        for r in D.merge_covered_spans(occ, n=5, id_col=["a", "b"]).collect()
    )
    # per-pair truth with n=5: (1,10): starts {0,1,3} one island
    # (0..7 covered, len 3+5-0=8); (1,20): starts {2,9} -> 9 > 2+4+1,
    # two islands; (2,10): one
    assert got == [
        (1, 10, 0, 8),
        (1, 20, 2, 5), (1, 20, 9, 5),
        (2, 10, 5, 5),
    ]


def test_index_append_is_load_bearing(spark, tmp_path):
    """q_ann_index_append's found_self boolean is only reachable
    through the append: a probe against the BASE-ONLY index cannot
    return the query vector (vec 0 lives in the batch split), and the
    same probe after the cell-bucketed append must.  Pins that
    appended files are visible to both the partition pruning and the
    manifest-derived cell histogram."""
    from pyspark.sql import functions as F

    from lab5_lakehouse_etl_spark.lakehouse import LakeTable

    emb = load_table(spark, SF_DIR, "embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    planes = S.hyperplanes(len(qv), n_planes=8, seed=42)
    cell = S.lsh_bucket("embedding", planes)
    base = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    t = LakeTable.create(
        base.withColumn("cell", cell).repartition("cell"),
        str(tmp_path / "idx"),
        partition_by=["cell"],
    )

    def probe_ids():
        return {
            r.vec_id
            for r in S.ivf_search_bucketed(
                t.read(spark), qv, k=10, n_planes=8, seed=42,
                min_candidates_factor=64,
                hist=t.partition_histogram("cell"),
            ).collect()
        }

    assert 0 not in probe_ids()  # base-only index cannot know vec 0
    t.append(spark, batch.withColumn("cell", cell).repartition("cell"))
    assert 0 in probe_ids()  # the append made it probeable


def test_recall_monitor_detects_boundary_drift(spark, tmp_path):
    """r10 verdict #7: appends never re-cluster, so a drifting stream
    can land where the fixed hyperplane geometry is blind — a tight
    new cluster centered in the NULL SPACE of every hyperplane has
    near-zero plane dots, so its members' sign patterns are noise and
    the cluster scatters across all 2^n cells.  Probe recall from that
    slice collapses while the healthy (cell-aligned) slice stays at
    1.0 — exactly the silent degradation the monitor must surface."""
    from pyspark.sql import functions as F

    from lab5_lakehouse_etl_spark.lakehouse import LakeTable
    from lab5_lakehouse_etl_spark.queries.similarity_ops import (
        ann_probe_recall,
    )

    dim, n_planes, k = 16, 6, 10
    planes = np.array(S.hyperplanes(dim, n_planes=n_planes, seed=42))
    rng = np.random.default_rng(7)

    # healthy base: 4 tight clusters with big hyperplane margins (each
    # cluster lives inside ONE cell — the shape real embeddings take)
    centers = rng.normal(size=(4, dim)) * 4.0
    base = np.concatenate(
        [c + rng.normal(scale=0.01, size=(100, dim)) for c in centers]
    )

    # drifted batch: centered in the hyperplanes' common null space
    # (project out every plane normal, twice for numerical safety)
    u = rng.normal(size=dim)
    q_basis, _ = np.linalg.qr(planes.T)  # orthonormal span of normals
    u = u - q_basis @ (q_basis.T @ u)
    u = u / np.linalg.norm(u)
    assert max(abs(planes @ u)) < 1e-9
    drift = u[None, :] * 4.0 + rng.normal(scale=0.02, size=(80, dim))

    vecs = np.concatenate([base, drift])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    cell = S.lsh_bucket("embedding", [list(map(float, p)) for p in planes])
    base_df = df.filter(F.col("vec_id") < len(base))
    drift_df = df.filter(F.col("vec_id") >= len(base))
    t = LakeTable.create(
        base_df.withColumn("cell", cell).repartition("cell"),
        str(tmp_path / "ivf"),
        partition_by=["cell"],
    )
    t.append(spark, drift_df.withColumn("cell", cell).repartition("cell"))
    stored, hist = t.read(spark), t.partition_histogram("cell")

    # drifted cluster really is scattered: far more distinct cells
    # than the 4 the healthy clusters occupy
    drift_cells = (
        drift_df.withColumn("cell", cell).select("cell").distinct().count()
    )
    assert drift_cells > 10

    kw = dict(k=k, n_planes=n_planes, seed=42, min_candidates_factor=4)
    healthy = ann_probe_recall(
        spark, stored, hist, df, [0, 100, 200, 300], **kw
    )
    drifted = ann_probe_recall(
        spark, stored, hist, df, [len(base), len(base) + 7, len(base) + 31], **kw
    )
    h_mean = sum(r for _, r in healthy) / len(healthy)
    d_mean = sum(r for _, r in drifted) / len(drifted)
    assert h_mean == 1.0          # aligned clusters: perfect recall
    assert d_mean < 0.4           # drifted slice: alarm-level collapse


def test_recall_monitor_no_probes_is_empty(spark):
    from lab5_lakehouse_etl_spark.queries.similarity_ops import ann_probe_recall

    corpus = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<float>")
    assert ann_probe_recall(spark, corpus, {}, corpus, []) == []
