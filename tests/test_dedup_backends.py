"""Scale-path equivalence: the semi-join verify prefilter, the
similarity-join kernels and the simhash fingerprint backends are the
100 TB variants of the near-dup pipelines — each must produce the same
verified near-dup sets as the lab-scale defaults on the fixture
corpus."""

from __future__ import annotations

from lab5_lakehouse_etl_spark.functions import dedup as D
from lab5_lakehouse_etl_spark.session import load_table
from tests.conftest import SF_DIR


def _pairs(df):
    return sorted((r.id_a, r.id_b, r.jaccard) for r in df.collect())


def test_prefilter_verify_matches_corpus_verify(spark):
    docs = load_table(spark, SF_DIR, "documents")
    cands = D.minhash_candidate_pairs(docs)
    a = D.verified_near_dups(docs, cands, threshold=0.5, prefilter=False)
    b = D.verified_near_dups(docs, cands, threshold=0.5, prefilter=True)
    assert _pairs(a) == _pairs(b)



def test_prefix_join_exact_recall_hostile_thresholds(spark):
    """prefix_filter_jaccard_pairs must equal brute force at EVERY
    threshold, including ones whose float image rounds above the exact
    rational (t=0.3: fl(0.3*10)=3.0000000000000004, so an unslacked
    ceil() shortens the prefix and the length filter prunes the
    boundary pair |A|=3 ⊂ |B|=10 with J exactly 0.3)."""
    from pyspark.sql import functions as F

    rows = []
    for i in range(60):
        size = 2 + (i % 11)
        toks = sorted({(i * 7 + j * 13) % 40 for j in range(size)})
        rows.append((i, " ".join(f"t{v}" for v in toks)))
    # hand-built boundary pairs: J exactly == t for hostile thresholds
    rows.append((1000, "x1 x2 x3"))                       # ⊂ next, J=3/10
    rows.append((1001, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"))
    rows.append((1002, "y1 y2 y3 y4"))                    # i=2, J=2/8=0.25
    rows.append((1003, "y3 y4 y5 y6 y7 y8"))
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    sets = docs.select(
        "doc_id",
        F.array_distinct(F.split(F.lower(F.col("text")), r"\s+")).alias("s"),
    )
    a, b = sets.alias("a"), sets.alias("b")
    i_sz = F.size(F.array_intersect("a.s", "b.s"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (i_sz / (F.size("a.s") + F.size("b.s") - i_sz)).alias("j"),
        )
    )
    for t in (0.25, 0.3, 0.5, 0.75, 0.9):
        expect = sorted(
            (r.id_a, r.id_b)
            for r in brute.filter(F.col("j") >= F.lit(t)).collect()
        )
        got = sorted(
            (r.id_a, r.id_b)
            for r in D.prefix_filter_jaccard_pairs(docs, threshold=t).collect()
        )
        assert got == expect, f"t={t}: prefix join != brute force"
    # the hand-built boundary pairs must actually be in the t they test
    assert (1000, 1001) in {
        (r.id_a, r.id_b)
        for r in D.prefix_filter_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert (1002, 1003) in {
        (r.id_a, r.id_b)
        for r in D.prefix_filter_jaccard_pairs(docs, threshold=0.25).collect()
    }


def test_dense_vocab_kernel_matches_prefix_filter(spark):
    """The adaptive exact-Jaccard router's two kernels are both
    full-recall exact joins and must emit IDENTICAL
    (id_a, id_b, jaccard) rows — cross-checked on char-5-shingle sets,
    the low-entropy case that routes dense (and where prefix filtering
    is slow but still exact)."""
    docs = load_table(spark, SF_DIR, "documents")
    el = D.char_shingles("text", 5)
    dense = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.exact_jaccard_pairs(docs, 0.5, elements=el).collect()
    }
    prefix = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.prefix_filter_jaccard_pairs(
            docs, 0.5, elements=el
        ).collect()
    }
    assert dense == prefix
    assert dense  # fixture plants near-dups; empty means a broken join


def test_dense_vocab_kernel_edge_cases(spark):
    """Dense kernel handles empty sets (zero rows in the incidence
    matrix), singleton docs, and exact duplicates (J=1.0)."""
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta"),     # exact dup of 0
            (2, "epsilon zeta"),
            (3, ""),                           # empty token set
            (4, "alpha beta gamma echo"),      # J = 3/5 with 0 and 1
        ],
        "doc_id long, text string",
    )
    from pyspark.sql import functions as F

    el = F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.exact_jaccard_pairs(docs, 0.5, elements=el).collect()
    }
    assert got == {(0, 1, 1.0), (0, 4, 0.6), (1, 4, 0.6)}


def test_band_index_survives_laketable_roundtrip(spark, tmp_path):
    """The persisted index contract (q_dedup_index_store): band rows
    written to a LakeTable and read back must equal the freshly
    computed relation exactly — including the array<long> signature
    column, which is what the probe's estimate gate compares
    component-wise."""
    from lab5_lakehouse_etl_spark.functions import dedup as D
    from lab5_lakehouse_etl_spark.lakehouse import LakeTable
    from lab5_lakehouse_etl_spark.session import load_table
    from tests.conftest import SF_DIR

    base = load_table(spark, SF_DIR, "documents").filter("doc_id % 4 != 0")
    idx = D.minhash_band_index(base)
    t = LakeTable.create(
        idx.repartition("band"),
        str(tmp_path / "band_index"),
        partition_by=["band"],
    )
    stored = {
        (r.band, r.bucket, r.id, tuple(r.sig))
        for r in t.read(spark).collect()
    }
    fresh = {
        (r.band, r.bucket, r.id, tuple(r.sig)) for r in idx.collect()
    }
    assert stored == fresh


def test_dense_kernel_equals_prefix_kernel_property(spark):
    """Hypothesis pin of the router's core contract: the dense
    binary-incidence matmul kernel and the prefix-filter kernel are
    the SAME exact set-similarity join — identical (id_a, id_b,
    jaccard-rounded-6) rows on arbitrary corpora, including pairs
    whose Jaccard sits EXACTLY on the 0.5 threshold (|A∩B|/|A∪B| =
    2/4 planted below) and rows whose rounded jaccard lands on a
    HALF_UP tie — the cases where a kernel that rounded differently
    or compared on floats would diverge."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    alphabet = [f"t{i}" for i in range(12)]  # tiny vocab: dense regime
    docs_strategy = st.lists(
        st.sets(st.sampled_from(alphabet), min_size=1, max_size=8),
        min_size=2,
        max_size=12,
    )

    @given(sets=docs_strategy)
    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def run(sets):
        rows = [(i, " ".join(sorted(s))) for i, s in enumerate(sets)]
        # plant an exact-threshold pair: {a b} vs {a c} has J = 1/3;
        # {a b c} vs {a b d} has J = 2/4 = 0.5 exactly
        base = len(rows)
        rows += [(base, "xa xb xc"), (base + 1, "xa xb xd")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        elements = F.expr("split(text, ' ')")
        dense = D.jaccard_pairs_dense_vocab(
            docs.select(
                F.col("doc_id").alias("id"),
                F.array_distinct(F.expr("split(text, ' ')")).alias("toks"),
            ),
            0.5,
            vocab=sorted({t for s in sets for t in s}
                         | {"xa", "xb", "xc", "xd"}),
            n_blocks=3,
        )
        prefix = D.prefix_filter_jaccard_pairs(
            docs, 0.5, id_col="doc_id", text_col="text", elements=elements
        )
        got_d = sorted(
            (r.id_a, r.id_b, r.jaccard) for r in dense.collect()
        )
        got_p = sorted(
            (r.id_a, r.id_b, r.jaccard) for r in prefix.collect()
        )
        assert got_d == got_p
        assert (base, base + 1, 0.5) in got_d  # the planted boundary pair

    run()


def test_simhash_backends_bit_identical(spark):
    # stronger than output-equivalence: the golden tests pin the RAW
    # Hamming pair set, so both fingerprint backends must agree at the
    # fingerprint level, bit for bit (incl. the bit-63 sign wraparound)
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("text").isNotNull()
    )
    expr_fp = {
        r.id: r.fp
        for r in docs.select(
            F.col("doc_id").alias("id"), D.simhash64("text").alias("fp")
        ).collect()
    }
    arrow_fp = {
        r.id: r.fp
        for r in D._simhash_fp_arrow(docs, "doc_id", "text").collect()
    }
    assert expr_fp == arrow_fp
    assert any(v < 0 for v in expr_fp.values())  # bit 63 exercised

    pairs_arrow = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_near_dups(docs, max_hamming=6).collect()
    )
    pairs_expr = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_near_dups(docs, max_hamming=6, backend="expr").collect()
    )
    assert pairs_arrow == pairs_expr


def test_probe_index_hot_bucket_cap(spark):
    # mega-bucket skew mitigation: buckets above the cap are excluded
    # from candidate generation; a planted near-dup pair survives via
    # its other (non-hot) bands, and sub-cap corpora are byte-identical
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("text").isNotNull()
    )
    idx = D.minhash_band_index(docs)
    probe = D.minhash_band_index(
        docs.limit(50).select(
            (F.col("doc_id") + 10_000).alias("doc_id"), "text"
        )
    )
    # fixture scale: no bucket reaches the default cap, so capped and
    # uncapped candidates are identical
    max_bucket = (
        idx.groupBy("band", "bucket").count().agg(F.max("count")).first()[0]
    )
    assert max_bucket < 256
    c_def = sorted(map(tuple, D.minhash_probe_index(idx, probe).collect()))
    c_off = sorted(
        map(
            tuple,
            D.minhash_probe_index(idx, probe, hot_bucket_cap=None).collect(),
        )
    )
    assert c_def == c_off and len(c_def) > 0

    # force the cap to engage: cap=1 makes EVERY bucket shared by the
    # planted copy and its twin hot in SOME bands, but an exact copy
    # shares ALL bands, so candidates survive unless every bucket has
    # >1 member; verify the planted pair survives at a cap that prunes
    # the biggest buckets only
    cap = max(2, int(max_bucket) - 1)
    c_cap = D.minhash_probe_index(idx, probe, hot_bucket_cap=cap)
    # each probe doc is an exact copy of an indexed doc: its twin must
    # remain a candidate (est 1.0) even with the largest buckets gone
    twins = c_cap.filter(
        F.col("id_b") - F.col("id_a") == 10_000
    ).count()
    assert twins == 50


def test_hot_bucket_cap_still_catches_mega_cluster_duplicates(spark):
    # r11 review: the first cap cut EXCLUDED hot buckets, which would
    # have ADMITTED a copy of a >cap duplicate cluster (all its shared
    # buckets are hot precisely because of the duplicates). The
    # representative-sampling cap must still reject it.
    from pyspark.sql import functions as F

    boiler = "the same boilerplate footer text repeated on every page"
    cluster = spark.range(0, 40).selectExpr(
        "id AS doc_id", f"'{boiler}' AS text"
    )
    idx = D.minhash_band_index(cluster)
    # every band bucket of the cluster holds all 40 members
    assert (
        idx.groupBy("band", "bucket").count().agg(F.min("count")).first()[0]
        == 40
    )
    probe = D.minhash_band_index(
        spark.createDataFrame([(999, boiler)], "doc_id long, text string")
    )
    # cap far below the cluster size: representatives must still match
    cands = D.minhash_probe_index(idx, probe, hot_bucket_cap=5)
    partners = {r.id_a for r in cands.collect()}
    assert partners, "copy of a mega-cluster was ADMITTED under the cap"
    # bounded: at most cap representatives per bucket contribute
    assert len(partners) <= 5
    # and capping is deterministic: smallest ids are the representatives
    assert partners == set(range(len(partners)))
