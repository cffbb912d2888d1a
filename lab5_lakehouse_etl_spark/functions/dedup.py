"""Deduplication operator family for document corpora.

Four tiers, all deterministic (fixed xxhash64 seeds, no randomness):

1. exact     — hash-groupBy on a fingerprint (md5 of normalized text).
2. minhash   — MinHash signatures + LSH banding → candidate pairs →
               exact Jaccard verify. Entirely JVM-side lambda
               expressions; NO explode of shingles, NO Python.
3. simhash   — 64-bit SimHash fingerprints; near-dups = small Hamming
               distance within LSH bands of the fingerprint.
4. ngram     — word n-gram Jaccard verify (shares the minhash
               candidate machinery with a different shingle fn).

Scale design: signatures are computed in a narrow map (one pass over
text, no shuffle). The only shuffles are (a) the explode of B band keys
per doc followed by a self-join on (band, bucket) — the standard LSH
join, linear in candidates, never all-pairs; (b) the final key join to
fetch shingle arrays for verification, which joins only candidate
pairs. At 100 TB: band buckets are salted-friendly (bucket keys are
hashes → uniform), and the verify join is orders smaller than the
corpus.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def char_shingles_sql(text_col: str, k: int = 5) -> str:
    """SQL for the array of distinct character k-shingles."""
    return (
        f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)),"
        f" i -> substring({text_col}, i, {k})))"
    )


def char_shingles(text_col: str, k: int = 5) -> F.Column:
    """Array of distinct character k-shingles (JVM lambda, no explode)."""
    return F.expr(char_shingles_sql(text_col, k))


def word_ngrams_sql(text_col: str, n: int = 3) -> str:
    """SQL for the array of distinct word n-grams.

    The `transform(array(split(...)), toks -> ...)[0]` wrapper is a
    poor-man's LET: it binds the token array once per row. Referencing
    `split(...)` directly inside the position lambda would re-split the
    whole text once per n-gram position (quadratic in document length —
    measured 10× slowdown on the fixture corpus).

    Whitespace is the EXPLICIT class [ \\t\\n\\r\\f], never the \\s
    shorthand: Java's \\s includes vertical tab (\\x0B), DuckDB/RE2's
    does not, and the oracles split with RE2 — the explicit class IS
    RE2's \\s, so both engines tokenize identically on any corpus
    (the q_text_normalize pin, applied family-wide in r9).
    """
    return f"""transform(array(split(lower({text_col}),
                '[ \\\\t\\\\n\\\\r\\\\f]+')), toks ->
              array_distinct(transform(
                sequence(1, greatest(size(toks) - {n - 1}, 1)),
                i -> array_join(slice(toks, i, {n}), ' '))))[0]"""


def word_ngrams(text_col: str, n: int = 3) -> F.Column:
    """Array of distinct word n-grams (see word_ngrams_sql)."""
    return F.expr(word_ngrams_sql(text_col, n))


def word_ngrams_all_sql(text_col: str, n: int = 3) -> str:
    """word_ngrams_sql WITHOUT the array_distinct: every n-gram in
    POSITION ORDER (element i starts at 0-based token position i).
    For probe sides that explode values (duplicate grams are harmless
    under EXISTS/semi-join semantics, so the per-row hash-set dedup is
    pure overhead — q_decontaminate's train side) and for consumers
    that need positions via posexplode (q_decontaminate_spans).

    One definition on purpose: the whitespace-class migration (r9) had
    to patch hand-inlined copies of this transform one by one — the
    exact per-copy drift that produced the \\s divergence it fixed.
    Tokenization changes now land here and in word_ngrams_sql only."""
    return f"""transform(array(split(lower({text_col}),
                '[ \\\\t\\\\n\\\\r\\\\f]+')), toks ->
              transform(
                sequence(1, greatest(size(toks) - {n - 1}, 1)),
                i -> array_join(slice(toks, i, {n}), ' ')))[0]"""


def word_ngrams_all(text_col: str, n: int = 3) -> F.Column:
    """Column form of :func:`word_ngrams_all_sql`."""
    return F.expr(word_ngrams_all_sql(text_col, n))


import random as _random


def _affine_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine MinHash permutations.

    a is odd and < 2^29, b < 2^32: with the base hash masked to 32 bits,
    a*h + b < 2^61 — no 64-bit overflow, so the expression is safe under
    ANSI mode (where overflow throws instead of wrapping).
    """
    rng = _random.Random(seed)
    return [
        (rng.randrange(1, 1 << 29) | 1, rng.randrange(0, 1 << 32))
        for _ in range(num_hashes)
    ]


def minhash_signature_sql(shingles_sql: str, num_hashes: int = 32) -> str:
    """SQL for a MinHash signature computed straight from a shingle
    expression, with every intermediate LET-bound.

    Two hard-won rules are encoded here:

    1. (a·h + b) mod p, p = 2^31-1 prime: WITHOUT the modulus the
       affine map is monotonic in h, every family shares the same
       argmin shingle, and all H signature components collapse to one.
    2. The base-hash array is bound ONCE via the transform(array(...),
       hs -> ...)[0] LET trick. Catalyst's CollapseProject would inline
       a column reference into all H array_min subtrees, and
       higher-order functions run interpreted (no codegen, no common-
       subexpression elimination) — measured 30× slowdown without it.

    One SQL string (not a Python-composed tree): H subtrees built via
    py4j cost seconds of round-trips before Spark ever sees them.
    """
    p = 2147483647
    mins = ", ".join(
        f"array_min(transform(hs, h -> pmod(h * {a}L + {b}L, {p}L)))"
        for a, b in _affine_params(num_hashes)
    )
    return (
        f"transform(array(transform({shingles_sql}, s -> xxhash64(s) & 4294967295)), "
        f"hs -> array({mins}))[0]"
    )


def _band_keys(sig_col: str, num_hashes: int, bands: int) -> F.Column:
    """LSH banding: hash each contiguous slice of the signature."""
    rows_per_band = num_hashes // bands
    structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', "
        f"hash(slice({sig_col}, {b * rows_per_band + 1}, {rows_per_band})))"
        for b in range(bands)
    )
    return F.expr(f"array({structs})")


def lsh_collision_prob(j: float, bands: int, rows: int) -> float:
    """P[two docs at signature-basis Jaccard ``j`` share >= 1 band
    bucket] under (bands x rows) LSH banding: 1 - (1 - j^r)^b."""
    return 1.0 - (1.0 - j**rows) ** bands


def minhash_params(
    n_docs: int,
    target_jaccard: float = 0.9,
    fp_budget: float = 0.05,
    miss_budget: float = 1e-3,
) -> tuple[int, int]:
    """Derive (num_hashes, bands) from CORPUS STATISTICS instead of a
    hand-tuned constant — the r8 scale-stress response made automatic
    (10x docs under FIXED (32, 8) banding measured x15 wall: collision
    density among moderate-similarity pairs grows with corpus size, and
    the fix is a SHARPER S-curve, i.e. more rows per band, which needs
    more hashes to keep recall).

    Selection, in contract order:

    1. ``num_hashes`` tiers on n_docs: 32 up to 20k docs (the lab
       regime — resolves to the historical (32, 8), so every fixture
       SF keeps byte-identical candidate sets), 128 beyond (rows-per-
       band 8 becomes reachable at recall >= 1 - miss_budget; the
       intermediate 64 cannot hold the recall floor at r=8, so it
       would only ever DOUBLE collision mass — measured reasoning in
       the chooser below, test-pinned).
    2. Among band counts dividing num_hashes, keep those with
       P[recall a target_jaccard pair] >= 1 - miss_budget (the planted
       near-dup guarantee the oracles pin), then pick the one with the
       smallest false-positive AREA — the integral of the collision
       curve over the uninteresting region [0, target/2], a uniform-
       background proxy for candidate mass per pair.  fp_budget
       rejects curves so smeared that banding stops pruning (falls
       back to the min-FP feasible choice if none fits the budget).

    Returns the historical (32, 8) for every corpus <= 20k docs;
    (128, 16) — rows-per-band 8 — past it.  Persisted band indexes
    (q_dedup_index_store family) must pick params at index CREATION
    and keep them for the index lifetime: a probe's signatures only
    match an index built with the same (num_hashes, bands, seed).

    The 20k boundary is MEASURED conservative (r10 crossover sweep,
    tools/scale_stress.py --banding-crossover, 20k-word Zipf corpora
    at 25k/50k/100k/200k docs, README "banding crossover"): the scale
    tier's wall is faster or equal at EVERY size at/above the
    boundary (x0.54-x0.85 of the lab tier at 25k-100k, tied at 200k)
    with identical verified pairs throughout — so switching at 20k
    never pays a measured penalty; below it the lab tier is kept for
    byte-identical fixture candidate sets, not for speed.  (The r9
    single-shot A/B that showed the scale tier ~1.3x SLOWER at 50k
    did not reproduce under the controlled sweep — consistent with
    the r8 stress note that single runs are run-order sensitive.)
    """
    num_hashes = 32 if n_docs <= 20_000 else 128
    floor = 1.0 - miss_budget
    fp_hi = target_jaccard / 2.0
    grid = [fp_hi * k / 64.0 for k in range(65)]

    def fp_area(b: int, r: int) -> float:
        vals = [lsh_collision_prob(j, b, r) for j in grid]
        return sum(
            (vals[i] + vals[i + 1]) / 2.0 * (grid[i + 1] - grid[i])
            for i in range(64)
        )

    cands = []
    b = 1
    while b <= num_hashes:
        if num_hashes % b == 0:
            r = num_hashes // b
            if lsh_collision_prob(target_jaccard, b, r) >= floor:
                cands.append((fp_area(b, r), b))
        b *= 2
    if not cands:  # unreachable floor at this H: max-recall fallback
        best = max(
            (lsh_collision_prob(target_jaccard, bb, num_hashes // bb), bb)
            for bb in (8, 16, 32)
        )
        return num_hashes, best[1]
    within = [c for c in cands if c[0] <= fp_budget]
    return num_hashes, min(within or cands)[1]


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_fn=None,
    est_threshold: float = 0.4,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash + LSH banding + signature
    pre-filter.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b. Docs sharing
    ≥1 band bucket become candidates (banding guarantee: P[candidate]
    ≈ 1-(1-j^r)^b for Jaccard j); the cheap signature estimate
    (fraction of equal minhash components, computed once per deduped
    pair) then discards low-similarity collisions BEFORE the expensive
    exact-verify join ever sees them.

    The default signature basis is word BIgrams, not char shingles:
    char k-shingles over a small vocabulary overlap heavily between
    unrelated docs (baseline Jaccard ~0.4+), which floods the bands.
    Word n-grams keep unrelated docs near 0 while true near-dups stay
    high — candidates shrink by orders of magnitude.

    Signatures are one JVM SQL expression per row
    (:func:`minhash_signature_sql`): interpreted HOFs, but zero
    Python-worker round trips.
    """
    spark = df.sparkSession
    # Fixture-parallelism: see session.spread — conditional, so a real
    # corpus whose scan is already split shuffles nothing.
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    from ..session import spread as _spread
    # NULL text is "no content", never a dup verdict (the exact kernels
    # and diagnose_missing_pair already say so): without this filter
    # every NULL doc shares the signature of [NULL] shingles
    # (xxhash64(NULL) = seed) and verifies at jaccard 1.0 against every
    # other NULL doc (r10 review).
    spread = _spread(df.filter(F.col(text_col).isNotNull()), id_col, n_part)
    if shingle_fn is None:
        shingle_fn = lambda c: word_ngrams_sql(c, 2)  # noqa: E731
    sigs_raw = spread.select(
        F.col(id_col).alias("id"),
        F.expr(minhash_signature_sql(shingle_fn(text_col), num_hashes)).alias("sig"),
    )
    # Cache AT THE SIGNATURE: (a) the sig column is referenced by 8 band
    # hashes + the estimate — CollapseProject would re-evaluate the whole
    # signature pipeline per reference without this barrier; (b) the
    # self-join below would build it once per side. id+sig is
    # 8B×(1+H) per doc — negligible vs the corpus.
    sigs = sigs_raw.cache()
    sigs.count()  # eager: a cold cache would be built twice by the self-join
    banded = sigs.withColumn("bands", _band_keys("sig", num_hashes, bands))
    buckets = banded.select(
        "id", "sig", F.explode("bands").alias("bk")
    ).select(
        "id", "sig", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    est = (
        F.aggregate(
            F.zip_with(
                F.col("sig_a"),
                F.col("sig_b"),
                lambda x, y: F.when(x == y, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / num_hashes
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= est_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def verified_near_dups(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_fn=char_shingles,
    threshold: float = 0.6,
    prefilter: bool | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs.

    Joins the (small) candidate set back to shingle arrays and computes
    |A∩B| / |A∪B| with JVM array_intersect/array_union — the verify
    join touches only candidates, never the full corpus cross-product.

    ``prefilter`` picks where shingles are computed:

    - False: corpus-wide, one narrow pass. Fewer stages — measured
      fastest at lab scale, where stage-launch overhead dominates.
    - True: semi-join the corpus down to docs that appear in some
      candidate pair first, then shingle only survivors. Three extra
      stages (candidate cache + id distinct + semi-join) buy a shingle
      pass that is orders of magnitude smaller — the 100 TB path, where
      compute dominates.
    - None (default): auto — prefilter iff the corpus scan has >64
      input partitions (a multi-GB corpus; the fixtures have 1).
    """
    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    if prefilter is None:
        prefilter = df.rdd.getNumPartitions() > 64
    from ..session import spread as _spread
    # NULL-text docs have no shingles to verify (see
    # minhash_candidate_pairs) — the inner verify joins then drop any
    # candidate touching one, which is the contract
    base = _spread(df.filter(F.col(text_col).isNotNull()), id_col, n_part)
    if prefilter:
        # candidates cached: three consumers (two id projections + the
        # verify join) would each re-run the whole LSH pipeline.
        candidates = candidates.cache()
        ids = (
            candidates.select(F.col("id_a").alias("id"))
            .unionByName(candidates.select(F.col("id_b").alias("id")))
            .distinct()
        )
        base = base.join(ids, base[id_col] == ids["id"], "left_semi")
    sh = (
        base.select(F.col(id_col).alias("id"), shingle_fn(text_col).alias("sh"))
        .cache()
    )
    out = (
        candidates.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), on="id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), on="id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def simhash64(text_col: str) -> F.Column:
    """64-bit SimHash fingerprint from whitespace tokens.

    Per token: xxhash64; per bit position: majority vote of token bits;
    fingerprint bit i set iff vote > 0. One SQL expression of nested
    JVM lambdas (expr form because shiftleft/shiftrightunsigned need
    column bit-counts, which the Python API doesn't accept). The token
    hash array is LET-bound via transform(array(...), hs -> ...)[0] so
    it is computed once per row, not once per bit position.

    Tokenizes with the explicit [ \\t\\n\\r\\f] class like the rest of
    the word_ngrams family (r9) — the fingerprint itself never meets an
    oracle, but a \\x0B corpus must not tokenize differently here than
    in the exact truth set it is recalled against.
    """
    return F.expr(
        f"""
        transform(array(transform(split(lower({text_col}), '[ \\\\t\\\\n\\\\r\\\\f]+'), t -> xxhash64(t))),
          hs -> aggregate(
            sequence(0, 63),
            cast(0 as bigint),
            (acc, i) -> acc + if(
              aggregate(hs, 0,
                (a, h) -> a + if((shiftrightunsigned(h, i) & 1) = 1, 1, -1)
              ) > 0,
              shiftleft(cast(1 as bigint), i),
              cast(0 as bigint)
            )
          ))[0]
        """
    )


def _simhash_fp_arrow(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """SimHash fingerprints with the per-token xxhash64 computed
    JVM-SIDE (identical tokenization + base hash to :func:`simhash64`)
    and only the 64-bit majority vote vectorized in numpy via
    mapInPandas.

    Why split there: the vote is the interpreted-lambda hot spot —
    ``simhash64``'s nested aggregate evaluates 64 × T lambda steps per
    row (~1 µs each; measured 2.8 s of the query's wall at sf0.1) —
    while the token hash is one codegen'd xxhash64 per token.  Keeping
    the base hash JVM-side makes the two backends produce
    BIT-IDENTICAL fingerprints (pinned in tests/test_dedup_backends.py):
    simhash's golden tests pin the raw Hamming pair set, so the
    backends must agree at the fingerprint level.  The
    unsigned bit-63 wraparound matches the JVM's two's-complement
    ``shiftleft(1L, 63)`` exactly (distinct powers of two never carry).
    Narrow map, no shuffle; Arrow moves (id, T×8-byte hash array) per
    row, never the text."""
    import numpy as np
    import pandas as pd

    hs_df = df.select(
        F.col(id_col).alias("id"),
        F.expr(
            f"transform(split(lower({text_col}), '[ \\\\t\\\\n\\\\r\\\\f]+'), "
            "t -> xxhash64(t))"
        ).alias("hs"),
    )
    shifts = np.arange(64, dtype=np.uint64)

    def batches(it):
        for pdf in it:
            fps = np.zeros(len(pdf), dtype=np.int64)
            for j, arr in enumerate(pdf["hs"]):
                a = np.asarray(arr, dtype=np.int64).view(np.uint64)
                if a.size == 0:
                    continue  # vote 0 everywhere -> fingerprint 0
                bits = (a[:, None] >> shifts) & np.uint64(1)  # (T, 64)
                votes = bits.sum(axis=0, dtype=np.int64) * 2 - a.size
                fps[j] = (
                    ((votes > 0).astype(np.uint64) << shifts)
                    .sum(dtype=np.uint64)
                    .astype(np.int64)
                )
            yield pd.DataFrame({"id": pdf["id"], "fp": fps})

    return hs_df.mapInPandas(batches, schema="id long, fp long")


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    backend: str = "arrow",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    LSH trick (pigeonhole): split the 64-bit fingerprint into
    ``max_hamming + 1`` chunks — a pair differing in ≤ max_hamming bits
    cannot touch every chunk, so it MUST share ≥1 exact chunk, and the
    self-join on chunk equality has full recall without all-pairs.
    (A fixed 4-chunk split only guarantees Hamming ≤ 3; asking for 8
    would silently miss pairs whose differing bits span all chunks.)
    Pairs are then verified with an exact popcount Hamming distance.

    ``backend``: "arrow" (default) computes fingerprints via
    :func:`_simhash_fp_arrow` (JVM token hashes + numpy bit vote —
    bit-identical to the expr path, ~5x cheaper); "expr" keeps the
    single-SQL-expression :func:`simhash64` pipeline.  The fingerprint
    relation is cached (16 bytes/doc) before the chunk self-join —
    both join sides read it, and uncached the whole fingerprint pass
    would run twice (the minhash_band_index barrier, same reason).
    """
    n_chunks = max_hamming + 1
    if n_chunks > 64:
        raise ValueError("max_hamming must be < 64")
    # chunk widths as even as possible over the 64 bits
    base, extra = divmod(64, n_chunks)
    widths = [base + (1 if c < extra else 0) for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]
    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    from ..session import spread as _spread
    # NULL text folds to fingerprint 0 (the bit aggregate over NULL
    # token hashes), so every NULL doc would pair at hamming 0 with
    # every other NULL doc (r10 review) — no content, no verdict
    if backend not in ("arrow", "expr"):
        # fail loudly: a typo must not silently run the ~5x slower
        # interpreted-lambda path (r11 review)
        raise ValueError(f"unknown simhash backend {backend!r}")
    alive = _spread(df.filter(F.col(text_col).isNotNull()), id_col, n_part)
    if backend == "arrow":
        fp = _simhash_fp_arrow(alive, id_col, text_col)
    else:
        fp = alive.select(
            F.col(id_col).alias("id"), simhash64(text_col).alias("fp")
        )
    fp = fp.cache()
    fp.count()
    chunks = fp.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("fp"), offsets[c])
                        .bitwiseAND(F.lit((1 << widths[c]) - 1))
                        .alias("val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select("id", "fp", F.col("ck.chunk").alias("chunk"), F.col("ck.val").alias("val"))
    a, b = chunks.alias("a"), chunks.alias("b")
    # verify BEFORE dedupe: the popcount is one XOR per candidate row
    # (orders cheaper than shuffling it), so failing pairs never enter
    # the dropDuplicates exchange — a pair colliding in c chunks costs
    # c cheap verifies instead of c shuffled rows
    hamming = F.bit_count(
        F.col("a.fp").bitwiseXOR(F.col("b.fp"))
    ).cast("bigint")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


def _distinct_set_relation(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    elements: F.Column | None,
) -> DataFrame:
    """The checkpointed (id, toks, n) distinct-element-set relation both
    exact set-similarity kernels start from: one scan+shingle pass,
    spread to full parallelism (the fixture corpus is one parquet file →
    one scan partition; the CPU-heavy shingle+distinct map measured 3.3 s
    of 3.9 s single-core at sf0.1 without it), materialized ONCE for
    every downstream branch (prefix derivation + both verify sides).
    ``elements`` defaults to distinct explicit-whitespace-class tokens
    (== RE2's \\s — the q_text_normalize pin)."""
    from ..session import spread as _spread

    if elements is None:
        elements = F.array_distinct(
            F.expr(f"split(lower({text_col}), '[ \\\\t\\\\n\\\\r\\\\f]+')")
        )
    return (
        _spread(docs.filter(F.col(text_col).isNotNull()), id_col)
        .select(
            F.col(id_col).alias("id"), F.array_distinct(elements).alias("toks")
        )
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") > 0)
        .localCheckpoint(eager=True)
    )


def _identical_set_collapse(sets: DataFrame):
    """ADAPTIVE identical-set pre-collapse (PPJoin "dedup first") shared
    by prefix_filter_jaccard_pairs and containment_pairs — previously
    two verbatim copies of the probe/reps/membership/work machinery
    that had to be patched in lockstep.

    Real corpora carry large EXACT-duplicate classes (boilerplate,
    mirrored pages); an m-member class would otherwise run m identical
    prefixes through the candidate join, making candidate volume
    quadratic in dup multiplicity.  One representative per distinct
    token ARRAY runs the kernel; callers emit intra-class pairs
    directly (similarity 1 by identity) and expand cross-class pairs
    from the representative result (identical sets have identical
    similarity to everything).

    Signature soundness: classes key on md5 of the array's JSON image —
    no canonical sort, so identical-TEXT duplicates merge while an
    equal SET in a different order merely skips the optimization (the
    unmerged pair still flows through the exact join); a false merge
    would need an md5 collision.  Engaged ADAPTIVELY: one O(input)
    xxhash64 count on the checkpointed relation; below ~2% dups
    (COLLAPSE_DUP_FRACTION) the collapse can't pay for its own
    group/expand stages, the straight path runs, and the probe is the
    only cost (a 64-bit collision can only undercount dups by one and
    nudge the heuristic threshold).

    Returns (work, membership, collapsed): ``work`` the kernel input
    (one row per representative when collapsed, else ``sets``),
    ``membership`` the checkpointed (sig, id, rep) relation — one row
    per doc, never an array per class, so a million-member boilerplate
    class stays distributed — or None when not collapsed."""
    sig = F.md5(F.to_json("toks"))
    sets_sig = sets.withColumn("sig", sig)
    nc = sets.agg(
        F.count(F.lit(1)), F.countDistinct(F.xxhash64("toks"))
    ).collect()[0]
    n_rows, n_sig = int(nc[0]), int(nc[1])
    collapsed = n_sig <= n_rows * COLLAPSE_DUP_FRACTION
    if not collapsed:
        return sets, None, False
    reps = sets_sig.groupBy("sig").agg(F.min("id").alias("rep"))
    membership = (
        sets_sig.select("sig", "id")
        .join(reps, "sig")
        .localCheckpoint(eager=True)
    )
    work = sets_sig.join(
        membership.filter(F.col("id") == F.col("rep")).select("sig", "id"),
        ["sig", "id"],
        "left_semi",
    ).select("id", "toks", "n")
    return work, membership, True


def _intra_class_pairs(
    membership: DataFrame, a_name: str, b_name: str, value_name: str
) -> DataFrame:
    """All (lower id, higher id) pairs within each identical-set class
    at similarity exactly 1.0 — a distributed self-join on the class
    signature, never a per-class gather (the quadratic intra-class
    output is inherent to the all-pairs RESULT contract, not the plan)."""
    m = membership.select("sig", "id")
    return (
        m.alias("x")
        .join(
            m.alias("y"),
            (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias(a_name),
            F.col("y.id").alias(b_name),
            F.lit(1.0).alias(value_name),
        )
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    elements: F.Column | None = None,
) -> DataFrame:
    """EXACT token-set Jaccard similarity join via prefix filtering
    (PPJoin-family) — the deterministic counterpart to MinHash LSH:
    every pair with J >= threshold is found, no probabilistic recall.

    The prefix-filter theorem: order every document's distinct tokens
    by ONE global total order (here rarest-first ``(df, token)``); if
    ``J(A, B) >= t`` then the first ``|X| - ceil(t*|X|) + 1`` tokens of
    each side must share at least one token.  So candidates come from
    an equi-join on PREFIX tokens only — rare tokens have short
    postings, so candidate volume is governed by the df of rare tokens,
    not |corpus|^2.  A length filter (``t*|A| <= |B| <= |A|/t``)
    prunes further before the exact intersection count verifies.

    Scale shape: one checkpointed per-doc set relation feeding every
    branch (the text scan + n-gram materialization runs ONCE — it was
    the measured bottleneck when each branch re-derived it), an
    ADAPTIVE identical-set pre-collapse (duplicate-heavy corpora run
    the join over one representative per distinct set, making
    candidate volume independent of dup multiplicity; see the inline
    block), one vocab aggregate (token df), a PER-DOC row_number
    window over (df, token) to pick prefixes (partitioned by doc id —
    thousands of small partitions, not a global vocabulary window),
    the banded equi-join, and a candidates-only verification join
    against the checkpointed raw arrays (set intersection needs no
    ordering, so verification never pays the df sort), explicitly
    widened to full cluster parallelism because the per-row intersect
    is CPU-dense and AQE's byte-based coalescing under-provisions it.
    No all-pairs anywhere.  The same plan holds with the prefix join
    salted if one rare token is still hot.

    ``elements`` overrides the set representation (default: distinct
    lowercase whitespace tokens) — any array<string> column works, e.g.
    ``word_ngrams(text_col, 3)`` for shingle sets.
    """
    from pyspark.sql import Window

    # set semantics: n and the intersection count both assume distinct
    # elements (idempotent for the default / word_ngrams); one
    # checkpointed scan+shingle pass feeds prefix derivation and both
    # verify sides (_distinct_set_relation), then the adaptive
    # identical-set pre-collapse (_identical_set_collapse) keeps
    # candidate volume independent of exact-dup multiplicity
    sets = _distinct_set_relation(docs, id_col, text_col, elements)
    work, membership, collapsed = _identical_set_collapse(sets)
    tok = work.select("id", "n", F.explode("toks").alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # prefix length p = n - ceil(t*n) + 1; 1-based rarest-first rank
    # under the global (df, token) total order gives each element's
    # position for the positional filter below.  The 1e-9 slack (same
    # as alpha) keeps the bound conservative: if fl(t*n) rounds just
    # above an exact integer, ceil() shrinks the prefix by 1 and a
    # true pair can be missed.  (df, token) is unique within a doc, so
    # row_number is deterministic.
    p = (
        F.col("n")
        - F.ceil(F.col("n") * F.lit(threshold) - F.lit(1e-9))
        + 1
    ).cast("int")
    w = Window.partitionBy("id").orderBy("df", "token")
    # NOT checkpointed: AQE turns the candidate self-join into a
    # broadcast join, so this subtree is instantiated twice (broadcast
    # build + probe) — but the two instances are independent and run
    # CONCURRENTLY, so the duplication costs far less than it reads.
    # Measured alternatives at sf0.1, all slower: eager checkpoint
    # ~2× (blocking materialization, lost pipelining), forcing a
    # shuffle join to get ReusedExchange ~1.6× (the sort-merge path
    # costs more than the duplicated-but-parallel broadcast subtrees).
    prefix = (
        tok.join(freq, "token")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= p)
        .select("id", "n", "pos", "token")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter: a match at positions (pa, pb) bounds the
    # best possible overlap at 1 + min(n_a - pa, n_b - pb); the pair is
    # viable only if that reaches the required overlap
    # alpha = ceil(t/(1+t) * (n_a + n_b)). Prunes pairs whose prefixes
    # collide only near the end — the length filter alone cannot.
    # The 1e-9 slack keeps the bound conservative under binary floating
    # point: when fl(t/(1+t)) rounds ABOVE the exact rational, the
    # product can land just past an exact integer and ceil() would
    # overestimate alpha by 1, letting the filter prune a borderline
    # pair with J exactly == t (recall must stay 1.0 for every t, not
    # just thresholds where the quotient happens to round down).
    alpha = F.ceil(
        (F.col("a.n") + F.col("b.n")) * F.lit(threshold / (1.0 + threshold))
        - F.lit(1e-9)
    )
    ubound = 1 + F.least(
        F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
    )
    cands = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: t*|A| <= |B| <= |A|/t (A the smaller side);
            # 1e-9 slack so a boundary pair (t*|B| exactly == |A|) is
            # never lost to fl(t*|B|) rounding up
            & (F.col("b.n") * F.lit(threshold) - F.lit(1e-9) <= F.col("a.n"))
            & (F.col("a.n") * F.lit(threshold) - F.lit(1e-9) <= F.col("b.n"))
            & (ubound >= alpha),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        # Explicit width for the dedupe exchange: AQE coalesces it by
        # BYTE size, but the downstream verify stage is CPU-dense per
        # row (one array_intersect over the full token arrays), so a
        # few-MB candidate relation collapses to a handful of tasks
        # that serialize the intersections while the rest of the
        # cluster idles (measured: AQE chose 5 tasks at sf0.1, 0.9 s
        # wall in that stage alone; full-width cut the query 2.9 s →
        # 2.2 s).  defaultParallelism = total cores on any cluster
        # size, which is the right sizing for a CPU-bound stage.
        .repartition(
            docs.sparkSession.sparkContext.defaultParallelism,
            "id_a",
            "id_b",
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact verification: row-local array_intersect over candidate
    # pairs only — the candidate relation is small (that is the point
    # of prefix filtering), so hydrating each side's checkpointed token
    # array beats re-shuffling the full (doc, token) relation twice
    inter = (
        cands.join(
            work.select(F.col("id").alias("id_a"), F.col("toks").alias("ta")),
            "id_a",
        )
        .join(
            work.select(F.col("id").alias("id_b"), F.col("toks").alias("tb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("ta", "tb")).alias("i"),
        )
    )
    jac = F.col("i") / (F.col("n_a") + F.col("n_b") - F.col("i"))
    rep_pairs = inter.filter(jac >= F.lit(threshold)).select(
        "id_a",
        "id_b",
        F.round(jac, 6).alias("jaccard"),
    )
    if not collapsed:
        return rep_pairs
    # expand representatives back to doc pairs: identical sets share
    # every similarity, so (A, B) at J expands to all (x in A, y in B)
    # at the same J; intra-class pairs are J = 1 by identity.  The
    # quadratic intra-class output is inherent to the RESULT contract
    # (all pairs with J >= t), not to the plan — it is generated by a
    # distributed self-join, never gathered per class.
    m = membership.select("sig", "id", "rep")
    intra = _intra_class_pairs(membership, "id_a", "id_b", "jaccard")
    cross = (
        rep_pairs.join(
            m.select(F.col("rep").alias("id_a"), F.col("id").alias("x")),
            "id_a",
        )
        .join(
            m.select(F.col("rep").alias("id_b"), F.col("id").alias("y")),
            "id_b",
        )
        .select(
            F.least("x", "y").alias("id_a"),
            F.greatest("x", "y").alias("id_b"),
            "jaccard",
        )
    )
    return intra.unionByName(cross)


#: Identical-set pre-collapse engages when distinct signatures are at
#: most this fraction of input rows (i.e. >2% of docs share an exact
#: element set).  Module-level so scale stresses can force either path
#: on the same corpus and measure the collapse's candidate reduction.
COLLAPSE_DUP_FRACTION = 0.98


#: exact_jaccard_pairs routes to the dense-vocabulary matmul kernel
#: below this many distinct set elements; above it, prefix filtering.
DENSE_VOCAB_MAX = 200_000


def jaccard_pairs_dense_vocab(
    sets_df: DataFrame,
    threshold: float,
    vocab: list,
    id_col: str = "id",
    toks_col: str = "toks",
    n_blocks: int | None = None,
) -> DataFrame:
    """EXACT all-pairs set Jaccard >= threshold when the corpus-wide
    element vocabulary is SMALL — the regime where prefix filtering
    degenerates: with only a few thousand distinct elements, even the
    rarest elements of every set have document frequencies in the
    hundreds, so "rarest-first" prefixes generate near-all-pairs
    candidates anyway (measured at sf0.1: 2041 shingle types, median
    df 291, 11.4M candidates from prefix filtering ≈ the full 12.5M
    cross product, 42 s — vs ~1 s here).

    Layout mirrors similarity.exact_pairs_blocked: docs hash into
    blocks (one row per block: ids + vocab-coded sets), block rows
    cross-join with bid_a <= bid_b — B(B+1)/2 tasks — and each task
    scores every cross-pair with ONE binary-incidence matmul
    (block x |V|) @ (|V| x block).  Intersection counts are sums of
    0/1 terms, exact in float32 below 2^24, so the Jaccard
    i/(a+b-i) is float64-over-exact-integers — bit-identical to any
    SQL oracle's ``i * 1.0 / (na + nb - i)`` with NO summation-order
    margin needed (unlike the cosine kernel).  Memory per task is
    O(block x |V|) floats, which is what :data:`DENSE_VOCAB_MAX`
    bounds; past the cap use prefix filtering (high-entropy
    vocabularies are exactly where its postings stay short).

    ``sets_df``: (id, toks) with DISTINCT elements per row; ``vocab``:
    the full element vocabulary (any order; broadcast in the UDF
    closure)."""
    import numpy as np

    code = {t: i for i, t in enumerate(vocab)}
    V = len(vocab)
    if n_blocks is None:
        # fewer, fatter blocks than the cosine kernel: per-task work is
        # one BLAS call, and the Arrow payload of a block-PAIR row
        # scales as n*(B+1)/B per block — serialization, not flops, is
        # the measured cost driver at fixture scale.  But a block's
        # incidence matrix is block_rows x V floats, so near the vocab
        # cap a fixed block count would allocate hundreds of MB per
        # task: bound block_rows by a 16M-cell (64 MB float32) budget
        # and raise the block count instead.
        n = sets_df.count()  # cached upstream by exact_jaccard_pairs
        max_block_rows = max(256, 16_000_000 // max(V, 1))
        n_blocks = max(
            sets_df.sparkSession.sparkContext.defaultParallelism // 4,
            -(-n // max_block_rows),
            4,
        )

    # codes ship as PACKED int32 bytes, not array<int>: an int array
    # column crosses Arrow as millions of boxed Python ints per block
    # pair (measured: the kernel's dominant cost), a binary column as
    # one buffer per doc
    @F.pandas_udf("binary")
    def encode(toks: pd.Series) -> pd.Series:
        return toks.map(
            lambda ts: np.array(
                sorted(code[t] for t in ts if t in code), dtype=np.int32
            ).tobytes()
        )

    coded = sets_df.select(
        F.col(id_col).alias("__id"), encode(F.col(toks_col)).alias("__c")
    )
    blocks = (
        coded.withColumn("__bid", F.pmod(F.col("__id"), F.lit(n_blocks)))
        .groupBy("__bid")
        .agg(
            F.collect_list("__id").alias("ids"),
            F.collect_list("__c").alias("codes"),
        )
        # B tiny rows feeding BOTH sides of the pair join — without the
        # materialization the encode+aggregate subtree runs twice
        .cache()
    )
    a = blocks.select(
        F.col("__bid").alias("bid_a"),
        F.col("ids").alias("ids_a"),
        F.col("codes").alias("codes_a"),
    )
    b = blocks.select(
        F.col("__bid").alias("bid_b"),
        F.col("ids").alias("ids_b"),
        F.col("codes").alias("codes_b"),
    )
    pairs = a.join(b, F.col("bid_a") <= F.col("bid_b"))

    def score(it):
        import numpy as np
        from decimal import ROUND_HALF_UP, Decimal

        def round6(vals):
            # decimal HALF_UP over the double's exact binary expansion
            # — what Spark's round() (BigDecimal) and DuckDB's round()
            # compute; np.round is banker's (half-EVEN) and would
            # diverge on a tie value, silently breaking the pinned
            # dense==prefix kernel equality
            q = Decimal("0.000001")
            return np.array(
                [
                    float(Decimal(float(v)).quantize(q, ROUND_HALF_UP))
                    for v in vals
                ],
                dtype=np.float64,
            )

        def mat(codes):
            m = np.zeros((len(codes), V), dtype=np.float32)
            for r, cs in enumerate(codes):
                m[r, np.frombuffer(cs, dtype=np.int32)] = 1.0
            return m

        for pdf in it:
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                A, B = mat(row.codes_a), mat(row.codes_b)
                inter = (A @ B.T).astype(np.int64)  # exact 0/1 sums
                na = A.sum(axis=1).astype(np.int64)[:, None]
                nb = B.sum(axis=1).astype(np.int64)[None, :]
                union = na + nb - inter
                with np.errstate(invalid="ignore"):
                    jac = np.where(
                        union > 0, inter / np.maximum(union, 1), 0.0
                    )
                ia, ib = np.nonzero(jac >= threshold)
                out_a, out_b, j = ids_a[ia], ids_b[ib], jac[ia, ib]
                if row.bid_a == row.bid_b:
                    keep = out_a < out_b
                    out_a, out_b, j = out_a[keep], out_b[keep], j[keep]
                else:
                    out_a, out_b = (
                        np.minimum(out_a, out_b),
                        np.maximum(out_a, out_b),
                    )
                if len(out_a):  # empty frames mixed into pyspark's
                    # result concat trip a pandas FutureWarning per
                    # task; yielding nothing is the clean empty
                    yield pd.DataFrame(
                        {
                            "id_a": out_a,
                            "id_b": out_b,
                            "jaccard": round6(j),
                        }
                    )

    return pairs.mapInPandas(
        score, schema="id_a long, id_b long, jaccard double"
    )


def exact_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    elements: F.Column | None = None,
    dense_vocab_max: int = DENSE_VOCAB_MAX,
) -> DataFrame:
    """Adaptive EXACT set-similarity join: probe the corpus-wide
    element vocabulary size (one small aggregate) and route to the
    kernel whose cost model fits —

    - vocabulary <= ``dense_vocab_max``: dense binary-incidence
      block matmul (:func:`jaccard_pairs_dense_vocab`) — low-entropy
      corpora, where prefix postings are uselessly hot;
    - otherwise: rarest-first prefix filtering
      (:func:`prefix_filter_jaccard_pairs`) — high-entropy
      vocabularies, where postings are short and the dense matrix
      would not fit.

    Both kernels return identical (id_a, id_b, jaccard-rounded-6)
    rows (full recall each; pinned equal in tests).

    Scale-stress note (round 8, measured on a synthetic 50k-doc /
    33.6k-shingle-type corpus — 10x the sf0.1 fixture, char-5
    elements): the vocab cap routed DENSE, which completed in ~490 s
    (n²·V flops plus O(n·B) block serialization — inherent for an
    exact all-pairs join on a hot element space), while the prefix
    kernel, forced manually onto the same corpus, ran out of heap in
    its candidate join — hot postings are exactly what the cap keeps
    away from it.  The routing call was right; the wall cost is the
    operator's contract.  At 100 TB an exact all-pairs join over a
    degenerate-hot element space is not the tool: band first
    (minhash_candidate_pairs) or block first (cluster/partition), and
    run the exact kernel within bounded groups."""
    if elements is None:
        # explicit whitespace class == RE2's \\s (Java's adds \\x0B);
        # keeps default tokenization oracle-identical on any corpus
        elements = F.array_distinct(
            F.expr(f"split(lower({text_col}), '[ \\\\t\\\\n\\\\r\\\\f]+')")
        )
    from ..session import spread as _spread

    # spread + materialize the element sets ONCE: the shingle map is
    # CPU-dense and the fixture corpus is a single scan partition
    # (same bottleneck prefix_filter_jaccard_pairs documents), and
    # three consumers follow (vocab count, vocab collect, encode) —
    # uncheckpointed, each would re-run the whole pass (measured
    # ~4-5 s per consumer at sf0.1, single-core)
    sets_df = _spread(
        docs.select(
            F.col(id_col).alias("id"),
            F.array_distinct(elements).alias("toks"),
        # NULL text -> NULL toks: the prefix route's set relation
        # filters these, but the dense route's Python encoder crashed
        # on a None array (r10 review) — drop them here so BOTH
        # kernels see the identical NULL-free input
        ).filter(F.col("toks").isNotNull()),
        "id",
    ).cache()
    vocab_rel = sets_df.select(F.explode("toks").alias("t")).distinct()
    # one capped probe job: cap+1 rows bound the driver transfer, so a
    # huge vocabulary is detected without materializing it
    probe = vocab_rel.limit(dense_vocab_max + 1).collect()
    if len(probe) <= dense_vocab_max:
        return jaccard_pairs_dense_vocab(
            sets_df, threshold, [r.t for r in probe]
        )
    # prefix route rebuilds its own element sets from ``docs`` — drop
    # the probe's materialized cache instead of holding executor
    # memory for the returned plan's whole lifetime
    sets_df.unpersist()
    return prefix_filter_jaccard_pairs(
        docs, threshold, id_col=id_col, text_col=text_col, elements=elements
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    elements: F.Column | None = None,
) -> DataFrame:
    """EXACT overlap-coefficient similarity join — pairs with
    ``|A∩B| / min(|A|, |B|) >= threshold`` — via an asymmetric
    prefix-probe / full-index join.  The dedup family member Jaccard
    structurally misses: a document quoted inside a much larger one has
    overlap 1.0 but Jaccard ~ |A|/|B| -> 0, so no Jaccard threshold
    catches subset/quote duplicates without also merging unrelated
    pairs.  (Overlap coefficient == containment of the SMALLER side.)

    Prefix theorem, containment form: with A the smaller side, the
    required intersection is ``alpha = ceil(t * |A|)``; by pigeonhole,
    if none of A's first ``|A| - alpha + 1`` rarest-first tokens hits
    B, the remaining ``alpha - 1`` tokens cannot reach alpha — so
    candidates come from joining each doc's PREFIX (as the putative
    smaller side) against the FULL postings of docs with ``n >= |A|``.
    No length filter exists for this measure (a 3-token set can be
    contained in a 3000-token one — that asymmetry is the point), so
    the index side is unpruned; candidate volume is still governed by
    the df of rare prefix tokens, not |corpus|^2.  Exact
    ``array_intersect`` verification on candidates only, like
    prefix_filter_jaccard_pairs (same 1e-9 ceil slack so a pair at
    exactly t survives fl() rounding; same rarest-first (df, token)
    total order; same checkpointed one-scan set relation).

    Output: (id_small, id_large, containment) — id_small the smaller
    set (ties: lower id), containment rounded to 6.  Exact-double
    parity: the quotient is int/int in both engines.

    Scale shape: one scan+shingle pass, one df aggregate, a per-doc
    row_number window, the prefix->postings equi-join, candidates-only
    verify widened to defaultParallelism (CPU-dense intersects — the
    same AQE-undersizing fix as the Jaccard kernel).  A corpus whose
    common tokens are hot pays in the index postings; the standard
    mitigations compose here exactly as for Jaccard (band or block
    first, run the exact kernel within groups).

    ADAPTIVE identical-set pre-collapse (r8 verdict #4, same
    machinery as prefix_filter_jaccard_pairs): on a dup-heavy raw
    corpus an m-member exact-duplicate class would otherwise run m
    identical prefixes through the candidate join AND appear m times
    in the full postings index — candidate volume quadratic in dup
    multiplicity.  One representative per distinct token array runs
    the kernel; intra-class pairs are emitted directly at containment
    1.0 (identical sets), and cross-class pairs expand from the
    representative result (identical sets have identical containment
    to everything; orientation by the carried (n_small, n_large) —
    lower id first on size ties, matching the kernel's tie-break).
    Engaged adaptively past 2% dups via the same O(input) xxhash64
    probe; below it the straight path runs and the probe is the only
    cost.
    """
    from pyspark.sql import Window

    # shared with prefix_filter_jaccard_pairs: one checkpointed
    # distinct-set relation, then the adaptive identical-set
    # pre-collapse (see _identical_set_collapse for the signature-
    # soundness and engage-threshold arguments)
    sets = _distinct_set_relation(docs, id_col, text_col, elements)
    work, membership, collapsed = _identical_set_collapse(sets)
    tok = work.select("id", "n", F.explode("toks").alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # prefix as the smaller side: p = n - ceil(t*n) + 1 (1e-9 slack —
    # see prefix_filter_jaccard_pairs on why ceil must not round up
    # past an exact integer product)
    p = (
        F.col("n")
        - F.ceil(F.col("n") * F.lit(threshold) - F.lit(1e-9))
        + 1
    ).cast("int")
    w = Window.partitionBy("id").orderBy("df", "token")
    probe = (
        tok.join(freq, "token")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= p)
        .select("id", "n", "token")
    )
    a, b = probe.alias("a"), tok.alias("b")
    # a is the smaller side by construction of the join condition;
    # equal sizes tie-break on id so each unordered pair appears once
    cands = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (
                (F.col("a.n") < F.col("b.n"))
                | ((F.col("a.n") == F.col("b.n")) & (F.col("a.id") < F.col("b.id")))
            ),
        )
        .select(
            F.col("a.id").alias("id_small"),
            F.col("b.id").alias("id_large"),
            F.col("a.n").alias("n_small"),
            F.col("b.n").alias("n_large"),
        )
        .repartition(
            docs.sparkSession.sparkContext.defaultParallelism,
            "id_small",
            "id_large",
        )
        .dropDuplicates(["id_small", "id_large"])
    )
    inter = (
        cands.join(
            work.select(F.col("id").alias("id_small"), F.col("toks").alias("ta")),
            "id_small",
        )
        .join(
            work.select(F.col("id").alias("id_large"), F.col("toks").alias("tb")),
            "id_large",
        )
        .select(
            "id_small",
            "id_large",
            "n_small",
            "n_large",
            F.size(F.array_intersect("ta", "tb")).alias("i"),
        )
    )
    cont = F.col("i") / F.col("n_small")
    rep_pairs = inter.filter(cont >= F.lit(threshold)).select(
        "id_small",
        "id_large",
        "n_small",
        "n_large",
        F.round(cont, 6).alias("containment"),
    )
    if not collapsed:
        return rep_pairs.select("id_small", "id_large", "containment")
    # expand representatives back to doc pairs.  Intra-class pairs are
    # containment 1.0 with equal sizes, so orientation is lower id
    # first (the kernel's own tie-break).  Cross-class pairs inherit
    # the representative value; when the classes' set sizes differ the
    # member of the SMALLER class stays id_small regardless of id
    # order — only size ties fall back to the id orientation.
    m = membership.select("sig", "id", "rep")
    intra = _intra_class_pairs(membership, "id_small", "id_large", "containment")
    tie = F.col("n_small") == F.col("n_large")
    cross = (
        rep_pairs.join(
            m.select(F.col("rep").alias("id_small"), F.col("id").alias("x")),
            "id_small",
        )
        .join(
            m.select(F.col("rep").alias("id_large"), F.col("id").alias("y")),
            "id_large",
        )
        .select(
            F.when(tie, F.least("x", "y")).otherwise(F.col("x")).alias("id_small"),
            F.when(tie, F.greatest("x", "y")).otherwise(F.col("y")).alias("id_large"),
            "containment",
        )
    )
    return intra.unionByName(cross)


def shared_gram_occurrences(
    toks_df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    toks_col: str = "toks",
) -> DataFrame:
    """Every occurrence of an ``n``-token gram that appears in >= 2
    DISTINCT documents: (id, start, owner) with ``start`` the 0-based
    token position and ``owner`` the lowest sharing doc id — the
    shared primitive under both the variable-length span report
    (q_dup_spans_var: all occurrences, island-merged into maximal
    spans) and ExactSubstr removal (q_dup_remove: non-owner
    occurrences blanked).

    ``toks_df`` is the pre-tokenized (id, toks) relation so callers
    tokenize exactly once and feed every consumer.

    Plan shape (the 100 TB argument, same as q_dup_spans): gram
    extraction is a narrow partition-preserving posexplode; sharing is
    ONE shuffle keyed on the span via a frameless window — "shared by
    >= 2 docs" is ``min(id) != max(id)`` over the span partition, and
    the owner is the same window's min, so no owners self-join ever
    duplicates the explode subtree in the physical plan.  At corpus
    scale the span string would shuffle as its xxhash64 with min(span)
    carried as representative — same plan, 8-byte keys.

    Fine print, shared with every oracle twin: a document SHORTER
    than ``n`` tokens contributes exactly one truncated gram — its
    whole token stream (the ``greatest(..., 1)`` floor).  Two sub-n
    documents therefore match iff verbatim-identical, and a reported
    span may state length ``n`` although the document is shorter.
    This is a deliberate, cross-engine-consistent extension of the
    >=n ExactSubstr contract (whole-document repeats stay detectable
    below the gram width); NULL token arrays (NULL text) are dropped
    — no content, no span."""
    from pyspark.sql import Window

    spans = toks_df.filter(F.col(toks_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(size({toks_col}) - {n - 1}"
                f", 1)), i -> concat_ws(' ', slice({toks_col}, i, {n})))"
            )
        ).alias("start", "span"),
    )
    w = Window.partitionBy("span")
    return (
        spans.withColumn("owner", F.min(id_col).over(w))
        .withColumn("__mx", F.max(id_col).over(w))
        .filter(F.col("owner") != F.col("__mx"))
        .select(id_col, "start", "owner")
    )


def shared_chargram_occurrences(
    docs: DataFrame,
    n: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Char-granular twin of :func:`shared_gram_occurrences`: every
    occurrence of an ``n``-CHARACTER substring shared by >= 2 distinct
    documents, as (id, start [0-based], owner).  Same single
    span-keyed window plan; feeds :func:`merge_covered_spans` for the
    Lee et al. ExactSubstr configuration, which is defined on
    bytes/chars (min length ~50), not tokens.

    Same sub-n fine print as :func:`shared_gram_occurrences` (a
    shorter-than-n document contributes its whole text as one
    truncated span); NULL text is dropped — previously every NULL doc
    shared the [NULL] span with every other (r10 review)."""
    from pyspark.sql import Window

    spans = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(length({text_col}) - "
                f"{n - 1}, 1)), i -> substring({text_col}, i, {n}))"
            )
        ).alias("start", "span"),
    )
    w = Window.partitionBy("span")
    return (
        spans.withColumn("owner", F.min(id_col).over(w))
        .withColumn("__mx", F.max(id_col).over(w))
        .filter(F.col("owner") != F.col("__mx"))
        .select(id_col, "start", "owner")
    )


def merge_covered_spans(
    occ: DataFrame, n: int = 8, id_col: str | list[str] = "doc_id"
) -> DataFrame:
    """Maximal runs of tokens covered by any shared ``n``-gram — the
    VARIABLE-LENGTH span report equivalent to suffix-array ExactSubstr
    at token granularity (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): a cross-document repeat of
    length L >= n appears as exactly L-n+1 consecutive shared n-gram
    starts, so the union of shared-gram coverage IS the union of all
    maximal >= n-token repeats — no corpus-wide suffix array needed,
    and overlapping/abutting repeats merge into one reported span the
    same way the paper's remove phase merges overlapping byte ranges.

    Input is :func:`shared_gram_occurrences` output, which carries
    EXACTLY one row per (id, start) by construction (posexplode emits
    each position once; the span window neither duplicates nor needs
    a distinct — skipping it saves a (id, start)-keyed aggregate
    exchange).  The merge is the standard gaps-and-islands reduction
    per document: one id-keyed window (start ordered), new island when
    a gram starts past the previous covered end + 1, then a
    (id, island) group-by that REUSES the window's id partitioning
    (HashPartitioning(id) satisfies the grouping's clustered
    distribution) — so the whole merge is ONE shuffle, bounded by the
    number of SHARED gram occurrences, not corpus size.

    ``id_col`` may be a LIST of columns for composite-keyed coverage —
    q_decontaminate_spans merges per (train_doc, test_doc) PAIR, so one
    train passage shared with two held-out items reports once per item.
    The single-string form is the identical code path (a 1-list)."""
    from pyspark.sql import Window

    id_cols = [id_col] if isinstance(id_col, str) else list(id_col)
    w = Window.partitionBy(*id_cols).orderBy("start")
    prev_end = F.max(F.col("start") + (n - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    ni = (
        F.when(prev_end.isNull(), 1)
        .when(F.col("start") > prev_end + 1, 1)
        .otherwise(0)
    )
    isl = (
        occ.select(*id_cols, "start")
        .withColumn("__ni", ni)
        .withColumn("__island", F.sum("__ni").over(w))
    )
    return isl.groupBy(*id_cols, "__island").agg(
        F.min("start").cast("bigint").alias("span_start"),
        (F.max("start") + n - F.min("start")).cast("bigint").alias("span_len"),
    ).drop("__island")


def band_components(
    df: DataFrame,
    id_col: str,
    keys: list[str],
    band_col: str,
    gap: int,
) -> DataFrame:
    """Connected components of the banded similarity relation
    ``same keys AND |delta band| <= gap`` via the gap-island
    reduction: the relation is an interval-overlap graph per key
    group, so its transitive closure is exactly the island partition
    of the sorted band values (a component breaks where consecutive
    values differ by more than ``gap``).  One window pass + a
    per-island min — O(sort) with bounded range-sorts per group at
    corpus scale, vs the O(diameter) shuffle rounds generic label
    propagation pays (~19 on the sf0.1 document graph even with
    pointer jumping: the min label must physically traverse band
    hops, so doubling cannot shortcut it).

    NULL semantics mirror an equi-join edge relation, where
    NULL != NULL: a row with a NULL key or band value matches no edge
    and is returned as its own singleton component (Window.partitionBy
    would instead group NULL keys together, and a NULL band value
    would coalesce its gap to 0 and bridge into the lowest island).

    Returns (id_col, component), component = min id in the island.
    Verified three ways: the unchanged recursive-CTE oracle of
    q_dedup_clusters, a fixture pin against the generic operator
    (tests/test_graph.py), and a hypothesis property over random
    band graphs including NULLs (tests/test_properties.py).
    """
    from pyspark.sql import Window

    has_keys = F.lit(True)
    for k in [*keys, band_col]:
        has_keys = has_keys & F.col(k).isNotNull()
    banded = df.filter(has_keys)
    singletons = df.filter(~has_keys).select(
        F.col(id_col), F.col(id_col).alias("component")
    )
    w = Window.partitionBy(*keys).orderBy(band_col, id_col)
    brk = (F.col(band_col) - F.lag(band_col).over(w) > gap).cast("int")
    islands = banded.withColumn(
        "island", F.sum(F.coalesce(brk, F.lit(0))).over(w)
    )
    return islands.select(
        F.col(id_col),
        F.min(id_col)
        .over(Window.partitionBy(*keys, "island"))
        .alias("component"),
    ).unionByName(singletons)


def diagnose_missing_pair(
    docs: DataFrame,
    id_a,
    id_b,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    est_threshold: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_fn=char_shingles,
) -> str:
    """TRUTH-SOURCE MARKER for the index-store / epoch family (r8
    advice): when a verified index-probe output is missing a pair the
    exact oracle emits, say WHICH contract broke instead of letting the
    failure implicate the epoch logic wholesale.  q_dedup_simhash got
    the same decoupling in r8 (its truth set moved off minhash
    candidates); here the banding IS the declared gate, so the marker
    classifies a concrete missing pair post-hoc:

    - ``"doc_not_found"``     — one (or both) of the ids is absent from
      the corpus, or its text is null/shingle-empty: a fixture-side or
      join-key problem, NOT a similarity verdict.  Conflating this with
      ``not_a_true_pair`` misdirected triage toward the Jaccard gate
      when the document itself was missing (r9 advice).
    - ``"not_a_true_pair"``   — exact Jaccard < threshold: the diff is
      on the oracle side (or a fixture change), not a recall miss.
    - ``"banding_recall_miss"`` — true pair, but the two docs share NO
      (band, bucket): the candidate never existed.  The documented
      probabilistic coupling (P[miss] = (1-J^r)^b) — widen bands, not
      the epoch code.
    - ``"estimate_gate_miss"`` — banded together, but the signature
      estimate fell below est_threshold: same banding-family recall
      budget, different knob (lower est_threshold or add hashes).
    - ``"epoch_logic"``       — the pair was a LIVE candidate
      (collided AND passed the estimate gate); its absence can only be
      the store/epoch machinery (wrong append set, version pinning,
      gating join) — the actual bug class this marker exists to
      isolate.

    Driver-side by design: it runs on ONE pair during failure triage
    (two-row jobs), never inside a declared query plan."""
    pair = docs.filter(F.col(id_col).isin([id_a, id_b]))
    # null text shingles to [None] (array over a null input), an empty
    # doc to [] — both mean "no content to compare", not a similarity
    # verdict, so strip nulls and drop empty sets before gating
    sets = {
        r["id"]: shset
        for r in pair.select(
            F.col(id_col).alias("id"), shingle_fn(text_col).alias("sh")
        ).collect()
        if (shset := {s for s in (r["sh"] or ()) if s is not None})
    }
    if id_a not in sets or id_b not in sets:
        return "doc_not_found"
    inter = len(sets[id_a] & sets[id_b])
    union = len(sets[id_a] | sets[id_b])
    if inter / union < threshold:
        return "not_a_true_pair"
    rows = minhash_band_index(
        pair, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands,
    ).collect()
    buckets: dict = {}
    sigs: dict = {}
    for r in rows:
        buckets.setdefault(r["id"], set()).add((r["band"], r["bucket"]))
        sigs[r["id"]] = r["sig"]
    if not (buckets.get(id_a, set()) & buckets.get(id_b, set())):
        return "banding_recall_miss"
    est = sum(
        1 for x, y in zip(sigs[id_a], sigs[id_b]) if x == y
    ) / num_hashes
    if est < est_threshold:
        return "estimate_gate_miss"
    return "epoch_logic"


def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(band, bucket, id, sig) — the PERSISTABLE form of the LSH
    banding state: one row per (doc, band), carrying the bucket key
    the band hashes to plus the full signature (needed so a later
    probe can run the cheap estimate gate without the original text).
    Same signature SQL, same band slicing, same seeds as
    minhash_candidate_pairs, so an index built today and
    a probe computed next ingest agree bit-for-bit.

    This is the index-store pattern's near-dup leg (cf.
    q_ann_index_store for vectors, q_ingest_dedup for exact): at
    100 TB the corpus is scanned ONCE to build this narrow relation —
    8 B id + 8 B bucket + H*8 B signature per band row, text never
    stored — and every subsequent ingest probes it by (band, bucket)
    equality, paying signature compute only for the new batch."""
    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    from ..session import spread as _spread

    # NULL text never enters the index (see minhash_candidate_pairs)
    spread = _spread(df.filter(F.col(text_col).isNotNull()), id_col, n_part)
    sigs = spread.select(
        F.col(id_col).alias("id"),
        F.expr(
            minhash_signature_sql(word_ngrams_sql(text_col, 2), num_hashes)
        ).alias("sig"),
    )
    # Cache AT THE SIGNATURE — the minhash_candidate_pairs barrier, for
    # the same reason: the sig column feeds BOTH the declared output
    # and the band-key explode, and CollapseProject otherwise clones
    # the whole signature subtree per reference (measured: the
    # un-cached plan scans the corpus twice per side).  id+sig is
    # 8 B x (1+H) per doc — negligible vs a second corpus pass.
    sigs = sigs.cache()
    sigs.count()
    return (
        sigs.withColumn("bands", _band_keys("sig", num_hashes, bands))
        .select("id", "sig", F.explode("bands").alias("bk"))
        .select(
            F.col("bk.band").alias("band"),
            F.col("bk.bucket").alias("bucket"),
            "id",
            "sig",
        )
    )


def cap_band_index(index: DataFrame, cap: int) -> DataFrame:
    """Bound every (band, bucket)'s row count at ``cap`` by keeping
    its smallest-id members as representatives (deterministic under
    retry — id order, not arbitrary).  One window shuffle over the
    narrow index relation; long-lived consumers (streaming gates)
    run it once and localCheckpoint the result rather than paying the
    pass per probe.  See minhash_probe_index's HOT-BUCKET CAP note
    for why sampling, never exclusion."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket").orderBy("id")
    return (
        index.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def minhash_probe_index(
    index: DataFrame,
    probe: DataFrame,
    num_hashes: int = 32,
    est_threshold: float = 0.4,
    hot_bucket_cap: int | None = 256,
) -> DataFrame:
    """Candidate near-dup pairs between a STORED band index and a new
    batch's band rows (both :func:`minhash_band_index` relations):
    equi-join on (band, bucket), dedup the multi-band collisions, then
    the signature-estimate gate — identical to the self-join inside
    minhash_candidate_pairs, except the two sides are different
    relations, so an ingest batch of b docs costs O(b) signature
    compute plus a join whose probe side is b*bands rows, independent
    of corpus size.  Returns (id_a = indexed doc, id_b = probe doc,
    est_jaccard); caller verifies exact Jaccard on candidates only.

    HOT-BUCKET CAP (r11): buckets whose membership grows with the
    corpus (boilerplate mega-clusters, frequent-gram minima on
    low-diversity corpora) would make the probe join's output
    quadratic in duplicate multiplicity.  ``hot_bucket_cap`` bounds
    each (band, bucket)'s contribution to candidate generation by
    keeping its ``cap`` SMALLEST-id member rows as REPRESENTATIVES —
    sampling, never exclusion (r11 review): a mega-bucket made of the
    duplicate cluster itself must still match incoming copies, which
    representative rows do (every member of a near-identical cluster
    certifies the others), whereas dropping the bucket outright would
    ADMIT exactly the duplicates the gate exists to reject.  A new doc
    probing a capped bucket pairs with min(|bucket|, cap)
    representatives instead of all members, so per-probe candidate
    volume is bounded at cap x bands x batch.  At fixture scale every
    bucket sits far below the cap (candidates byte-identical, pinned
    by test_probe_index_hot_bucket_cap); callers probing a static
    index repeatedly should cap ONCE via :func:`cap_band_index` and
    pass ``hot_bucket_cap=None`` here (the streaming gate does — the
    capping pass costs one O(index) window shuffle, which a per-batch
    loop must not repeat).  ``None`` disables."""
    if hot_bucket_cap is not None:
        index = cap_band_index(index, hot_bucket_cap)
    a = index.select(
        "band",
        "bucket",
        F.col("id").alias("id_a"),
        F.col("sig").alias("sig_a"),
    )
    b = probe.select(
        "band",
        "bucket",
        F.col("id").alias("id_b"),
        F.col("sig").alias("sig_b"),
    )
    est = (
        F.aggregate(
            F.zip_with(
                F.col("sig_a"),
                F.col("sig_b"),
                lambda x, y: F.when(x == y, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / num_hashes
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= est_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# ------------------------------------------- line-level boilerplate

def drop_boilerplate_lines(
    lines_df: DataFrame,
    id_col: str = "doc_id",
    lines_col: str = "lines",
    min_docs: int = 3,
) -> DataFrame:
    """CCNet/RefinedWeb-style LINE-level boilerplate removal — the
    first dedup pass of every web-corpus pipeline, at a grain the
    span family (shared_gram_occurrences) does not cover: a line
    whose fingerprint occurs in >= ``min_docs`` DISTINCT documents is
    nav/footer/cookie boilerplate and is dropped from EVERY document
    (no owner keeps a copy — unlike ExactSubstr span removal, where
    the lowest-id owner survives; boilerplate has no owner), then
    each document is reassembled from its surviving lines in order.

    Returns ``(id, kept)`` with ``kept`` the surviving-lines array.

    Scale shape: the line text itself never shuffles — occurrences
    reduce to (id, pos, xxhash64 fp) before the two exchanges
    (distinct doc-count per fp; removable positions folded back to
    one array per affected doc), and the redaction is a ROW-LOCAL
    higher-order filter over the original array, the q_dup_remove
    rebuild doctrine (queries/dedup_ops.py).  Within-doc repeats of
    a line count ONCE toward the threshold (distinct doc ids), the
    CCNet rule."""
    occ = lines_df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(lines_col)).alias("pos", "line"),
    ).select("id", "pos", F.xxhash64("line").alias("fp"))
    boiler = (
        occ.select("fp", "id")
        .distinct()
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("fp")
    )
    removable = (
        occ.join(boiler, "fp")
        .groupBy("id")
        .agg(F.collect_set("pos").alias("drops"))
    )
    joined = lines_df.join(
        removable, F.col(id_col) == F.col("id"), "left"
    ).withColumn("drops", F.coalesce("drops", F.expr("array()")))
    kept = F.expr(
        f"filter({lines_col}, (x, i) -> NOT array_contains(drops, i))"
    )
    return joined.select(F.col(id_col), kept.alias("kept"))
