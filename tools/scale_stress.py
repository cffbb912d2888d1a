"""Scale-stress harness: run the quadratic-risk operators on a
synthetic corpus ~10x the sf0.1 fixtures and report wall-clock slopes
vs the committed bench_detail.json numbers.

This is the measurement behind README's "Scale-stress findings": it
generates (in /tmp, never under the repo or testdata)

- 50k documents over a realistic 20k-word Zipf(1.1) vocabulary with
  500 planted exact/near duplicates (the fixture corpus's 31-word
  vocabulary is degenerate at scale: random docs become near-dups of
  each other and every pair-emitting operator's TRUE output grows
  quadratically, which measures the data, not the operator);
- 20k random 64-dim float32 embeddings;
- symlinks to the sf0.1 TPC-H/events tables for queries that touch
  them.

Usage (idle box — timings are meaningless under load):

    python tools/scale_stress.py            # generate + run
    python tools/scale_stress.py --gen-only # just write /tmp/sfbig

Round-8 measurements (local[32], min over nothing — single runs):

    q_dedup_minhash        1.2s ->  18.4s  x15.3  (banding collision
                                           density; fixed band params)
    q_dedup_prefix         2.9s ->  24.7s  x8.6
    q_dedup_jaccard_dense  4.1s -> 493.4s  x119   (n^2*V flops of the
                                           exact dense kernel; prefix
                                           forced onto the same corpus
                                           OOMs -- the router's V-cap
                                           keeps the memory-safe side)
    q_knn_graph            0.8s ->   7.0s  x8.6   (x100 pair space)
    q_dedup_embedding      0.9s ->   5.3s  x5.8
    q_kmeans_embed         1.0s ->   3.3s  x3.4   (sample-bounded)
    q_ann_pq               1.5s ->   3.2s  x2.1   (sample-bounded)
    q_semdedup             1.5s ->   6.6s  x4.4
    q_dedup_simhash        6.9s -> 237.9s  x34.7  (dominated by its
                                           exact-Jaccard truth set)
    q_dup_spans_var        0.9s ->   5.2s  x5.5
    q_ppl_buckets_gk        --  ->   7.8s         (GK cutoffs + one
                                           scoring pass; newer than
                                           the last full sf0.1 bench)
    q_dup_spans_char       1.5s ->  20.7s  x13.8  (span-keyed window
                                           over every char position;
                                           the synthetic corpus also
                                           plants denser sharing, so
                                           the slope reads high)
    q_dedup_index_store    1.8s ->  17.6s  x9.8   (signatures + the
                                           8-way band-partitioned
                                           table create; build paid
                                           once per ingest epoch.  Isolated
                                           2-target run also measured
                                           q_dedup_minhash at 5.5s --
                                           the 18.4s above ran late in
                                           the full-list session, so
                                           treat slopes as run-order
                                           sensitive within ~3x)

Round-8 late additions (same corpus; NB the stress corpus carries
~47x the CHARACTER volume of sf0.1 -- 10x docs x ~4.7x doc length --
so char-bound text operators read x20-30 "at 10x" while being linear
or sublinear in their true input):

    q_dedup_containment    2.5s ->  26.6s  x10.5  (x47 chars: strongly
                                           sublinear; candidates track
                                           rare-prefix posting df)
    q_text_normalize       0.4s ->  11.1s  x30    (x47 chars: linear —
                                           the cost IS regex+md5 over
                                           every char; spread keeps the
                                           map at full parallelism)
    q_corpus_shuffle       0.2s ->   0.6s  x3.1   (md5 map + one
                                           256-shard exchange)
    q_dedup_epoch          3.1s ->  25.0s  x8.0   (two index-store
                                           probe epochs + one append;
                                           proportionate to
                                           q_dedup_index_store's x9.8
                                           per epoch)
    q_ann_index_append     6.4s ->  11.5s  x1.8   (build-dominated:
                                           2x 128-cell commits; the
                                           probe stays cell-pruned,
                                           so 10x vectors barely move
                                           the wall)
    q_ingest_epoch         1.0s ->   5.3s  x5.3   (fingerprint window
                                           + anti-join + narrow
                                           append, all O(batch))
    q_dedup_chunks         ~0.5s ->  6.6s  x13    (x47 chars: chunk
                                           fingerprinting is
                                           char-bound like
                                           q_text_normalize; all
                                           shuffles fp-width)
"""

from __future__ import annotations

import json
import os
import sys
import time

SFBIG = "/tmp/sfbig"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"

TARGETS = [
    "q_dedup_minhash",
    "q_dedup_prefix",
    "q_dedup_jaccard_dense",
    "q_knn_graph",
    "q_dedup_embedding",
    "q_kmeans_embed",
    "q_ann_pq",
    "q_semdedup",
    "q_dedup_simhash",
    "q_dup_spans_var",
    "q_dedup_index_store",
    "q_dedup_containment",
    "q_text_normalize",
    "q_corpus_shuffle",
    "q_dedup_epoch",
    "q_ann_index_append",
    "q_ingest_epoch",
    "q_dedup_chunks",
]


def generate() -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(SFBIG, exist_ok=True)
    rng = np.random.RandomState(7)
    V = 20000
    vocab = np.array([f"w{i:05d}" for i in range(V)])
    w = 1.0 / np.arange(1, V + 1) ** 1.1
    w /= w.sum()
    n_docs = 50000
    lens = rng.randint(80, 320, size=n_docs)
    texts = [" ".join(vocab[rng.choice(V, size=L, p=w)]) for L in lens]
    for i in range(500):  # planted exact + near duplicates
        texts[n_docs - 500 + i] = texts[i] + " w00000" if i % 2 else texts[i]
    langs = rng.choice(["en", "de", "fr", "es"], size=n_docs)
    srcs = rng.choice(["web", "books", "code", "wiki", "news"], size=n_docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(langs.tolist()),
                "source": pa.array(srcs.tolist()),
                "n_chars": pa.array([len(x) for x in texts], pa.int64()),
            }
        ),
        f"{SFBIG}/documents.parquet",
    )
    n_vec = 20000
    emb = rng.randn(n_vec, 64).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vec), pa.int64()),
                "embedding": pa.array(
                    [r.tolist() for r in emb], pa.list_(pa.float32())
                ),
                "label": pa.array(
                    rng.randint(0, 8, size=n_vec).tolist(), pa.int32()
                ),
            }
        ),
        f"{SFBIG}/embeddings.parquet",
    )
    for t in (
        "region nation customer supplier part orders lineitem events".split()
    ):
        dst = f"{SFBIG}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SF01}/{t}.parquet", dst)


def run() -> None:
    sys.path.insert(0, REPO)
    from lab5_lakehouse_etl_spark import queries as Q
    from lab5_lakehouse_etl_spark.session import build_session

    Q.load_all()
    spark = build_session("scale-stress")
    with open(os.path.join(REPO, "bench_detail.json")) as fh:
        base = json.load(fh)["queries"]

    def one(name: str, sf: str) -> float:
        t0 = time.time()
        Q.QUERIES[name](spark, sf).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.time() - t0

    one("q_dedup_exact_docs", SF01)  # warm session machinery
    picked = [a for a in sys.argv[1:] if a.startswith("q_")] or TARGETS
    for name in picked:
        try:
            w = one(name, SFBIG)
            b = base.get(name)
            slope = f"x{w / b:.1f}" if b else "n/a"
            print(f"{name}: sf0.1 {b}s -> 10x {w:.1f}s  slope {slope}",
                  flush=True)
        except Exception as ex:  # noqa: BLE001 - report and continue
            print(name, "ERROR", type(ex).__name__, str(ex)[:200],
                  flush=True)
    spark.stop()


def banding_crossover() -> None:
    """Measure WHERE the (32, 8) lab tier and the (128, 16) scale tier
    actually cross (r9 verdict #6): the r9 A/B showed the scale tier
    still costs ~1.3x at 50k docs, so the 20k tier boundary was an
    argument, not a measurement.  Runs the q_dedup_minhash kernel
    (minhash_candidate_pairs -> verified_near_dups -> count) at both
    parameter points over same-recipe corpora of increasing size
    (fixed 20k-word Zipf vocabulary — bucket sizes grow linearly with
    docs, candidate mass quadratically, the regime the tier exists to
    cap) and prints walls + verified-pair counts (which must match
    between tiers: both hold the recall floor).

    Corpus generation is vectorized (one rng.choice for all tokens)
    so 200k-doc corpora generate in seconds, not minutes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, REPO)
    from lab5_lakehouse_etl_spark.functions import dedup as D
    from lab5_lakehouse_etl_spark.session import build_session

    sizes = [int(a) for a in sys.argv[1:] if a.isdigit()] or [
        25_000, 50_000, 100_000, 200_000
    ]
    V = 20000
    vocab = np.array([f"w{i:05d}" for i in range(V)])
    w = 1.0 / np.arange(1, V + 1) ** 1.1
    w /= w.sum()

    def gen(n_docs: int) -> str:
        path = f"/tmp/sfband_{n_docs}"
        dst = f"{path}/documents.parquet"
        if os.path.exists(dst):
            return path
        os.makedirs(path, exist_ok=True)
        rng = np.random.RandomState(7)
        lens = rng.randint(80, 320, size=n_docs)
        offs = np.concatenate([[0], np.cumsum(lens)])
        words = vocab[rng.choice(V, size=int(offs[-1]), p=w)]
        texts = [
            " ".join(words[offs[i]:offs[i + 1]]) for i in range(n_docs)
        ]
        n_plant = n_docs // 100
        for i in range(n_plant):  # same planted-dup recipe as generate()
            texts[n_docs - n_plant + i] = (
                texts[i] + " w00000" if i % 2 else texts[i]
            )
        pq.write_table(
            pa.table({
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(texts),
            }),
            dst,
        )
        return path

    spark = build_session("banding-crossover")
    print("n_docs  tier       wall_s  verified_pairs", flush=True)
    for n in sizes:
        path = gen(n)
        docs = spark.read.parquet(f"{path}/documents.parquet")
        for label, (H, B) in (("32x8", (32, 8)), ("128x16", (128, 16))):
            t0 = time.time()
            cands = D.minhash_candidate_pairs(
                docs, num_hashes=H, bands=B
            )
            n_pairs = D.verified_near_dups(docs, cands, threshold=0.5).count()
            print(
                f"{n:7d} {label:8s} {time.time() - t0:8.1f}  {n_pairs}",
                flush=True,
            )
    spark.stop()


def append_slope() -> None:
    """Measure the O(batch)-vs-O(table) slope of the two persisted
    incremental indexes (r10 verdict #6): append a FIXED-size batch to
    a base index of growing size and time the append (+ one probe).
    If maintenance is truly O(batch), the append wall stays flat while
    the base grows 8x; a hidden rebuild would scale with the base.
    Also verifies NO REBUILD structurally: the append commit must
    carry over every base file (zero removed), only adding new ones.

    Legs: the ANN cell-partitioned index (q_ann_index_append's layout,
    2000-vector batch, 2^7 cells) and the minhash band index
    (q_dedup_epoch's layout, 1000-doc batch, 8 band partitions).
    Corpora reuse the banding_crossover recipe (fixed 20k-word Zipf
    vocabulary) so bucket densities scale the way a real corpus does.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from lab5_lakehouse_etl_spark.functions import dedup as D
    from lab5_lakehouse_etl_spark.functions import similarity as S
    from lab5_lakehouse_etl_spark.lakehouse import LakeTable
    from lab5_lakehouse_etl_spark.session import build_session

    spark = build_session("append-slope")
    spark.sparkContext.setLogLevel("ERROR")

    def check_no_rebuild(t: LakeTable) -> str:
        v = t.version()
        prev = set(t._manifest(v - 1)["files"])
        cur = set(t._manifest(v)["files"])
        removed = prev - cur
        return (
            f"carried={len(prev & cur)} added={len(cur - prev)} "
            f"removed={len(removed)}"
            + ("  !! REBUILD" if removed else "  (pure append)")
        )

    dim, batch_n = 64, 2000
    print("ANN cell index: fixed 2000-vector batch into growing base")
    print("base_n   append_s  probe_s  commit")
    for base_n in (20_000, 50_000, 100_000, 200_000):
        path = f"/tmp/sfslope_ann_{base_n}"
        pfile = f"{path}/embeddings.parquet"
        if not os.path.exists(pfile):
            os.makedirs(path, exist_ok=True)
            rng = np.random.RandomState(7)
            emb = rng.randn(base_n + batch_n, dim).astype(np.float32)
            pq.write_table(
                pa.table({
                    "vec_id": pa.array(range(base_n + batch_n), pa.int64()),
                    "embedding": pa.array(
                        [r.tolist() for r in emb], pa.list_(pa.float32())
                    ),
                }),
                pfile,
            )
        allv = spark.read.parquet(pfile)
        planes = S.hyperplanes(dim, n_planes=7, seed=42)
        cell = S.lsh_bucket("embedding", planes)
        base = allv.filter(F.col("vec_id") < base_n)
        batch = allv.filter(F.col("vec_id") >= base_n)
        t = LakeTable.create(   # untimed: build paid once per corpus
            base.withColumn("cell", cell).repartition("cell"),
            f"/tmp/sfslope_ann_{base_n}/idx",
            partition_by=["cell"],
        )
        t0 = time.time()
        t.append(spark, batch.withColumn("cell", cell).repartition("cell"))
        append_s = time.time() - t0
        qv = [float(x) for x in allv.filter(F.col("vec_id") == base_n)
              .first().embedding]
        t0 = time.time()
        S.ivf_search_bucketed(
            t.read(spark), qv, k=10, n_planes=7, seed=42,
            min_candidates_factor=64, hist=t.partition_histogram("cell"),
        ).collect()
        probe_s = time.time() - t0
        print(f"{base_n:7d}  {append_s:7.1f}  {probe_s:7.1f}  "
              f"{check_no_rebuild(t)}", flush=True)

    print("\nminhash band index: fixed 1000-doc batch into growing base")
    print("base_n   append_s  probe_s  commit")
    V = 20000
    vocab = np.array([f"w{i:05d}" for i in range(V)])
    w = 1.0 / np.arange(1, V + 1) ** 1.1
    w /= w.sum()
    batch_d = 1000
    for base_n in (25_000, 50_000, 100_000, 200_000):
        path = f"/tmp/sfslope_doc_{base_n}"
        dst = f"{path}/documents.parquet"
        if not os.path.exists(dst):
            os.makedirs(path, exist_ok=True)
            rng = np.random.RandomState(7)
            n = base_n + batch_d
            lens = rng.randint(80, 320, size=n)
            offs = np.concatenate([[0], np.cumsum(lens)])
            words = vocab[rng.choice(V, size=int(offs[-1]), p=w)]
            texts = [" ".join(words[offs[i]:offs[i + 1]]) for i in range(n)]
            pq.write_table(
                pa.table({
                    "doc_id": pa.array(range(n), pa.int64()),
                    "text": pa.array(texts),
                }),
                dst,
            )
        docs = spark.read.parquet(dst)
        base = docs.filter(F.col("doc_id") < base_n)
        batch = docs.filter(F.col("doc_id") >= base_n)
        t = LakeTable.create(   # untimed build, one per corpus
            D.minhash_band_index(base).repartition("band"),
            f"{path}/idx",
            partition_by=["band"],
        )
        t0 = time.time()
        bands = D.minhash_band_index(batch)
        D.verified_near_dups(
            docs, D.minhash_probe_index(t.read(spark), bands), threshold=0.5
        ).count()
        probe_s = time.time() - t0
        t0 = time.time()
        t.append(spark, D.minhash_band_index(batch).repartition("band"))
        append_s = time.time() - t0
        print(f"{base_n:7d}  {append_s:7.1f}  {probe_s:7.1f}  "
              f"{check_no_rebuild(t)}", flush=True)
    spark.stop()


if __name__ == "__main__":
    if "--append-slope" in sys.argv:
        append_slope()
    elif "--banding-crossover" in sys.argv:
        banding_crossover()
    else:
        generate()
        if "--gen-only" not in sys.argv:
            run()
