"""files_external manifests (lakehouse/table.py): above
SPARK_GRAFT_INLINE_FILES_MAX files, the JSON manifest is an O(metadata)
commit token and membership + per-file stats live only in the parquet
stats checkpoint.  The read path assembles scans from the checkpoint
relation — the driver never parses the file list as JSON (Delta
checkpoint-file parity; the r4 verdict's 10^5-file stretch goal)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lab5_lakehouse_etl_spark.lakehouse import LakeTable
from tests.conftest import jobs_of


def _mk_df(spark, n=200, offset=10_000_000):
    return spark.range(n).select(
        (F.col("id") + offset).alias("k"),
        (F.col("id") % 7).cast("double").alias("amt"),
    )


def test_external_commit_roundtrip(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INLINE_FILES_MAX", "4")
    path = str(tmp_path / "ext_tbl")
    df = _mk_df(spark).repartition(8)
    t = LakeTable.create(df, path)

    # the commit token carries no file list
    with open(os.path.join(t.log_dir, "v0.json")) as fh:
        raw = json.load(fh)
    assert raw["files_external"] is True
    assert raw["files"] == [] and raw["file_stats"] == {}
    assert raw["n_files"] == 8

    # hydrated compat surface
    assert len(t.files()) == 8
    got = sorted((r.k, r.amt) for r in t.read(spark).collect())
    exp = sorted((r.k, r.amt) for r in _mk_df(spark).collect())
    assert got == exp

    # driver and distributed pruning agree on an external snapshot
    pred = [("k", ">=", 10_000_000), ("k", "<", 10_000_050)]
    assert sorted(t.prune_files(pred)) == sorted(
        t.prune_files_distributed(spark, pred)
    )
    pruned = sorted(
        r.k for r in t.read(spark, prune=pred, prune_via="spark")
        .filter((F.col("k") >= 10_000_000) & (F.col("k") < 10_000_050))
        .collect()
    )
    assert pruned == list(range(10_000_000, 10_000_050))


def test_external_merge_and_time_travel(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INLINE_FILES_MAX", "4")
    path = str(tmp_path / "ext_tbl2")
    t = LakeTable.create(_mk_df(spark, n=100).repartition(6), path)
    src = spark.createDataFrame(
        [(10_000_000, 99.0), (20_000_000, 1.0)], "k long, amt double"
    )
    t.merge(spark, src, key=["k"])
    assert t.version() == 1
    cur = {r.k: r.amt for r in t.read(spark).collect()}
    assert cur[10_000_000] == 99.0 and cur[20_000_000] == 1.0
    assert len(cur) == 101
    v0 = {r.k: r.amt for r in t.read(spark, version=0).collect()}
    assert v0[10_000_000] == 0.0 and 20_000_000 not in v0


def test_external_clone_stays_external(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INLINE_FILES_MAX", "4")
    src = LakeTable.create(
        _mk_df(spark, n=60).repartition(6), str(tmp_path / "src")
    )
    dest = src.clone(str(tmp_path / "dst"))
    with open(os.path.join(dest.log_dir, "v0.json")) as fh:
        raw = json.load(fh)
    assert raw["files_external"] is True and raw["files"] == []
    assert sorted(r.k for r in dest.read(spark).collect()) == sorted(
        r.k for r in src.read(spark).collect()
    )


def test_external_reads_infer_no_checkpoint_schema(spark, tmp_path, monkeypatch):
    """stats_relation reads the checkpoint with the schema it is written
    with, so no read of it infers one: building it runs no job, a full
    files_external read runs only its membership collect, and a
    prune_via="spark" read only its survivor query (a broadcast
    anti-join and its collect).  A checkpoint written without the bloom
    columns reads them as NULL and prunes like the driver walk."""
    import pyarrow.parquet as pq

    monkeypatch.setenv("SPARK_GRAFT_INLINE_FILES_MAX", "4")
    path = str(tmp_path / "t")
    t = LakeTable.create(_mk_df(spark, n=60).repartition(6), path)
    t.add_bloom_index("k", m=1024, k=3)
    rng = [("k", ">=", 10_000_000), ("k", "<", 10_000_020)]
    assert jobs_of(spark, lambda: t.stats_relation(spark)) == 0
    assert jobs_of(spark, lambda: t.files_df(spark)) == 0
    assert jobs_of(spark, lambda: t.read(spark)) == 1
    assert jobs_of(spark, lambda: t.read(spark, prune=rng, prune_via="spark")) == 2

    ck = t._stats_checkpoint_path(t.version())
    pq.write_table(
        pq.read_table(ck).drop(["bloom", "bloom_m", "bloom_k", "bloom_kind"]), ck
    )
    old = LakeTable(path)
    assert old.stats_relation(spark).filter(F.col("bloom").isNotNull()).count() == 0
    for pred in (rng, [("k", "=", 10_000_005)]):
        assert sorted(old.prune_files_distributed(spark, pred)) == sorted(
            old.prune_files(pred)
        )


def test_hundred_thousand_file_snapshot(spark, tmp_path):
    """A synthetic 10^5-file snapshot: real data files plus 10^5
    fabricated membership rows with disjoint key ranges.  Commits as
    an O(KB) JSON token, prunes via one Spark job, and READS correctly
    — the only file-list bytes the driver ever holds are the surviving
    path strings that spark.read requires (the same floor as Delta's
    file index)."""
    path = str(tmp_path / "big_tbl")
    t = LakeTable.create(_mk_df(spark, n=50).repartition(2), path)
    m0 = t._manifest(0)
    real_files = list(m0["files"])
    stats = dict(m0["file_stats"])
    files = list(real_files)
    for i in range(100_000):
        f = f"part-fake-{i:06d}.parquet"
        files.append(f)
        stats[f] = {"rows": 1000, "minmax": {"k": [i * 10, i * 10 + 9]}}
    t._write_stats_checkpoint(1, files, stats)
    t._commit(
        1,
        {
            "version": 1,
            "operation": "synthetic-bulk-register",
            "partition_by": [],
            "files": [],
            "file_stats": {},
            "files_external": True,
            "n_files": len(files),
            "schema": m0["schema"],
            "committed_at": m0["committed_at"] + 1,
            "dv_dirs": [],
            "constraints": {},
            "bloom": {},
            "generated": {},
            "column_mapping": {},
            "dropped_physical": [],
        },
    )

    # the commit token stays tiny at 10^5 files
    assert os.path.getsize(os.path.join(t.log_dir, "v1.json")) < 10_000
    assert len(t.files(1)) == 100_002

    # distributed pruning over the checkpoint: every fake file has
    # k < 1_000_000, the real data lives at 10_000_000+
    pred = [("k", ">=", 10_000_000)]
    survivors = t.prune_files_distributed(spark, pred, version=1)
    assert sorted(survivors) == sorted(real_files)

    got = sorted(
        r.k for r in t.read(spark, version=1, prune=pred, prune_via="spark")
        .filter(F.col("k") >= 10_000_000)
        .collect()
    )
    assert got == [10_000_000 + i for i in range(50)]


# -- hypothesis: threshold-straddling twin parity ---------------------------
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

_OPS = st.lists(
    st.sampled_from(["grow", "merge", "dv", "optimize"]),
    min_size=2,
    max_size=4,
)


def _mk_typed(spark, n, offset, parts):
    return (
        spark.range(n)
        .select(
            (F.col("id") + offset).alias("k"),
            (F.col("id") % 5).cast("double").alias("amt"),
            F.concat(F.lit("c"), (F.col("id") % 11).cast("string")).alias("ck"),
        )
        .repartition(parts)
    )


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS, thr=st.integers(2, 5))
# twins whose v4 file layouts differed (5 files against 2)
@example(ops=["grow", "dv", "merge", "grow"], thr=2)
def test_threshold_straddling_twin_parity(spark, ops, thr):
    """The JSON<->parquet-checkpoint transition is REPRESENTATION, not
    semantics: the same op sequence applied to a twin pair — one
    committing external above a tiny file threshold, one always inline
    — must round-trip identical logical state (rows, every historical
    version, bloom point-prunes, minmax range-prunes, DV-masked reads),
    with ops drawn so commits STRADDLE the threshold in both directions
    (grow fans out above it, optimize compacts back below).  Mirrors
    the driver/distributed pruning parity pin, one level up."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="straddle_")
    key = "SPARK_GRAFT_INLINE_FILES_MAX"
    saved = os.environ.get(key)
    try:
        tables = {}
        for mode, mode_thr in (("ext", thr), ("inl", 10**6)):
            os.environ[key] = str(mode_thr)
            t = LakeTable.create(
                _mk_typed(spark, 40, 10_000_000, parts=thr + 1),
                os.path.join(root, mode),
            )
            t.retain_versions = 50  # keep every version for time travel
            t.add_bloom_index("ck", m=2048, k=4)
            tables[mode] = (t, mode_thr)

        step = 0
        for op in ops:
            step += 1
            for mode, (t, mode_thr) in tables.items():
                os.environ[key] = str(mode_thr)
                if op == "grow":  # fan out: external side goes external
                    t.merge(
                        spark,
                        _mk_typed(spark, 20, 20_000_000 + step * 100, parts=thr + 2),
                        key=["k"],
                    )
                elif op == "merge":  # update existing + few inserts
                    src = spark.createDataFrame(
                        [(10_000_001, 99.0 + step, "cX"),
                         (30_000_000 + step, 1.0, "cY")],
                        "k long, amt double, ck string",
                    )
                    t.merge(spark, src, key=["k"])
                elif op == "dv":
                    t.delete_dv(spark, F.col("k") % 9 == step % 9)
                elif op == "optimize":  # compact: back below threshold
                    t.optimize(spark, target_partitions=1)

        ext, inl = tables["ext"][0], tables["inl"][0]
        assert ext.version() == inl.version()
        # the external twin actually exercised BOTH representations
        reps = {
            ext._manifest(v).get("files_external", False)
            for v in range(ext.version() + 1)
        }
        assert True in reps, "no commit ever externalized — thr too high"
        for v in range(ext.version() + 1):
            rows_e = sorted(
                map(tuple, ext.read(spark, version=v).collect())
            )
            rows_i = sorted(
                map(tuple, inl.read(spark, version=v).collect())
            )
            assert rows_e == rows_i, f"version {v} diverged"
        # prune lanes on the latest snapshot: bloom point probe,
        # minmax range, each through driver AND distributed pruning.
        # Pruning keeps whole files and the twins' file layouts can
        # differ (a merge may stage 5 files on one twin and 2 on the
        # other), so across twins only the rows the predicate matches
        # compare; within a twin the layout is shared, so driver and
        # distributed pruning must keep exactly the same rows.
        for pred, cond in (
            ([("ck", "=", "c3")], F.col("ck") == "c3"),
            ([("k", ">=", 20_000_000)], F.col("k") >= 20_000_000),
        ):
            matched = {}
            for mode, t in (("ext", ext), ("inl", inl)):
                pruned = t.read(spark, prune=pred)
                assert sorted(map(tuple, pruned.collect())) == sorted(
                    map(
                        tuple,
                        t.read(spark, prune=pred, prune_via="spark").collect(),
                    )
                ), mode
                # no file holding a matching row was pruned away
                matched[mode] = sorted(map(tuple, pruned.filter(cond).collect()))
                assert matched[mode] == sorted(
                    map(tuple, t.read(spark).filter(cond).collect())
                ), mode
            assert matched["ext"] == matched["inl"]
    finally:
        if saved is None:
            os.environ.pop(key, None)
        else:
            os.environ[key] = saved
        shutil.rmtree(root, ignore_errors=True)


def test_torn_commit_latest_read_falls_back(spark, tmp_path, monkeypatch):
    """Round-7 verdict item 3 (table.py torn-read window): a writer
    publishes the JSON commit token BEFORE renaming the stats
    checkpoint into place.  A concurrent latest-snapshot reader that
    lands in that window must get the PREVIOUS version (complete by
    construction), not a FileNotFoundError — and converge to the new
    version once the checkpoint rename lands.  Explicit-version reads
    of the torn snapshot still raise (substituting a different
    snapshot than requested would be silent corruption)."""
    monkeypatch.setenv("SPARK_GRAFT_INLINE_FILES_MAX", "4")
    path = str(tmp_path / "torn_tbl")
    # partitioned layout so the merge rewrites ONE partition and
    # carries the rest over — v1 keeps enough files to stay external
    # (an unpartitioned merge compacts to a handful of inline files)
    base = _mk_df(spark, n=100).withColumn("p", F.col("k") % 8)
    t = LakeTable.create(base, path, partition_by=["p"])
    v0_rows = sorted((r.k, r.amt) for r in t.read(spark).collect())
    src = spark.createDataFrame(
        [(10_000_000, 99.0, 0), (20_000_000, 1.0, 0)],
        "k long, amt double, p long",
    )
    t.merge(spark, src, key=["k"])  # v1, still external (>4 files)
    assert t.version() == 1
    with open(os.path.join(t.log_dir, "v1.json")) as fh:
        assert json.load(fh)["files_external"] is True

    # simulate the torn window: v1's JSON token is published but its
    # checkpoint has not landed yet
    ckpt = t._stats_checkpoint_path(1)
    hidden = ckpt + ".inflight"
    os.rename(ckpt, hidden)

    reader = LakeTable(path)  # fresh instance = a concurrent process
    assert (
        sorted((r.k, r.amt) for r in reader.read(spark).collect())
        == v0_rows
    )
    with pytest.raises(FileNotFoundError, match="stats checkpoint"):
        LakeTable(path).read(spark, version=1).collect()

    # the rename lands: the same reader converges to v1
    os.rename(hidden, ckpt)
    cur = {r.k: r.amt for r in LakeTable(path).read(spark).collect()}
    assert cur[10_000_000] == 99.0 and cur[20_000_000] == 1.0
    assert len(cur) == 101
