"""LakeTable unit tests: versioned writes, snapshot reads, MERGE
semantics, vacuum, partition layout, partition-scoped copy-on-write
(SURVEY §2.1 S6-S8, §2.3 J4)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from lab5_lakehouse_etl_spark.lakehouse import LakeTable, create_or_merge


@pytest.fixture()
def df3(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)],
        "k BIGINT, part STRING, v DOUBLE",
    )


def _data_files(path):
    """All parquet files under the table's data/ tree, relative paths."""
    root = os.path.join(path, "data")
    return sorted(
        os.path.relpath(f, root)
        for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    )


def test_create_read_roundtrip(spark, df3, tmp_path):
    path = str(tmp_path / "t")
    assert not LakeTable.is_table(path)
    t = LakeTable.create(df3, path, partition_by=["part"])
    assert LakeTable.is_table(path)
    assert t.version() == 0
    back = t.read(spark)
    assert sorted((r.k, r.part, r.v) for r in back.collect()) == [
        (1, "a", 10.0),
        (2, "b", 20.0),
        (3, "a", 30.0),
    ]
    # partitioned layout: directory-encoded partition values
    assert os.path.isdir(os.path.join(path, "data", "part=a"))


def test_merge_update_and_insert(spark, df3, tmp_path):
    t = LakeTable.create(df3, str(tmp_path / "t"))
    source = spark.createDataFrame(
        [(2, "b", 99.0), (4, "c", 40.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    t.merge(spark, source, key=["k"])
    rows = {r.k: r.v for r in t.read(spark).collect()}
    assert rows == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}  # update-all + insert-all
    assert t.version() == 1
    assert [m["operation"] for m in t.history()] == ["create", "merge"]


def test_merge_latest_wins_pre_dedup(spark, tmp_path):
    t = LakeTable.create(
        spark.createDataFrame([(1, 1, 0.0)], "k BIGINT, ts BIGINT, v DOUBLE"),
        str(tmp_path / "t"),
    )
    # duplicate merge keys in the source — the reference's Delta MERGE
    # would throw; we keep the newest by ts (documented deviation)
    source = spark.createDataFrame(
        [(1, 5, 50.0), (1, 9, 90.0), (2, 1, 10.0)],
        "k BIGINT, ts BIGINT, v DOUBLE",
    )
    t.merge(spark, source, key=["k"], latest_by="ts")
    rows = {r.k: (r.ts, r.v) for r in t.read(spark).collect()}
    assert rows == {1: (9, 90.0), 2: (1, 10.0)}


def test_merge_duplicate_source_keys_raise_without_latest_by(spark, df3, tmp_path):
    # Delta parity: multiple source matches per key is an error unless
    # latest_by defines the survivor — a silent pick would be
    # partition-order nondeterministic.
    t = LakeTable.create(df3, str(tmp_path / "t"))
    dup = spark.createDataFrame(
        [(2, "b", 1.0), (2, "b", 2.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge(spark, dup, key=["k"])


def test_merge_dup_probe_runs_in_callers_job_group(spark, df3, tmp_path):
    # every job of a merge runs in the caller's job group
    from lab5_lakehouse_etl_spark.plans import job_count

    t = LakeTable.create(df3, str(tmp_path / "t"))
    source = spark.createDataFrame(
        [(2, "b", 99.0), (4, "c", 40.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    sc = spark.sparkContext
    sc.setJobGroup("merge-probe-group", "merge under a job group")
    try:
        before = job_count(spark)
        t.merge(spark, source, key=["k"])
        after = job_count(spark)
    finally:
        sc._jsc.clearJobGroup()
    grouped = set(sc.statusTracker().getJobIdsForGroup("merge-probe-group"))
    assert after > before
    assert set(range(before, after)) <= grouped


def test_merge_duplicate_key_reported_before_check_violation(spark, df3, tmp_path):
    # a duplicate-keyed source that also breaks a CHECK raises the
    # documented duplicate-key error, not the constraint error
    t = LakeTable.create(df3, str(tmp_path / "t"))
    t.add_constraint(spark, "v_pos", "v > 0")
    dup = spark.createDataFrame(
        [(2, "b", -1.0), (2, "b", -2.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    with pytest.raises(ValueError, match="duplicate keys") as exc:
        t.merge(spark, dup, key=["k"])
    assert type(exc.value) is ValueError


_DDL = "k BIGINT, part STRING, v DOUBLE"
_REJECTED_WRITES = {
    "duplicate_key": (
        lambda spark, t: t.merge(
            spark,
            spark.createDataFrame([(2, "b", 1.0), (2, "b", 2.0)], _DDL),
            key=["k"],
        ),
        "duplicate keys",
    ),
    "check_merge": (
        lambda spark, t: t.merge(
            spark, spark.createDataFrame([(9, "z", -1.0)], _DDL), key=["k"]
        ),
        "merge violates CHECK",
    ),
    "check_append": (
        lambda spark, t: t.append(spark, spark.createDataFrame([(9, "z", -1.0)], _DDL)),
        "append violates CHECK",
    ),
    "check_overwrite": (
        lambda spark, t: t.overwrite(spark.createDataFrame([(9, "z", -1.0)], _DDL)),
        "overwrite violates CHECK",
    ),
    "generated_append": (
        lambda spark, t: t.append(
            spark, spark.createDataFrame([(9, "z", 1.0, 99)], _DDL + ", g BIGINT")
        ),
        "GENERATED",
    ),
}


@pytest.mark.parametrize("case", sorted(_REJECTED_WRITES))
def test_rejected_write_commits_nothing_and_leaves_no_file(spark, df3, tmp_path, case):
    """Every rejected write raises its documented error, commits no
    version and removes the files it staged: data/ holds exactly the
    current manifest's files."""
    write, message = _REJECTED_WRITES[case]
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path, partition_by=["part"], generated={"g": "k * 2"})
    t.add_constraint(spark, "v_pos", "v > 0")
    version = t.version()
    with pytest.raises(ValueError, match=message):
        write(spark, t)
    assert t.version() == version
    assert _data_files(path) == sorted(t.files())


def test_checked_writes_of_an_empty_frame_commit(spark, df3, tmp_path):
    # an empty written frame observes NULL sums: they read as no violation
    t = LakeTable.create(
        df3, str(tmp_path / "t"), partition_by=["part"], generated={"g": "k * 2"}
    )
    t.add_constraint(spark, "v_pos", "v > 0")
    empty = spark.createDataFrame([], _DDL)
    t.merge(spark, empty, key=["k"])
    t.append(spark, empty.withColumn("g", F.col("k") * 2))
    assert t.version() == 3
    assert t.read(spark).count() == 3


def test_checked_append_runs_the_jobs_of_a_plain_append(spark, df3, tmp_path):
    # the CHECK and the provided generated column are counted inside
    # the staged write: no job of their own
    from lab5_lakehouse_etl_spark.plans import job_count

    plain = LakeTable.create(df3, str(tmp_path / "plain"))
    checked = LakeTable.create(df3, str(tmp_path / "checked"), generated={"g": "k * 2"})
    checked.add_constraint(spark, "v_pos", "v > 0")
    before = job_count(spark)
    plain.append(spark, spark.createDataFrame([(5, "a", 5.0)], _DDL))
    plain_jobs = job_count(spark) - before
    before = job_count(spark)
    checked.append(
        spark, spark.createDataFrame([(5, "a", 5.0, 10)], _DDL + ", g BIGINT")
    )
    assert job_count(spark) - before == plain_jobs
    assert checked.read(spark).count() == 4


def test_checked_merge_runs_the_jobs_of_a_plain_merge(spark, df3, tmp_path):
    from lab5_lakehouse_etl_spark.plans import job_count

    source = spark.createDataFrame([(2, "b", 99.0), (4, "c", 40.0)], _DDL)
    jobs = []
    for name, check in (("plain", False), ("checked", True)):
        t = LakeTable.create(df3, str(tmp_path / name), partition_by=["part"])
        if check:
            t.add_constraint(spark, "v_pos", "v > 0")
        before = job_count(spark)
        t.merge(spark, source, key=["k"])
        jobs.append(job_count(spark) - before)
        # the per-key helper column never reaches the stored schema
        assert sorted(t.read(spark).columns) == ["k", "part", "v"]
    assert jobs[0] == jobs[1]


def test_merge_schema_mismatch_raises(spark, df3, tmp_path):
    t = LakeTable.create(df3, str(tmp_path / "t"))
    bad = spark.createDataFrame([(1, "x")], "k BIGINT, other STRING")
    with pytest.raises(ValueError, match="merge schema mismatch"):
        t.merge(spark, bad, key=["k"])


def test_merge_partition_scoped_carries_untouched_files(spark, df3, tmp_path):
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path, partition_by=["part"])
    before = {
        f: os.path.getmtime(os.path.join(path, "data", f))
        for f in t.files()
        if f.startswith("part=a/")
    }
    assert before  # partition a has files
    # source touches only partition b
    source = spark.createDataFrame(
        [(2, "b", 99.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    t.merge(spark, source, key=["k"])
    after_files = t.files()
    # partition a files carried over BY REFERENCE: same names, same bytes
    for f, mtime in before.items():
        assert f in after_files
        assert os.path.getmtime(os.path.join(path, "data", f)) == mtime
    # partition b was rewritten into v1-tagged files
    assert all(
        f.split("/")[-1].startswith("v1-")
        for f in after_files
        if f.startswith("part=b/")
    )
    rows = {r.k: r.v for r in t.read(spark).collect()}
    assert rows == {1: 10.0, 2: 99.0, 3: 30.0}


def test_merge_row_moving_partition_empties_old_one(spark, df3, tmp_path):
    # update changes the partition value: row must leave the old
    # partition (which is rewritten) and appear in the new one
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path, partition_by=["part"])
    source = spark.createDataFrame(
        [(2, "c", 21.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    t.merge(spark, source, key=["k"])
    rows = sorted((r.k, r.part, r.v) for r in t.read(spark).collect())
    assert rows == [(1, "a", 10.0), (2, "c", 21.0), (3, "a", 30.0)]
    # old partition b has no live files in the new manifest
    assert not [f for f in t.files() if f.startswith("part=b/")]


def test_vacuum_keeps_two_versions(spark, df3, tmp_path):
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path)
    src = spark.createDataFrame([(9, "z", 1.0)], "k BIGINT, part STRING, v DOUBLE")
    t.merge(spark, src, key=["k"])
    t.merge(spark, src, key=["k"], latest_by="v")
    t.merge(spark, src, key=["k"], latest_by="v")
    assert t.version() == 3
    # history metadata intact, but only files of the 2 newest manifests remain
    assert len(t.history()) == 4
    live = set(t.files(2)) | set(t.files(3))
    assert set(_data_files(path)) == live


def test_overwrite_preserves_history(spark, df3, tmp_path):
    """overwrite() commits a NEW version (unlike create's rmtree): the
    pre-overwrite snapshot stays time-travel-readable until retention
    vacuums it — the contract the complete-mode streaming drain
    (stream_sessions_to_table) relies on for cross-batch history."""
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path, partition_by=["part"])
    t.retain_versions = 3
    df_new = spark.createDataFrame(
        [(9, "z", 90.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    v = t.overwrite(df_new)
    assert v == 1 and t.version() == 1
    assert [(r.k, r.part, r.v) for r in t.read(spark).collect()] == [
        (9, "z", 90.0)
    ]
    assert sorted((r.k, r.part, r.v) for r in t.read(spark, version=0).collect()) == [
        (1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0),
    ]
    # partitioning carries from the previous snapshot by default
    assert t._manifest(1)["partition_by"] == ["part"]


def test_overwrite_enforces_constraints(spark, df3, tmp_path):
    from lab5_lakehouse_etl_spark.lakehouse.table import (
        ConstraintViolationError,
    )

    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path)
    t.add_constraint(spark, "v_pos", "v > 0")
    bad = spark.createDataFrame(
        [(7, "q", -1.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    with pytest.raises(ConstraintViolationError):
        t.overwrite(bad)


def test_create_or_merge_branch(spark, df3, tmp_path):
    path = str(tmp_path / "t")
    create_or_merge(spark, df3, path, key=["k"])  # create branch
    assert LakeTable(path).version() == 0
    create_or_merge(spark, df3, path, key=["k"])  # merge branch
    assert LakeTable(path).version() == 1
    assert LakeTable(path).read(spark).count() == 3


def test_delete_copy_on_write(spark, df3, tmp_path):
    t = LakeTable.create(df3, str(tmp_path / "t"))
    v = t.delete(spark, F.col("part") == "a")
    assert v == 1
    assert [r.k for r in t.read(spark).collect()] == [2]
    # pre-delete snapshot still time-travels
    assert t.read(spark, version=0).count() == 3
    assert t.history()[-1]["operation"] == "delete"


def test_delete_null_predicate_keeps_rows(spark, tmp_path):
    # SQL DELETE WHERE cond deletes only TRUE rows; a NULL predicate
    # (here: NULL v compared to a number) KEEPS the row.
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "a", 30.0)],
        "k BIGINT, part STRING, v DOUBLE",
    )
    t = LakeTable.create(df, str(tmp_path / "t"))
    t.delete(spark, F.col("v") > 15.0)
    kept = sorted(r.k for r in t.read(spark).collect())
    assert kept == [1, 2]  # k=2 (NULL predicate) kept, k=3 (TRUE) deleted


def test_delete_partition_scoped(spark, df3, tmp_path):
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path, partition_by=["part"])
    b_files = [f for f in t.files() if f.startswith("part=b/")]
    t.delete(spark, F.col("k") == 1)  # touches only partition a
    assert [f for f in t.files() if f.startswith("part=b/")] == b_files
    assert sorted(r.k for r in t.read(spark).collect()) == [2, 3]


def test_optimize_compacts_files_preserves_rows(spark, df3, tmp_path):
    t = LakeTable.create(
        df3.repartition(8), str(tmp_path / "t")
    )  # 8 small files
    assert len(t.files()) > 1
    t.optimize(spark)
    assert len(t.files()) == 1
    assert sorted((r.k, r.part, r.v) for r in t.read(spark).collect()) == [
        (1, "a", 10.0),
        (2, "b", 20.0),
        (3, "a", 30.0),
    ]
    assert t.history()[-1]["operation"] == "optimize"


def test_optimize_partitioned_keeps_layout(spark, df3, tmp_path):
    path = str(tmp_path / "t")
    t = LakeTable.create(df3.repartition(4), path, partition_by=["part"])
    t.optimize(spark)
    assert any(f.startswith("part=a/") for f in t.files())
    assert t.read(spark).count() == 3


def test_partition_value_escaping(spark, tmp_path):
    # values needing hive escaping (= and /) round-trip through the
    # dirname prediction used for carry-over decisions
    df = spark.createDataFrame(
        [(1, "a=b", 1.0), (2, "c/d", 2.0), (3, None, 3.0)],
        "k BIGINT, part STRING, v DOUBLE",
    )
    path = str(tmp_path / "t")
    t = LakeTable.create(df, path, partition_by=["part"])
    # merge touching only the weird partitions must not raise the
    # escaping-mismatch safety net and must preserve all rows
    src = spark.createDataFrame([(1, "a=b", 9.0)], "k BIGINT, part STRING, v DOUBLE")
    t.merge(spark, src, key=["k"])
    rows = {r.k: r.v for r in t.read(spark).collect()}
    assert rows == {1: 9.0, 2: 2.0, 3: 3.0}


def test_optimize_cluster_by_disjoint_file_ranges(spark, tmp_path):
    import duckdb

    # 200 shuffled keys; clustering must give each file a disjoint range
    df = (
        spark.range(200)
        .selectExpr("pmod(id * 37, 200) AS k", "CAST(id AS DOUBLE) AS v")
        .repartition(8)
    )
    t = LakeTable.create(df, str(tmp_path / "t"))
    v = t.optimize(spark, target_partitions=4, cluster_by=["k"])
    files = t.files(v)
    assert len(files) == 4
    con = duckdb.connect()
    ranges = sorted(
        con.sql(
            f"SELECT min(k), max(k) FROM read_parquet("
            f"'{os.path.join(str(tmp_path / 't'), 'data', f)}')"
        ).fetchone()
        for f in files
    )
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # disjoint, ordered ranges across files
    # result-transparent
    assert t.read(spark).count() == 200
    assert sorted(r.k for r in t.read(spark).collect()) == sorted(
        (i * 37) % 200 for i in range(200)
    )


def test_merge_schema_evolution_adds_column(spark, df3, tmp_path):
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path, partition_by=["part"])
    a_files = [f for f in t.files() if f.startswith("part=a/")]
    # source adds a new column and touches only partition b
    source = spark.createDataFrame(
        [(2, "b", 99.0, "eu")], "k BIGINT, part STRING, v DOUBLE, region STRING"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        t.merge(spark, source, key=["k"])
    t.merge(spark, source, key=["k"], evolve_schema=True)
    rows = {r.k: (r.v, r.region) for r in t.read(spark).collect()}
    # untouched rows read NULL for the evolved column — and their files
    # carried over without rewrite
    assert rows == {1: (10.0, None), 2: (99.0, "eu"), 3: (30.0, None)}
    assert [f for f in t.files() if f.startswith("part=a/")] == a_files
    # a second merge WITHOUT the new column keeps it (nulls for inserts)
    s2 = spark.createDataFrame(
        [(4, "c", 40.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    t.merge(spark, s2, key=["k"], evolve_schema=True)
    rows = {r.k: r.region for r in t.read(spark).collect()}
    assert rows == {1: None, 2: "eu", 3: None, 4: None}


def test_changes_cdf_between_versions(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0), (4, "b", 40.0)],
        "k BIGINT, part STRING, v DOUBLE",
    )
    t = LakeTable.create(df, str(tmp_path / "t"), partition_by=["part"])
    t.retain_versions = 3  # keep v0 files alive for the v0→v2 feed
    # update k=2, insert k=5 (both in partition b); delete k=3 (part a)
    src = spark.createDataFrame(
        [(2, "b", 99.0), (5, "b", 50.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    t.merge(spark, src, key=["k"])
    t.delete(spark, F.col("k") == 3)
    ch = {
        (r.k, r._change_type): r.v
        for r in t.changes(spark, key=["k"], from_version=0).collect()
    }
    assert ch == {
        (2, "update_pre"): 20.0,
        (2, "update_post"): 99.0,
        (5, "insert"): 50.0,
        (3, "delete"): 30.0,
    }
    # unchanged rows in rewritten partition b (k=4) cancel out: absent
    assert not any(k == 4 for k, _ in ch)
    # version-bounded feed: only the delete between v1 and v2
    ch12 = {
        (r.k, r._change_type)
        for r in t.changes(spark, key=["k"], from_version=1, to_version=2).collect()
    }
    assert ch12 == {(3, "delete")}


def test_optimize_zorder_prunes_both_dimensions(spark, tmp_path):
    import duckdb

    # 32x32 grid, shuffled: a and b are independent dimensions
    df = (
        spark.range(1024)
        .selectExpr(
            "pmod(id * 37, 1024) % 32 AS a",
            "CAST(pmod(id * 37, 1024) / 32 AS BIGINT) AS b",
            "CAST(id AS DOUBLE) AS v",
        )
        .repartition(8)
    )
    t = LakeTable.create(df, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="not both"):
        t.optimize(spark, cluster_by=["a"], zorder_by=["b"])
    v = t.optimize(spark, target_partitions=16, zorder_by=["a", "b"])
    files = t.files(v)
    assert len(files) == 16
    con = duckdb.connect()
    stats = [
        con.sql(
            f"SELECT min(a), max(a), min(b), max(b) FROM read_parquet("
            f"'{os.path.join(str(tmp_path / 't'), 'data', f)}')"
        ).fetchone()
        for f in files
    ]
    # parquet footer min/max pruning for a point predicate on EITHER
    # column must skip at least half the files — the property linear
    # clustering only gives its leading column
    hits_a = sum(1 for (lo, hi, _, _) in stats if lo <= 5 <= hi)
    hits_b = sum(1 for (_, _, lo, hi) in stats if lo <= 20 <= hi)
    assert hits_a <= len(files) // 2, stats
    assert hits_b <= len(files) // 2, stats
    # result-transparent
    assert sorted((r.a, r.b) for r in t.read(spark).collect()) == sorted(
        ((i * 37) % 1024 % 32, (i * 37) % 1024 // 32) for i in range(1024)
    )


def test_register_exposes_current_snapshot_via_catalog(spark, df3, tmp_path):
    """register() is the Glue-crawler twin: lakehouse_dwh.<name> must
    serve exactly the CURRENT manifest's rows even while superseded
    version files still sit in the same data/ tree."""
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path, partition_by=["part"])
    source = spark.createDataFrame(
        [(2, "b", 99.0), (4, "c", 40.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    t.merge(spark, source, key=["k"])
    qualified = t.register(spark, "reg_test")
    assert qualified == "lakehouse_dwh.reg_test"
    rows = {
        r.k: r.v
        for r in spark.sql("SELECT k, v FROM lakehouse_dwh.reg_test").collect()
    }
    assert rows == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}
    # superseded v0 file for part=b is still on disk but filtered out
    assert any("part=b" in f for f in t.files(0))
    # re-register after another write advances the snapshot
    t.delete(spark, F.col("k") == 1)
    t.register(spark, "reg_test")
    assert spark.sql(
        "SELECT count(*) AS n FROM lakehouse_dwh.reg_test"
    ).collect()[0].n == 3


def test_register_pins_manifest_schema_after_evolution(spark, df3, tmp_path):
    """The registered snapshot must carry the MANIFEST's schema, not a
    footer-inferred one: after evolve_schema merge the data tree holds
    files with and without the new column, and parquet inference over
    the directory picks an arbitrary footer — the catalog table instead
    declares read()'s pinned schema and null-fills carryover files."""
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path, partition_by=["part"])
    source = spark.createDataFrame(
        [(2, "b", 99.0, "x"), (4, "c", 40.0, "y")],
        "k BIGINT, part STRING, v DOUBLE, extra STRING",
    )
    t.merge(spark, source, key=["k"], evolve_schema=True)
    t.register(spark, "reg_evo")
    got = spark.sql(
        "SELECT k, part, v, extra FROM lakehouse_dwh.reg_evo"
    )
    # view schema == read() schema (manifest-pinned), including `extra`
    assert {f.name for f in got.schema.fields} == {
        f.name for f in t.read(spark).schema.fields
    }
    rows = {r.k: (r.v, r.extra) for r in got.collect()}
    # carryover part=a file (no `extra` in its footer) null-fills
    assert rows == {
        1: (10.0, None),
        2: (99.0, "x"),
        3: (30.0, None),
        4: (40.0, "y"),
    }


def test_manifest_stats_collected_on_commit(spark, df3, tmp_path):
    t = LakeTable.create(df3, str(tmp_path / "t"))
    m = t._manifest(t.version())
    assert m["file_stats"], "commit must collect per-file footer stats"
    # global bounds across the non-empty files
    ks = [
        s["minmax"]["k"]
        for s in m["file_stats"].values()
        if s.get("rows")
    ]
    assert min(lo for lo, _ in ks) == 1 and max(hi for _, hi in ks) == 3
    vs = [
        s["minmax"]["v"]
        for s in m["file_stats"].values()
        if s.get("rows")
    ]
    assert min(lo for lo, _ in vs) == 10.0 and max(hi for _, hi in vs) == 30.0


def test_data_skipping_prunes_clustered_files(spark, tmp_path):
    """After OPTIMIZE cluster_by, each file owns a disjoint key range —
    a range predicate must drop most files at the manifest and still
    return exactly the filtered rows."""
    df = spark.range(0, 1000).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    )
    t = LakeTable.create(df, str(tmp_path / "t"))
    t.optimize(spark, target_partitions=8, cluster_by=["k"])
    total = len(t.files())
    assert total == 8
    pred = [("k", ">=", 900)]
    kept = t.prune_files(pred)
    assert 0 < len(kept) < total, f"no skipping: kept {len(kept)}/{total}"
    rows = sorted(
        r.k for r in t.read(spark, prune=pred).filter(F.col("k") >= 900).collect()
    )
    assert rows == list(range(900, 1000))


def test_data_skipping_is_conservative(spark, df3, tmp_path):
    t = LakeTable.create(df3.coalesce(1), str(tmp_path / "t"))
    # unknown column, type-mismatched value, boolean value: all keep everything
    assert t.prune_files([("nope", ">=", 5)]) == t.files()
    assert t.prune_files([("k", ">=", "zzz")]) == t.files()
    assert t.prune_files([("k", ">=", True)]) == t.files()
    # between fully outside the range drops the file
    assert t.prune_files([("k", "between", (100, 200))]) == []
    # equality inside the range keeps it
    assert t.prune_files([("k", "=", 2)]) == t.files()


def test_data_skipping_temporal_shapes_never_unsound(spark, tmp_path):
    """Cross-kind temporal bounds must never prune a matching row: a
    DATE column's stats ('1997-01-01', 10 chars) pruned with a datetime
    predicate (26-char canonical form) is chronologically equal at the
    boundary but lexicographically smaller — prune_files must refuse
    the comparison and keep the file.  Same-kind comparisons still
    prune, and tz-aware predicates convert to UTC-naive."""
    import datetime

    df = spark.sql(
        "SELECT CAST(d AS DATE) AS d, CAST(d AS TIMESTAMP) AS ts, id FROM ("
        "  SELECT date_add(DATE '1996-12-30', CAST(id AS INT)) AS d, id"
        "  FROM range(4))"
    )
    t = LakeTable.create(df.coalesce(1), str(tmp_path / "t"))
    files = t.files()
    # DATE column vs datetime predicate: boundary-equal — must keep
    assert (
        t.prune_files([("d", ">=", datetime.datetime(1997, 1, 2))]) == files
    )
    assert (
        t.prune_files([("d", "<", datetime.datetime(1996, 12, 30))]) == files
    )
    # DATE column vs date predicate: same shape — prunes correctly
    assert t.prune_files([("d", ">", datetime.date(1997, 1, 2))]) == []
    assert t.prune_files([("d", "<=", datetime.date(1997, 1, 2))]) == files
    # TIMESTAMP column vs naive datetime: same canonical shape — prunes
    assert t.prune_files([("ts", ">", datetime.datetime(1997, 1, 2))]) == []
    # tz-aware predicate: equal instant expressed at +02:00 — the naive
    # twin of the same instant prunes identically, no lexicographic trap
    plus2 = datetime.timezone(datetime.timedelta(hours=2))
    aware = datetime.datetime(1997, 1, 2, 2, 0, tzinfo=plus2)  # = 00:00 UTC
    assert t.prune_files([("ts", ">", aware)]) == t.prune_files(
        [("ts", ">", datetime.datetime(1997, 1, 2))]
    )


def test_data_skipping_drops_provably_empty_files(spark, df3, tmp_path):
    """A 3-row df written through >3 shuffle partitions stages at least
    one 0-row parquet file; its manifest stats record rows=0 and any
    pruned read drops it without opening storage."""
    t = LakeTable.create(df3, str(tmp_path / "t"))
    m = t._manifest(t.version())
    empties = [f for f, s in m["file_stats"].items() if s.get("rows") == 0]
    assert empties, "fixture expectation: at least one empty staged file"
    kept = t.prune_files([("k", ">=", 1)])  # predicate matches every row
    assert set(kept).isdisjoint(empties)
    assert sorted(r.k for r in t.read(spark, prune=[("k", ">=", 1)]).collect()) \
        == [1, 2, 3]


def test_data_skipping_carryover_keeps_stats(spark, df3, tmp_path):
    """Partition-scoped MERGE: untouched partitions' files carry over
    with their stats intact (no footer re-read, no stat loss)."""
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path, partition_by=["part"])
    source = spark.createDataFrame(
        [(2, "b", 99.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    t.merge(spark, source, key=["k"])
    m = t._manifest(t.version())
    carried = [f for f in m["files"] if f.startswith("part=a")]
    assert carried and all(m["file_stats"][f] for f in carried)


def test_stats_tolerate_unextractable_types(spark, tmp_path):
    """DECIMAL (fixed-len byte array) stats raise inside pyarrow —
    commit must degrade to stat-less entries, never fail the write."""
    df = spark.createDataFrame(
        [(1, 10.0)], "k BIGINT, v DOUBLE"
    ).selectExpr("k", "CAST(v AS DECIMAL(18,2)) AS price")
    t = LakeTable.create(df, str(tmp_path / "t"))
    m = t._manifest(0)
    entry = next(s for s in m["file_stats"].values() if s.get("rows"))
    assert "k" in entry["minmax"] and "price" not in entry["minmax"]
    # pruning on the stat-less column keeps every NON-EMPTY file
    # (conservative; provably-empty staged files still drop)
    nonempty = [
        f for f in t.files() if m["file_stats"][f].get("rows")
    ]
    assert t.prune_files([("price", ">=", 0)]) == nonempty
    assert t.read(spark, prune=[("price", ">=", 0)]).count() == 1


def test_distributed_pruning_matches_driver(spark, tmp_path):
    """prune_files_distributed (Spark job over the parquet stats
    checkpoint) must return exactly the driver loop's survivors for
    every predicate kind: numeric range, string equality, temporal
    bounds incl. the cross-shape cases the driver refuses, between,
    and provably-empty files."""
    import datetime

    df = spark.sql(
        "SELECT id AS k, CAST(id AS DOUBLE) AS v,"
        "       concat('s', lpad(CAST(id % 7 AS STRING), 2, '0')) AS s,"
        "       date_add(DATE '1996-12-30', CAST(id % 40 AS INT)) AS d,"
        "       CAST(date_add(DATE '1996-12-30', CAST(id % 40 AS INT))"
        "            AS TIMESTAMP) AS ts "
        "FROM range(1000)"
    )
    t = LakeTable.create(df, str(tmp_path / "t"))
    t.optimize(spark, target_partitions=8, cluster_by=["k"])
    cases = [
        [("k", ">=", 900)],
        [("k", "<", 10)],
        [("k", "=", 500)],
        [("k", "between", (100, 200))],
        [("v", ">", 950.0)],
        [("s", ">=", "s05")],
        [("d", ">", datetime.date(1997, 1, 20))],
        [("d", ">=", datetime.datetime(1997, 1, 2))],   # cross-shape: keep all
        [("ts", ">", datetime.datetime(1997, 1, 20))],
        [("nope", ">=", 5)],                             # unknown col
        [("k", ">=", True)],                             # bool: unusable
        [("k", ">=", 900), ("v", "<", 100.0)],           # conjunction
    ]
    for pred in cases:
        drv = t.prune_files(pred)
        dist = t.prune_files_distributed(spark, pred)
        assert dist == drv, f"mismatch for {pred}: {dist} != {drv}"
        # result-transparent through read(prune_via='spark')
    rows = sorted(
        r.k
        for r in t.read(spark, prune=[("k", ">=", 900)], prune_via="spark")
        .filter(F.col("k") >= 900)
        .collect()
    )
    assert rows == list(range(900, 1000))


def test_stats_checkpoint_written_and_fallback(spark, df3, tmp_path):
    """Every commit writes the parquet stats checkpoint next to the
    JSON manifest; for pre-checkpoint tables stats_relation
    materializes it on first use from the JSON."""
    import os as _os

    t = LakeTable.create(df3, str(tmp_path / "t"))
    ck = t._stats_checkpoint_path(0)
    assert _os.path.exists(ck)
    rel = t.stats_relation(spark)
    members = rel.filter(F.col("col").isNull()).count()
    assert members == len(t.files())
    # fallback path: delete the checkpoint, relation rebuilds from JSON
    _os.remove(ck)
    rel2 = t.stats_relation(spark)
    assert rel2.filter(F.col("col").isNull()).count() == members
    assert _os.path.exists(ck)


def test_concurrent_commit_loser_raises(spark, df3, tmp_path):
    """Optimistic concurrency: if another writer publishes the version
    this operation staged against, the commit must raise
    ConcurrentWriteError — never clobber the winner's manifest — and a
    retry against the advanced snapshot must succeed."""
    import json as _json
    import os as _os

    from lab5_lakehouse_etl_spark.lakehouse.table import ConcurrentWriteError

    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path)
    # both writers read base v0 and target v1; the winner publishes
    # first (the loser's version() + 1 is now stale)
    target = t.version() + 1
    winner = dict(t._manifest(0), version=target, operation="concurrent")
    with open(_os.path.join(t.log_dir, f"v{target}.json"), "w") as fh:
        _json.dump(winner, fh)
    loser = dict(t._manifest(0), version=target, operation="loser")
    with pytest.raises(ConcurrentWriteError, match="concurrent writer"):
        t._commit(target, loser)
    # winner's manifest untouched, no stray tmp files left behind
    assert t._manifest(target)["operation"] == "concurrent"
    assert not [f for f in _os.listdir(t.log_dir) if f.endswith(".tmp")]
    # a fresh operation re-reads the advanced snapshot and lands v2
    source = spark.createDataFrame(
        [(9, "z", 1.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    t.merge(spark, source, key=["k"])
    assert t.version() == 2
    assert {r.k for r in t.read(spark).collect()} == {1, 2, 3, 9}


def test_write_audit_publish(spark, df3, tmp_path):
    """WAP: stage_merge writes data files but commits nothing — the
    table is unchanged and the staged snapshot is auditable; publish
    makes it the next version atomically; abort removes exactly the
    staged files (never carryover) and leaves the table untouched."""
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path, partition_by=["part"])
    source = spark.createDataFrame(
        [(2, "b", 99.0), (4, "c", 40.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    staged = t.stage_merge(spark, source, key=["k"])
    # nothing committed: table still serves v0
    assert t.version() == 0
    assert {r.k: r.v for r in t.read(spark).collect()} == {
        1: 10.0, 2: 20.0, 3: 30.0,
    }
    # audit the candidate snapshot (the DQ-gate hook)
    audit = {r.k: r.v for r in staged.read(spark).collect()}
    assert audit == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}
    # publish: candidate becomes v1
    assert t.publish(staged) == 1
    assert {r.k: r.v for r in t.read(spark).collect()} == audit

    # second stage, this time audited-and-rejected
    bad = spark.createDataFrame(
        [(5, "d", -1.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    staged2 = t.stage_merge(spark, bad, key=["k"])
    assert staged2.read(spark).filter(F.col("v") < 0).count() == 1  # audit fails
    carry_before = [f for f in staged2.files if not f.split("/")[-1].startswith("v2-")]
    t.abort(staged2)
    # staged files gone, carryover intact, table unchanged
    import os as _os

    for f in staged2.files:
        exists = _os.path.exists(_os.path.join(t.data_dir, f))
        assert exists == (f in carry_before), f
    assert t.version() == 1
    assert {r.k for r in t.read(spark).collect()} == {1, 2, 3, 4}


def test_append_blind_insert(spark, df3, tmp_path):
    """append(): O(new rows) ingest — no key matching, no rewrite of
    existing files; schema must match; CDF/time-travel see it as a new
    version."""
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path)
    v0_files = set(t.files())
    more = spark.createDataFrame(
        [(2, "b", 99.0), (9, "z", 1.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    assert t.append(spark, more) == 1
    # old files untouched and still referenced; duplicates allowed (blind)
    assert v0_files <= set(t.files())
    rows = sorted((r.k, r.v) for r in t.read(spark).collect())
    assert rows == [(1, 10.0), (2, 20.0), (2, 99.0), (3, 30.0), (9, 1.0)]
    with pytest.raises(ValueError, match="append schema mismatch"):
        t.append(spark, spark.createDataFrame([(1, "x")], "k BIGINT, other STRING"))


def test_incremental_optimize_compacts_only_small_files(spark, tmp_path):
    """optimize(max_file_bytes=...): append-accumulated small files are
    rebinned, the healthy big file carries over BY REFERENCE, rows are
    unchanged, and an already-optimal snapshot is a no-op (no new
    version)."""
    import os as _os

    path = str(tmp_path / "t")
    big = spark.range(0, 200_000).selectExpr(
        "id AS k", "CAST(id AS STRING) AS part", "CAST(id AS DOUBLE) AS v"
    )
    t = LakeTable.create(big.coalesce(1), path)
    assert len(t.files()) == 1
    big_file = t.files()[0]
    for i in range(3):  # small-file accumulation via appends
        t.append(
            spark,
            spark.createDataFrame(
                [(1_000_000 + i, "s", 0.5)], "k BIGINT, part STRING, v DOUBLE"
            ).coalesce(1),
        )
    assert len(t.files()) == 4
    threshold = _os.path.getsize(_os.path.join(t.data_dir, big_file))
    v = t.optimize(spark, max_file_bytes=threshold)
    assert v == 4
    files = t.files()
    assert big_file in files            # carried by reference
    assert len(files) == 2              # big + one compacted bin
    assert t.read(spark).count() == 200_003
    # already optimal: no-op, version unchanged
    assert t.optimize(spark, max_file_bytes=threshold) == 4
    with pytest.raises(ValueError, match="incremental"):
        t.optimize(spark, max_file_bytes=1024, cluster_by=["k"])


def test_restore_metadata_only_rollback(spark, df3, tmp_path):
    """restore(): rollback as a NEW version referencing the target
    snapshot's files — no data movement, bad version stays queryable;
    restoring past the vacuum horizon raises."""
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path)
    bad = spark.createDataFrame(
        [(2, "b", -999.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    t.merge(spark, bad, key=["k"])
    assert t.version() == 1
    v = t.restore(spark, 0)
    assert v == 2
    assert {r.k: r.v for r in t.read(spark).collect()} == {
        1: 10.0, 2: 20.0, 3: 30.0,
    }
    # same files as v0, no new data written; bad version still queryable
    assert t.files(2) == t.files(0)
    assert {r.v for r in t.read(spark, version=1).collect() if r.k == 2} == {-999.0}
    assert [m["operation"] for m in t.history()] == ["create", "merge", "restore"]
    # push v0's files past the vacuum horizon (retain 2: v2's files ==
    # v0's, so two more rewriting commits evict them)
    t.delete(spark, F.col("k") == 1)
    t.delete(spark, F.col("k") == 2)
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(spark, 0)


def test_restore_across_rename_restores_mapping(spark, df3, tmp_path):
    """restore() must commit the TARGET snapshot's column_mapping /
    dropped_physical alongside its schema — not carry the current
    version's. Otherwise restoring across a rename pairs the old
    logical schema with the new mapping: reads return misnamed
    columns and subsequent appends fail the schema check."""
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path)           # v0: columns k, part, v
    t.rename_column("v", "amount")            # v1: k, part, amount
    t.merge(
        spark,
        spark.createDataFrame(
            [(9, "c", 90.0)], "k BIGINT, part STRING, amount DOUBLE"
        ),
        key=["k"],
    )                                         # v2
    v = t.restore(spark, 0)                   # back to the pre-rename world
    assert v == 3
    got = t.read(spark)
    assert set(got.columns) == {"k", "part", "v"}
    assert {r.k: r.v for r in got.collect()} == {1: 10.0, 2: 20.0, 3: 30.0}
    # the renamed version stays queryable under its own names (until
    # later commits push it past the vacuum horizon)
    assert "amount" in t.read(spark, version=2).columns
    # the restored snapshot accepts appends under its OWN schema
    t.append(
        spark,
        spark.createDataFrame([(4, "a", 40.0)], "k BIGINT, part STRING, v DOUBLE"),
    )
    assert t.read(spark).count() == 4
    assert set(t.read(spark).columns) == {"k", "part", "v"}


def test_partition_column_stats_enable_pruning(spark, tmp_path):
    """Partition columns never appear in parquet footers, so their
    min/max must come from the hive dir values: predicates on the
    partition column — the most common pruning predicate — must skip
    whole partitions at the MANIFEST, on the driver and the
    distributed path alike, without ever dropping a matching row."""
    import datetime

    df = spark.sql(
        "SELECT id AS k,"
        "       CAST(id % 4 AS INT) AS bucket,"
        "       concat('g', CAST(id % 3 AS STRING)) AS grp,"
        "       date_add(DATE '1997-01-01', CAST(id % 5 AS INT)) AS d "
        "FROM range(200)"
    )
    path = str(tmp_path / "t")
    t = LakeTable.create(df, path, partition_by=["bucket", "grp"])
    files = t.files()
    # int partition predicate prunes to the matching dirs only
    kept = t.prune_files([("bucket", "=", 3)])
    assert kept and all(f.startswith("bucket=3/") for f in kept)
    assert set(kept) < set(files)
    # string partition predicate, second-level dir
    kept2 = t.prune_files([("grp", "=", "g1")])
    assert kept2 and all("/grp=g1/" in f for f in kept2)
    # distributed path agrees on every predicate shape
    for pred in (
        [("bucket", "=", 3)],
        [("grp", ">=", "g2")],
        [("bucket", "between", (1, 2)), ("grp", "=", "g0")],
    ):
        assert t.prune_files_distributed(spark, pred) == t.prune_files(pred)
    # result-transparent
    rows = sorted(
        r.k
        for r in t.read(spark, prune=[("bucket", "=", 3)])
        .filter(F.col("bucket") == 3)
        .collect()
    )
    assert rows == [k for k in range(200) if k % 4 == 3]

    # DATE partition column: same-kind predicate prunes, cross-kind kept
    t2 = LakeTable.create(df, str(tmp_path / "t2"), partition_by=["d"])
    pred_d = [("d", "=", datetime.date(1997, 1, 3))]
    kept_d = t2.prune_files(pred_d)
    assert kept_d and all(f.startswith("d=1997-01-03/") for f in kept_d)
    assert t2.prune_files_distributed(spark, pred_d) == kept_d
    # datetime predicate vs date stats: conservative, keeps everything
    assert (
        t2.prune_files([("d", "=", datetime.datetime(1997, 1, 3))])
        == t2.files()
    )


def test_partition_stats_null_partition_conservative(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None, 1.0), (2, "b", 2.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    t = LakeTable.create(df, str(tmp_path / "t"), partition_by=["part"])
    # the null partition has no stats → every predicate keeps it
    null_files = [f for f in t.files() if "__HIVE_DEFAULT_PARTITION__" in f]
    assert null_files
    kept = t.prune_files([("part", "=", "zzz")])
    assert set(null_files) <= set(kept)
    assert [f for f in kept if f.startswith("part=b/")] == []


def test_timestamp_time_travel_and_metadata_tables(spark, df3, tmp_path):
    """TIMESTAMP AS OF resolution, DESCRIBE HISTORY twin, and the
    .files metadata relation."""
    import time as _time

    t = LakeTable.create(df3, str(tmp_path / "t"))
    between = _time.time()
    _time.sleep(0.02)
    t.merge(
        spark,
        spark.createDataFrame([(9, "z", 1.0)], "k BIGINT, part STRING, v DOUBLE"),
        key=["k"],
    )
    assert t.version_as_of(between) == 0
    assert t.version_as_of(_time.time()) == 1
    with pytest.raises(ValueError, match="no version"):
        t.version_as_of(between - 1000)
    assert t.read(spark, as_of=between).count() == 3
    with pytest.raises(ValueError, match="not both"):
        t.read(spark, version=0, as_of=between)
    h = {r.version: (r.operation, r.n_rows) for r in t.history_df(spark).collect()}
    assert h[0] == ("create", 3) and h[1] == ("merge", 4)
    fdf = t.files_df(spark).collect()
    assert {r.file for r in fdf} == set(t.files())
    assert all(r.bytes > 0 for r in fdf)
    assert sum(r.n_rows for r in fdf) == 4


def test_deletion_vector_delete(spark, df3, tmp_path):
    """Merge-on-read DELETE: rows disappear from read() while the file
    list is untouched; DVs stack; NULL predicates keep rows; time
    travel sees the pre-delete snapshot."""
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path)
    files_before = t.files()
    assert t.delete_dv(spark, F.col("k") == 2) == 1
    assert t.files() == files_before           # no data movement
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 3]
    assert t.read(spark, version=0).count() == 3  # time travel pre-DV
    # stacked second DV
    t.delete_dv(spark, F.col("k") == 3)
    assert [r.k for r in t.read(spark).collect()] == [1]
    assert t.files() == files_before
    # NULL predicate keeps the row (SQL DELETE semantics)
    df_null = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None)], "k BIGINT, part STRING, v DOUBLE"
    )
    t2 = LakeTable.create(df_null, str(tmp_path / "t2"))
    t2.delete_dv(spark, F.col("v") > 5.0)
    assert sorted(r.k for r in t2.read(spark).collect()) == [2]


def test_deletion_vectors_interact_with_rewrites(spark, df3, tmp_path):
    """Rewriting operations must materialize DVs, never resurrect
    deleted rows: merge reads through DVs; incremental OPTIMIZE
    compacts DV'd files without bringing rows back; a full OPTIMIZE
    clears the pointers and re-enables catalog registration."""
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path)
    t.delete_dv(spark, F.col("k") == 2)
    # register refuses a DV'd snapshot (the view cannot apply pointers)
    with pytest.raises(ValueError, match="deletion vectors"):
        t.register(spark, "dv_reg")
    # merge on top of DVs: deleted row must not resurrect
    t.merge(
        spark,
        spark.createDataFrame([(9, "z", 1.0)], "k BIGINT, part STRING, v DOUBLE"),
        key=["k"],
    )
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 3, 9]
    # incremental optimize over DV'd small files: still no resurrection
    t3 = LakeTable.create(df3, str(tmp_path / "t3"))
    t3.delete_dv(spark, F.col("k") == 1)
    t3.append(
        spark,
        spark.createDataFrame([(7, "q", 7.0)], "k BIGINT, part STRING, v DOUBLE"),
    )
    t3.optimize(spark, max_file_bytes=10_000_000)
    assert sorted(r.k for r in t3.read(spark).collect()) == [2, 3, 7]
    assert not t3._manifest(t3.version()).get("dv_dirs")  # all rewritten
    # full optimize clears DVs and registration works again
    t4 = LakeTable.create(df3, str(tmp_path / "t4"))
    t4.delete_dv(spark, F.col("k") == 3)
    t4.optimize(spark, target_partitions=1)
    assert not t4._manifest(t4.version()).get("dv_dirs")
    t4.register(spark, "dv_reg_ok")
    assert spark.sql(
        "SELECT count(*) n FROM lakehouse_dwh.dv_reg_ok"
    ).collect()[0].n == 2


def test_deletion_vector_change_feed_and_restore(spark, df3, tmp_path):
    """CDF across a DV commit reports the DV'd rows as deletes (carried
    files are byte-identical, so only pointer hydration can see them);
    restore to the pre-DV snapshot resurrects them and the feed shows
    the resurrection as inserts."""
    path = str(tmp_path / "t")
    t = LakeTable.create(df3, path)
    t.retain_versions = 4
    t.delete_dv(spark, F.col("k") == 2)
    feed = t.changes(spark, key=["k"], from_version=0, to_version=1)
    rows = [(r.k, r._change_type) for r in feed.collect()]
    assert rows == [(2, "delete")]
    # restore to v0: pointers dropped, row back
    t.restore(spark, 0)
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2, 3]
    feed2 = t.changes(spark, key=["k"], from_version=1, to_version=2)
    assert [(r.k, r._change_type) for r in feed2.collect()] == [(2, "insert")]
    # end-to-end: v0 -> v2 shows no net change
    assert t.changes(spark, key=["k"], from_version=0, to_version=2).count() == 0


def test_check_constraints(spark, df3, tmp_path):
    """ADD CONSTRAINT validates the existing snapshot once; every
    later write validates its WRITTEN rows; NULL checks pass (SQL CHECK
    semantics); drop re-opens the gate; constraints carry across
    commits."""
    from lab5_lakehouse_etl_spark.lakehouse.table import (
        ConstraintViolationError,
    )

    t = LakeTable.create(df3, str(tmp_path / "t"))
    t.add_constraint(spark, "v_positive", "v > 0")
    assert t.constraints() == {"v_positive": "v > 0"}
    # violating merge rejected before any commit
    bad = spark.createDataFrame(
        [(9, "z", -1.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    with pytest.raises(ConstraintViolationError, match="v_positive"):
        t.merge(spark, bad, key=["k"])
    assert t.version() == 1  # nothing committed
    # violating append rejected too
    with pytest.raises(ConstraintViolationError, match="append"):
        t.append(spark, bad)
    # NULL check passes (SQL CHECK), valid rows pass
    ok = spark.createDataFrame(
        [(9, "z", None), (10, "w", 5.0)], "k BIGINT, part STRING, v DOUBLE"
    )
    t.merge(spark, ok, key=["k"])
    assert t.read(spark).count() == 5
    # carries across commits; duplicate add rejected
    assert t.constraints() == {"v_positive": "v > 0"}
    with pytest.raises(ValueError, match="already exists"):
        t.add_constraint(spark, "v_positive", "v > 0")
    # cannot add a constraint the existing data violates
    with pytest.raises(ConstraintViolationError, match="existing"):
        t.add_constraint(spark, "v_big", "v > 100")
    # drop re-opens the gate
    t.drop_constraint("v_positive")
    t.merge(spark, bad, key=["k"])
    assert {r.v for r in t.read(spark).collect() if r.k == 9} == {-1.0}


def test_bloom_index_equality_skipping(spark, tmp_path):
    """Bloom-filter index (Delta delta.bloomFilter.* twin): a point
    lookup on an UNCLUSTERED column — every file spans the whole id
    range, so min/max can never refute — skips files via per-file
    membership filters; unset bits prove absence (sound), kind
    mismatches and dropped indexes are conservative, and the driver
    and distributed pruning paths stay bit-identical."""
    from pyspark.sql import functions as F

    df = spark.range(0, 4000).select(
        (F.col("id") % 499).alias("ck"),
        F.concat(F.lit("u"), (F.col("id") % 499).cast("string")).alias("nm"),
        F.col("id").alias("rowid"),
    ).repartition(6, F.col("ck") % 48)
    t = LakeTable.create(df, str(tmp_path / "t"))
    pred = [("ck", "=", 123)]
    # no index: min/max cannot prune interleaved ids
    assert len(t.prune_files(pred)) == len(t.files())
    t.add_bloom_index("ck", m=4096, k=5)
    t.add_bloom_index("nm", m=4096, k=5)
    kept = t.prune_files(pred)
    assert 0 < len(kept) < len(t.files())
    assert kept == t.prune_files_distributed(spark, pred)
    # soundness: pruned scan + filter == full scan + filter
    full = t.read(spark).filter(F.col("ck") == 123).count()
    assert t.read(spark, prune=pred).filter(F.col("ck") == 123).count() == full
    assert (
        t.read(spark, prune=pred, prune_via="spark")
        .filter(F.col("ck") == 123)
        .count()
        == full
    )
    # absent value: every file provably excluded, both backends
    gone = [("ck", "=", 10**6)]
    assert t.prune_files(gone) == [] == t.prune_files_distributed(spark, gone)
    # string column probes work; cross-kind probes never prune
    assert 0 < len(t.prune_files([("nm", "=", "u123")])) < len(t.files())
    for p in ([("ck", "=", "123")], [("nm", "=", 123)], [("ck", "=", 123.0)]):
        assert len(t.prune_files(p)) == len(t.files())
        assert t.prune_files(p) == t.prune_files_distributed(spark, p)
    # new files hash on append; carried files keep their filters.
    # ck is SCATTERED (id*131 mod 499) so the appended files also span
    # the whole domain — min/max must stay powerless, isolating the
    # bloom lane in every assertion below
    t.append(
        spark,
        spark.range(4000, 4400).select(
            ((F.col("id") * 131) % 499).alias("ck"),
            F.concat(
                F.lit("u"), ((F.col("id") * 131) % 499).cast("string")
            ).alias("nm"),
            F.col("id").alias("rowid"),
        ),
    )
    kept2 = t.prune_files(pred)
    assert 0 < len(kept2) < len(t.files())
    assert kept2 == t.prune_files_distributed(spark, pred)
    assert t.read(spark, prune=pred).filter(F.col("ck") == 123).count() == (
        t.read(spark).filter(F.col("ck") == 123).count()
    )
    # drop is metadata-only and conservative on both backends
    t.drop_bloom_index("ck")
    assert len(t.prune_files(pred)) == len(t.files())
    assert t.prune_files(pred) == t.prune_files_distributed(spark, pred)
    # the indexed snapshot remains queryable via time travel
    assert 0 < len(t.prune_files(pred, version=3)) < len(t.files())
    # guardrails: unknown / non-int-string / partition columns raise
    with pytest.raises(ValueError, match="only"):
        t.add_bloom_index("nosuch")
    pt = LakeTable.create(df, str(tmp_path / "pt"), partition_by=["ck"])
    with pytest.raises(ValueError, match="partition"):
        pt.add_bloom_index("ck")


def test_shallow_clone(spark, df3, tmp_path):
    """SHALLOW CLONE parity: O(files) hard-link clone — no data bytes
    copied (inode-shared), snapshot stats/constraints/bloom config and
    deletion vectors carry, both tables evolve independently afterward,
    and vacuuming the source never breaks the clone (the documented
    improvement over Delta's pointer-style clones)."""
    from pyspark.sql import functions as F

    t = LakeTable.create(df3, str(tmp_path / "src"))
    t.add_bloom_index("k", m=512, k=4)
    t.add_constraint(spark, "v_notneg", "v >= 0")
    t.delete_dv(spark, "k = 1")
    src_rows = sorted(map(str, t.read(spark).collect()))

    c = t.clone(str(tmp_path / "dst"))
    # zero-copy: every carried data file shares an inode with the source
    for f in c.files():
        assert os.stat(os.path.join(c.data_dir, f)).st_ino == os.stat(
            os.path.join(t.data_dir, f)
        ).st_ino
    # snapshot equality incl. DV application
    assert sorted(map(str, c.read(spark).collect())) == src_rows
    # metadata carried: constraints, bloom config (pruning works
    # immediately, no recompute), stats checkpoint
    assert c.constraints() == t.constraints()
    assert c.bloom_index() == t.bloom_index()
    assert c.prune_files([("k", "=", 10**6)]) == []
    # independent evolution: write to clone, source unchanged
    c.merge(
        spark,
        spark.createDataFrame([(7, "z", 9.0)], "k BIGINT, part STRING, v DOUBLE"),
        key=["k"],
    )
    assert sorted(map(str, t.read(spark).collect())) == src_rows
    assert c.read(spark).count() == t.read(spark).count() + 1
    # constraint carried ACTIVELY on the clone
    import pytest as _pt
    from lab5_lakehouse_etl_spark.lakehouse.table import (
        ConstraintViolationError,
    )
    with _pt.raises(ConstraintViolationError):
        c.append(
            spark,
            spark.createDataFrame(
                [(8, "z", -1.0)], "k BIGINT, part STRING, v DOUBLE"
            ),
        )
    # source rewrite + vacuum: clone still reads its snapshot
    t.delete(spark, F.col("k") >= 0)
    t._vacuum(keep=1)
    assert sorted(map(str, c.read(spark, version=0).collect())) == src_rows
    # destination must not already exist
    with _pt.raises(ValueError, match="exists"):
        t.clone(str(tmp_path / "dst"))


def test_generated_columns(spark, tmp_path):
    """GENERATED ALWAYS AS parity: omitted generated columns are
    materialized from their expression on create, merge, and append;
    provided values are validated row-by-row (a mismatch raises before
    anything lands); the headline case — an expression-derived
    PARTITION column — yields hive layout + manifest pruning without
    any writer computing the value by hand."""
    from lab5_lakehouse_etl_spark.lakehouse.table import (
        ConstraintViolationError,
    )

    df = spark.createDataFrame(
        [(1, "2024-03-05", 10.0), (2, "2025-07-01", 20.0)],
        "k BIGINT, d STRING, v DOUBLE",
    )
    t = LakeTable.create(
        df,
        str(tmp_path / "t"),
        partition_by=["y"],
        generated={"y": "CAST(substring(d, 1, 4) AS INT)"},
    )
    assert t.generated_columns() == {"y": "CAST(substring(d, 1, 4) AS INT)"}
    assert {(r.k, r.y) for r in t.read(spark).collect()} == {(1, 2024), (2, 2025)}
    assert os.path.isdir(os.path.join(str(tmp_path / "t"), "data", "y=2024"))
    # append without the column: materialized, lands in the right
    # partition, partition stats prune on it
    t.append(
        spark,
        spark.createDataFrame([(3, "2024-11-11", 30.0)], "k BIGINT, d STRING, v DOUBLE"),
    )
    assert {r.k for r in t.read(spark).filter(F.col("y") == 2024).collect()} == {1, 3}
    kept = t.prune_files([("y", "=", 2025)])
    assert 0 < len(kept) < len(t.files())
    # merge without the column: materialized
    t.merge(
        spark,
        spark.createDataFrame([(2, "2026-01-01", 21.0)], "k BIGINT, d STRING, v DOUBLE"),
        key=["k"],
    )
    assert {(r.k, r.y) for r in t.read(spark).collect()} == {
        (1, 2024), (2, 2026), (3, 2024),
    }
    # provided-and-correct passes; provided-and-wrong raises pre-commit
    v_before = t.version()
    t.append(
        spark,
        spark.createDataFrame(
            [(4, "2027-05-05", 40.0, 2027)], "k BIGINT, d STRING, v DOUBLE, y INT"
        ),
    )
    with pytest.raises(ConstraintViolationError, match="GENERATED"):
        t.append(
            spark,
            spark.createDataFrame(
                [(5, "2028-05-05", 50.0, 1999)],
                "k BIGINT, d STRING, v DOUBLE, y INT",
            ),
        )
    assert t.version() == v_before + 1  # the bad append committed nothing
    # config survives clone
    c = t.clone(str(tmp_path / "c"))
    assert c.generated_columns() == t.generated_columns()


def test_optimize_where_partition_scoped(spark, tmp_path):
    """OPTIMIZE ... WHERE parity: the rewrite touches only files of
    matching PARTITIONS — everything else carries by reference (same
    file names, same bytes), deletion vectors on carried partitions
    stay live, non-partition predicates are rejected, and an empty
    scope commits nothing."""
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", float(i)) for i in range(40)],
        "k BIGINT, part STRING, v DOUBLE",
    ).repartition(4)
    path = str(tmp_path / "t")
    t = LakeTable.create(df, path, partition_by=["part"])
    a_before = [f for f in t.files() if f.startswith("part=a/")]
    b_before = [f for f in t.files() if f.startswith("part=b/")]
    assert len(a_before) > 1 and len(b_before) > 1
    # DV on partition b: must survive an optimize scoped to a
    t.delete_dv(spark, "k = 1")
    assert not [r.k for r in t.read(spark).collect() if r.k == 1]

    v = t.optimize(spark, target_partitions=1, where=[("part", "=", "a")])
    assert v == t.version()
    a_after = [f for f in t.files() if f.startswith("part=a/")]
    b_after = [f for f in t.files() if f.startswith("part=b/")]
    assert len(a_after) == 1  # compacted
    assert b_after == b_before  # carried by reference, untouched
    ks = sorted(r.k for r in t.read(spark).collect())
    assert ks == [k for k in range(40) if k != 1]  # rows intact, DV live

    # empty scope: no commit
    assert t.optimize(spark, where=[("part", "=", "zzz")]) == t.version()
    # non-partition predicate rejected
    with pytest.raises(ValueError, match="partition columns"):
        t.optimize(spark, where=[("k", ">=", 0)])
    # where + clustering: scope rows re-clustered, scope only
    v2 = t.optimize(
        spark, target_partitions=2, cluster_by=["k"], where=[("part", "=", "b")]
    )
    assert v2 == t.version()
    assert [f for f in t.files() if f.startswith("part=a/")] == a_after
    ks2 = sorted(r.k for r in t.read(spark).collect())
    assert ks2 == ks


def test_rename_column_mapping(spark, df3, tmp_path):
    """RENAME COLUMN via column mapping: metadata-only (data files keep
    their original physical names — verified in the footer), reads and
    writes translate at the choke points, stats/bloom stay valid,
    pruning predicates translate, time travel shows per-version names,
    clones carry the mapping, and guarded cases raise."""
    import pyarrow.parquet as pq

    t = LakeTable.create(df3, str(tmp_path / "t"))
    t.add_bloom_index("k", m=512, k=4)
    files_before = list(t.files())
    t.rename_column("v", "amount")
    # metadata-only: identical file list, physical footer still says v
    assert t.files() == files_before
    footer = pq.ParquetFile(
        os.path.join(t.data_dir, t.files()[0])
    ).schema_arrow.names
    assert "v" in footer and "amount" not in footer
    # logical read
    got = {r.k: r.amount for r in t.read(spark).collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 30.0}
    assert "v" not in t.read(spark).columns
    # writes with logical names; new files still carry physical names
    t.merge(
        spark,
        spark.createDataFrame(
            [(4, "c", 40.0)], "k BIGINT, part STRING, amount DOUBLE"
        ),
        key=["k"],
    )
    assert {r.k: r.amount for r in t.read(spark).collect()}[4] == 40.0
    newest = [f for f in t.files() if f.startswith(f"v{t.version()}-")]
    assert newest
    assert "v" in pq.ParquetFile(
        os.path.join(t.data_dir, newest[0])
    ).schema_arrow.names
    # rename the renamed column again: still points at physical v
    t.rename_column("amount", "total")
    assert {r.k: r.total for r in t.read(spark).collect()}[4] == 40.0
    # pruning predicates translate (min/max + bloom on renamed k)
    t.rename_column("k", "id")
    kept = t.prune_files([("id", "=", 10**6)])
    assert kept == [] == t.prune_files_distributed(spark, [("id", "=", 10**6)])
    assert t.read(spark, prune=[("id", "=", 4)]).filter(
        F.col("id") == 4
    ).count() == 1
    # time travel: old versions keep old names
    assert "v" in t.read(spark, version=0).columns
    # delete through the logical name
    t.delete(spark, F.col("id") == 1)
    assert sorted(r.id for r in t.read(spark).collect()) == [2, 3, 4]
    # clone carries the mapping
    c = t.clone(str(tmp_path / "c"))
    assert sorted(r.id for r in c.read(spark).collect()) == [2, 3, 4]
    # catalog view exposes logical names over physical files
    c2 = LakeTable.create(df3, str(tmp_path / "reg"))
    c2.rename_column("v", "price")
    view = c2.register(spark, "renamed_tbl", db="lakehouse_test_cm")
    cols = spark.table(view).columns
    assert "price" in cols and "v" not in cols
    assert spark.table(view).count() == 3
    # guards
    pt = LakeTable.create(df3, str(tmp_path / "pt"), partition_by=["part"])
    with pytest.raises(ValueError, match="partition"):
        pt.rename_column("part", "category")
    g = LakeTable.create(df3, str(tmp_path / "g"))
    g.add_constraint(spark, "v_pos", "v > 0")
    with pytest.raises(ValueError, match="referenced"):
        g.rename_column("v", "w")
    with pytest.raises(ValueError, match="already exists"):
        g.rename_column("k", "part")
    with pytest.raises(ValueError, match="no such column"):
        g.rename_column("zzz", "w")


def test_drop_column_metadata_only(spark, df3, tmp_path):
    """DROP COLUMN: metadata-only — files untouched (footer still
    carries the bytes), reads project it away, writes proceed with the
    narrowed schema, re-adding the name via schema evolution is
    refused (tombstone — a silent re-add would resurrect old data),
    time travel shows the column, and guards raise."""
    import pyarrow.parquet as pq

    t = LakeTable.create(df3, str(tmp_path / "t"))
    files_before = list(t.files())
    t.drop_column("v")
    assert t.files() == files_before  # no rewrite
    assert "v" in pq.ParquetFile(
        os.path.join(t.data_dir, t.files()[0])
    ).schema_arrow.names
    assert t.read(spark).columns == ["k", "part"]
    # time travel pre-drop still shows v with data (checked before the
    # merges below advance the vacuum horizon past v0)
    assert {r.v for r in t.read(spark, version=0).collect()} == {
        10.0, 20.0, 30.0,
    }
    # writes with the narrowed schema
    t.merge(
        spark,
        spark.createDataFrame([(4, "c")], "k BIGINT, part STRING"),
        key=["k"],
    )
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2, 3, 4]
    # evolve re-add of the dropped name refused
    with pytest.raises(ValueError, match="previously dropped"):
        t.merge(
            spark,
            spark.createDataFrame(
                [(5, "d", 1.0)], "k BIGINT, part STRING, v DOUBLE"
            ),
            key=["k"],
            evolve_schema=True,
        )
    # a DIFFERENT evolved name is fine
    t.merge(
        spark,
        spark.createDataFrame(
            [(5, "d", 1.0)], "k BIGINT, part STRING, v2 DOUBLE"
        ),
        key=["k"],
        evolve_schema=True,
    )
    assert "v2" in t.read(spark).columns
    # interplay with rename: drop a RENAMED column tombstones the
    # PHYSICAL name
    t2 = LakeTable.create(df3, str(tmp_path / "t2"))
    t2.rename_column("v", "amount")
    t2.drop_column("amount")
    with pytest.raises(ValueError, match="previously dropped"):
        t2.merge(
            spark,
            spark.createDataFrame(
                [(9, "z", 2.0)], "k BIGINT, part STRING, v DOUBLE"
            ),
            key=["k"],
            evolve_schema=True,
        )
    # guards
    g = LakeTable.create(df3, str(tmp_path / "g"), partition_by=["part"])
    with pytest.raises(ValueError, match="partition"):
        g.drop_column("part")
    g.add_constraint(spark, "v_pos", "v > 0")
    with pytest.raises(ValueError, match="referenced"):
        g.drop_column("v")


def test_describe_detail(spark, df3, tmp_path):
    """DESCRIBE DETAIL twin: one-row metadata summary reflecting the
    active table features, manifest-only."""
    t = LakeTable.create(df3, str(tmp_path / "t"), partition_by=["part"])
    t.add_constraint(spark, "v_pos", "v > 0")
    t.add_bloom_index("k", m=512, k=4)
    d = t.detail(spark).collect()[0]
    assert d["version"] == t.version()
    assert d["num_rows"] == 3
    assert d["num_files"] == len(t.files())
    assert d["partition_columns"] == ["part"]
    assert d["constraints"] == ["v_pos"]
    assert d["bloom_indexes"] == ["k"]
    assert not d["has_deletion_vectors"]
    t.delete_dv(spark, "k = 1")
    assert t.detail(spark).collect()[0]["has_deletion_vectors"]


def test_vacuum_sweeps_aged_orphan_staging_artifacts(spark, tmp_path):
    """A writer crashing between staging and publish orphans uuid-named
    tmp files and .stage_v dirs that no retry overwrites; vacuum must
    sweep them once they age past the grace window, and must NOT touch
    fresh ones (a live concurrent writer's in-flight staging)."""
    import time

    path = str(tmp_path / "orphans_tbl")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k LONG, s STRING")
    t = LakeTable.create(df, path)

    old_tmp = os.path.join(t.log_dir, ".v9-deadbeef.json.tmp")
    old_stats = os.path.join(t.log_dir, ".v9.stats-deadbeef.parquet.tmp")
    old_stage = os.path.join(path, ".stage_v9-deadbeef")
    fresh_tmp = os.path.join(t.log_dir, ".v9-0a11ce00.json.tmp")
    for p in (old_tmp, old_stats):
        open(p, "w").write("{}")
    os.makedirs(old_stage)
    open(fresh_tmp, "w").write("{}")
    stale = time.time() - 3600
    for p in (old_tmp, old_stats, old_stage):
        os.utime(p, (stale, stale))

    # any commit vacuums; append triggers the sweep
    t.append(spark, spark.createDataFrame([(3, "c")], "k LONG, s STRING"))

    assert not os.path.exists(old_tmp)
    assert not os.path.exists(old_stats)
    assert not os.path.exists(old_stage)
    assert os.path.exists(fresh_tmp)  # inside the grace window


def test_vacuum_spares_live_staging_with_stale_top_dir(spark, tmp_path):
    """Round-7 advice (table.py vacuum sweep): a partitioned
    _stage_files write creates partition subdirs EARLY and then streams
    files into them — the stage dir's top-level mtime goes stale while
    the write is still live.  The sweep must age-gate on the NEWEST
    mtime found recursively under the dir, so a >15-min in-flight
    staging with fresh leaf files survives a concurrent commit's
    vacuum; one whose entire tree is aged is swept."""
    import time

    path = str(tmp_path / "live_stage_tbl")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k LONG, s STRING")
    t = LakeTable.create(df, path)
    stale = time.time() - 3600

    # live long-running staging: aged top dir + aged partition subdir,
    # but one freshly-written leaf file
    live = os.path.join(path, ".stage_v9-11fe0000")
    live_part = os.path.join(live, "p=1")
    os.makedirs(live_part)
    leaf = os.path.join(live_part, "part-0000.parquet")
    open(leaf, "w").write("x")
    os.utime(live_part, (stale, stale))
    os.utime(live, (stale, stale))  # leaf stays fresh

    # genuinely-dead staging: every path in the tree aged out
    dead = os.path.join(path, ".stage_v9-0dead000")
    dead_part = os.path.join(dead, "p=1")
    os.makedirs(dead_part)
    dead_leaf = os.path.join(dead_part, "part-0000.parquet")
    open(dead_leaf, "w").write("x")
    for p in (dead_leaf, dead_part, dead):
        os.utime(p, (stale, stale))

    t.append(spark, spark.createDataFrame([(3, "c")], "k LONG, s STRING"))

    assert os.path.exists(leaf), "live staging swept by stale-top-dir gate"
    assert not os.path.exists(dead)


def test_delta_parity_version_retention_arithmetic(spark, tmp_path):
    """Version and retention arithmetic a Delta-style client reading a
    LakeTable's history relies on:

    1. create -> merge -> delete is versions 0/1/2, and with the
       default retain_versions=2 the delete commit's vacuum physically
       drops v0's files — time travel to v0 NEEDS retain_versions=3;
    2. after create -> merge, ``changes(from_version=1)`` diffs the
       v1 snapshot against itself (empty — NOT Delta's
       startingVersion=1, which replays the changes committed IN v1);
       the equivalent diff is ``from_version=0``.
    """
    from pyspark.sql import functions as F

    def seq(path, retain):
        df = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k long, v string, amt double",
        )
        t = LakeTable.create(df, path)
        t.retain_versions = retain
        src = spark.createDataFrame(
            [(2, "B", 22.0), (4, "d", 40.0)], "k long, v string, amt double"
        )
        t.merge(spark, src, key=["k"])
        t.delete(spark, F.col("k") == 3)
        return t

    # default retention: v0 files vacuumed at the delete commit
    t2 = seq(str(tmp_path / "r2"), 2)
    assert t2.version() == 2
    with pytest.raises(Exception):
        t2.read(spark, version=0).collect()

    # retain_versions=3: the full history stays readable
    t3 = seq(str(tmp_path / "r3"), 3)
    assert sorted(tuple(r) for r in t3.read(spark, version=0).collect()) == [
        (1, "a", 10.0),
        (2, "b", 20.0),
        (3, "c", 30.0),
    ]

    # CDF equivalence arithmetic (create -> merge only)
    cd = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, v string, amt double"
    )
    tc = LakeTable.create(cd, str(tmp_path / "cdf"))
    src = spark.createDataFrame(
        [(2, "B", 22.0), (3, "c", 30.0)], "k long, v string, amt double"
    )
    tc.merge(spark, src, key=["k"])
    assert tc.changes(spark, key=["k"], from_version=1).count() == 0
    got = {
        (r.k, r._change_type)
        for r in tc.changes(spark, key=["k"], from_version=0)
        .select("k", "_change_type")
        .collect()
    }
    assert got == {(2, "update_pre"), (2, "update_post"), (3, "insert")}


def test_partition_histogram_matches_groupby(spark, tmp_path):
    """partition_histogram folds per-file [v, v] partition stats +
    footer row counts into the same numbers a distributed group-by
    computes — the metadata-only probe planner q_ann_index_store uses;
    None (distributed fallback) only when stats are unusable."""
    df = spark.range(0, 500).selectExpr(
        "id AS k", "CAST(id % 7 AS LONG) AS cell"
    )
    t = LakeTable.create(
        df.repartition("cell"),
        str(tmp_path / "ph_tbl"),
        partition_by=["cell"],
    )
    hist = t.partition_histogram("cell")
    assert hist is not None
    expected = {
        r.cell: r.n
        for r in t.read(spark).groupBy("cell").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert {int(k): v for k, v in hist.items()} == expected
    assert t.partition_histogram("k") is None  # multi-valued per file
