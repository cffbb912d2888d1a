"""LakeTable — a versioned-parquet table with partition-scoped MERGE.

The reference rides delta-spark for its warehouse layer: partitioned
initial write (jobs/order_glue_job.py:158, jobs/products_glue_job.py:
170-173), `DeltaTable.isDeltaTable` existence probe (jobs/order_glue_
job.py:149), and MERGE upsert keyed per table (jobs/order_glue_job.py:
151-155, jobs/order_items_glue_job.py:174-180, jobs/products_glue_job.
py:176-182). delta-spark is not available in this environment, so this
module provides the same contract natively on Spark, using the same
storage shape Delta/Iceberg use:

- immutable parquet data files under ``data/`` (hive partition dirs);
- an append-only JSON version log (``_log/v{N}.json``), each manifest
  listing exactly the files that make up that snapshot, committed with
  an atomic ``os.replace`` — readers always see a complete version;
- MERGE = WHEN MATCHED UPDATE ALL / WHEN NOT MATCHED INSERT ALL, with
  ``latest_by`` ordered-upsert semantics (the documented deviation,
  SURVEY §2.12, that fixes the reference's multiple-source-match
  hazard);
- **partition-scoped copy-on-write**: MERGE and DELETE rewrite only
  the partitions that contain affected rows; untouched partitions'
  files are carried over into the new manifest by reference. This is
  the O(touched partitions) behavior a 100 TB table needs — a daily
  upsert into a date-partitioned fact touches a handful of partitions,
  not the table. Unpartitioned tables fall back to full rewrite.

Snapshot isolation and time travel follow from immutability: an old
manifest's files are never mutated, only eventually vacuumed.

Write rules are checked inside the staged write, not in a pre-pass
(Delta's ``DeltaInvariantCheckerExec``): one ``Observation`` on the
writer's frame counts duplicate source keys (plain MERGE), GENERATED
mismatches and CHECK violations, read in that order before anything
publishes; a violation removes the staged files and raises.  A checked
write runs the same jobs as an unchecked one.

SCALE BOUNDARIES (stated, not hidden):

- **Interchange**: the version log is this module's own JSON, not the
  Delta or Iceberg protocol, and every write goes through LakeTable.
  External readers get a table through on-demand exports of the same
  snapshots: ``delta_log.export_delta_log`` writes ``_delta_log/``
  (protocol 1/2; refuses active deletion vectors and column mapping,
  which that protocol cannot express) and
  ``iceberg_meta.export_iceberg_metadata`` writes Iceberg v2
  ``metadata/`` (deletion vectors become position-delete files).
- **Manifest residency**: a snapshot of up to
  ``SPARK_GRAFT_INLINE_FILES_MAX`` (20k) files keeps its file list and
  per-file stats in the JSON manifest, read on the driver.  A bigger
  snapshot commits as ``files_external``: the JSON stays an
  O(metadata) commit token and the file list lives only in the parquet
  stats checkpoint, which ``read`` and ``prune_files_distributed`` scan
  without walking it as JSON (Delta's checkpoint design).  The
  operational paths (merge carryover, clone, optimize) still hydrate
  the full list on the driver.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Iterable
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

_LOG_DIR = "_log"
_DATA_DIR = "data"


def _inline_files_max() -> int:
    """Snapshots above this file count commit as ``files_external``:
    the JSON manifest stays an O(metadata) commit token and the file
    list + per-file stats live ONLY in the parquet stats checkpoint
    (Delta's checkpoint-file design).  20k inline files ≈ a few MB of
    JSON — past that, parsing the manifest becomes the scan planner's
    fixed cost, which is exactly what the checkpoint exists to kill."""
    return int(os.environ.get("SPARK_GRAFT_INLINE_FILES_MAX", "20000"))


class ConcurrentWriteError(RuntimeError):
    """A concurrent writer committed the version this operation was
    about to publish (optimistic-concurrency loser — Delta's
    ConcurrentModificationException twin). Retry re-reads the winner's
    snapshot."""


class ConstraintViolationError(ValueError):
    """Rows about to be written violate an active CHECK constraint or
    provide a GENERATED column that does not match its expression
    (Delta InvariantViolationException twin)."""


# A plain MERGE's source branch carries the number of source rows that
# share each key in this helper column; the staged write observes its
# max and drops it before the writer.
_SRC_ROWS_PER_KEY = "__src_rows_per_key"

# Above this many touched partitions a scoped rewrite loses: the
# OR-of-ANDs pruning predicate grows linearly and the rewrite
# approaches O(table) anyway — fall back to a plain full rewrite.
_MAX_SCOPED_PARTITIONS = 4096


def _stats_arrow_schema():
    """Columns of the parquet stats checkpoint: one declaration for its
    pyarrow writer and both readers (:meth:`LakeTable.stats_relation`
    and the driver-side hydrate).  A column an older checkpoint lacks
    reads as NULL."""
    import pyarrow as pa

    return pa.schema(
        [
            ("file", pa.string()),
            ("n_rows", pa.int64()),
            ("col", pa.string()),
            ("min_int", pa.int64()),
            ("max_int", pa.int64()),
            ("min_num", pa.float64()),
            ("max_num", pa.float64()),
            ("num_exact", pa.bool_()),
            ("min_str", pa.string()),
            ("max_str", pa.string()),
            ("bloom", pa.list_(pa.int64())),
            ("bloom_m", pa.int64()),
            ("bloom_k", pa.int64()),
            ("bloom_kind", pa.string()),
        ]
    )


# Hive partition-path escaping (public format: Hive FileUtils.escapePathName,
# mirrored by Spark's ExternalCatalogUtils) — needed to map a partition VALUE
# to the directory NAME Spark writes, so carried-over vs rewritten partitions
# can be decided without listing storage.
_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^')
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _apply_generated(df: DataFrame, gen: dict) -> tuple[DataFrame, dict]:
    """GENERATED ALWAYS AS write semantics (Delta parity): a generated
    column the writer OMITS is materialized from its expression (the
    common case — zero extra jobs, just extra plan columns).  Returns
    the frame and the {name: expr} the writer PROVIDED: those must
    match their expression on every written row (null-safe equality),
    which the staged write checks (:meth:`LakeTable._stage_checked`) —
    a mismatch raises :class:`ConstraintViolationError`, never lands."""
    provided = {}
    for name, expr in (gen or {}).items():
        if name in df.columns:
            provided[name] = expr
        else:
            df = df.withColumn(name, F.expr(expr))
    return df, provided


def _escape_partition_value(v) -> str:
    if v is None:
        return _HIVE_DEFAULT_PARTITION
    s = str(v)
    if s == "":
        return _HIVE_DEFAULT_PARTITION
    out = []
    for ch in s:
        if ch in _ESCAPE_CHARS or ord(ch) < 0x20:
            out.append("%{:02X}".format(ord(ch)))
        else:
            out.append(ch)
    return "".join(out)


def _partition_dirname(partition_by: list[str], values: tuple) -> str:
    """``dept=a/region=x`` style relative dir for one partition tuple."""
    return "/".join(
        f"{c}={_escape_partition_value(v)}"
        for c, v in zip(partition_by, values)
    )


def _unescape_partition_value(s: str) -> str | None:
    """Inverse of :func:`_escape_partition_value` (Hive
    unescapePathName); ``None`` for the default (null) partition."""
    if s == _HIVE_DEFAULT_PARTITION:
        return None
    out = []
    i = 0
    while i < len(s):
        if s[i] == "%" and i + 3 <= len(s):
            try:
                out.append(chr(int(s[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(s[i])
        i += 1
    return "".join(out)


def _zvalue(df: DataFrame, cols: list[str], bits: int = 4) -> F.Column:
    """Bit-interleaved z-order key: per-column quantile bucket rank
    (2**bits buckets from driver-side ``approxQuantile`` boundaries —
    a GK sketch pass, O(1) driver bytes) with the rank bits of every
    column interleaved LSB-first. Quantile ranks, not linear scaling,
    so skewed domains still spread across buckets. Nulls rank 0
    (clustered together at the low corner, like Delta's NULLS FIRST)."""
    n_bounds = (1 << bits) - 1
    probs = [i / (n_bounds + 1) for i in range(1, n_bounds + 1)]
    ranks = []
    for c in cols:
        bounds = df.selectExpr(f"CAST({c} AS DOUBLE) AS x").approxQuantile(
            "x", probs, 0.001
        )
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        col = F.col(c).cast("double")
        rank = F.size(F.filter(arr, lambda b: b <= col))
        ranks.append(F.when(col.isNull(), F.lit(0)).otherwise(rank))
    k = len(cols)
    z = F.lit(0)
    for b in range(bits):
        for i, r in enumerate(ranks):
            bit = F.shiftright(r, b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * k + i)
    return z


class LakeTable:
    """Handle to a versioned parquet table rooted at ``path``."""

    def __init__(self, path: str, retain_versions: int = 2):
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)
        self.data_dir = os.path.join(path, _DATA_DIR)
        #: newest versions whose data files vacuum keeps (history
        #: metadata is never dropped). Raise it to keep a longer
        #: time-travel / change-feed horizon (Delta retention parity).
        self.retain_versions = retain_versions
        #: version -> (files, file_stats) hydrated from the parquet
        #: checkpoint for files_external manifests (paid once per
        #: instance; manifests are immutable so the cache never stales)
        self._hydrate_cache: dict[int, tuple[list, dict]] = {}

    # -- existence probe (DeltaTable.isDeltaTable equivalent, S7) ----------
    @staticmethod
    def is_table(path: str) -> bool:
        log = os.path.join(path, _LOG_DIR)
        return os.path.isdir(log) and any(
            f.startswith("v") and f.endswith(".json") for f in os.listdir(log)
        )

    # -- version log -------------------------------------------------------
    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for f in os.listdir(self.log_dir):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)

    def version(self) -> int:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"not a LakeTable: {self.path}")
        return vs[-1]

    def _manifest_meta(self, version: int) -> dict:
        """Raw JSON commit token, NO file-list hydration: for a
        ``files_external`` snapshot this is O(metadata) — schema,
        partition spec, constraints, bloom config, DV pointers — with
        ``files``/``file_stats`` empty.  Hot paths (:meth:`read`,
        :meth:`prune_files_distributed`) use this plus the parquet
        checkpoint so the driver never walks the file list as JSON."""
        with open(os.path.join(self.log_dir, f"v{version}.json")) as fh:
            return json.load(fh)

    def _manifest(self, version: int) -> dict:
        """Commit token with ``files``/``file_stats`` ALWAYS populated.
        Inline manifests (≤ :func:`_inline_files_max` files) carry them
        in the JSON; ``files_external`` snapshots hydrate them from the
        parquet stats checkpoint on first access (compat path for the
        operational methods — merge carryover, clone, optimize — which
        are O(files) on the driver by their own contracts anyway)."""
        m = self._manifest_meta(version)
        if m.get("files_external"):
            cached = self._hydrate_cache.get(version)
            if cached is None:
                cached = self._hydrate_external(version)
                self._hydrate_cache[version] = cached
            m["files"], m["file_stats"] = cached
        return m

    def _hydrate_external(self, version: int) -> tuple[list, dict]:
        """Rebuild (files, file_stats) from the parquet stats
        checkpoint — exact inverse of :meth:`_write_stats_checkpoint`
        for the three bound kinds it stores (int, double, str) plus
        bloom words and row counts.  The writer stages the checkpoint
        BEFORE publishing the JSON commit token and renames it into
        place immediately after, so a live reader that races the
        commit can only miss it for the duration of one rename — the
        brief retry below absorbs that window.  A checkpoint still
        missing after the retries means the writer crashed between
        link and rename: the snapshot is unreadable and raises; the
        previous version is the recovery point, same as a torn Delta
        checkpoint."""
        import pyarrow.parquet as pq

        path = self._stats_checkpoint_path(version)
        if not os.path.exists(path):
            for _ in range(5):  # live-writer race: ~250 ms grace
                time.sleep(0.05)
                if os.path.exists(path):
                    break
            else:
                raise FileNotFoundError(
                    f"external manifest v{version} of {self.path} has "
                    "no stats checkpoint — torn commit; time-travel "
                    f"to v{version - 1}"
                )
        files: list[str] = []
        stats: dict = {}
        for r in pq.read_table(path, schema=_stats_arrow_schema()).to_pylist():
            st = stats.setdefault(r["file"], {})
            if r["col"] is None:
                files.append(r["file"])
                st["rows"] = r["n_rows"]
                continue
            if r["min_int"] is not None:
                bounds = [r["min_int"], r["max_int"]]
            elif r["min_num"] is not None:
                bounds = [r["min_num"], r["max_num"]]
            elif r["min_str"] is not None:
                bounds = [r["min_str"], r["max_str"]]
            else:
                bounds = None
            if bounds is not None:
                st.setdefault("minmax", {})[r["col"]] = bounds
            if r["bloom"] is not None:
                st.setdefault("bloom", {})[r["col"]] = {
                    "words": list(r["bloom"]),
                    "m": int(r["bloom_m"]),
                    "k": int(r["bloom_k"]),
                    "kind": r["bloom_kind"],
                }
        return files, stats

    def history(self) -> list[dict]:
        return [self._manifest(v) for v in self._versions()]

    def version_as_of(self, ts) -> int:
        """Newest version committed at or before ``ts`` (Delta
        ``TIMESTAMP AS OF`` resolution; ``ts`` is a unix timestamp or
        datetime). Raises if the table didn't exist yet."""
        if hasattr(ts, "timestamp"):
            ts = ts.timestamp()
        best = None
        for m in self.history():
            if m.get("committed_at", float("inf")) <= ts:
                best = m["version"]
        if best is None:
            raise ValueError(
                f"no version of {self.path} existed at or before {ts}"
            )
        return best

    def history_df(self, spark: SparkSession) -> DataFrame:
        """``DESCRIBE HISTORY`` twin: one row per version (metadata
        only — version, operation, file/row counts, commit time)."""
        rows = [
            (
                m["version"],
                m["operation"],
                len(m["files"]),
                sum(
                    (s or {}).get("rows") or 0
                    for s in m.get("file_stats", {}).values()
                ),
                float(m.get("committed_at", 0.0)),
            )
            for m in self.history()
        ]
        return spark.createDataFrame(
            rows,
            "version INT, operation STRING, n_files INT, n_rows BIGINT, "
            "committed_at DOUBLE",
        )

    def files_df(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Per-file metadata relation (Iceberg ``.files`` twin):
        membership rows of the parquet stats checkpoint — file path,
        row count, on-disk bytes."""
        rel = self.stats_relation(spark, version).filter(
            F.col("col").isNull()
        ).select("file", "n_rows")
        sizes = [
            (f, os.path.getsize(os.path.join(self.data_dir, f)))
            for f in self.files(version)
        ]
        sz = spark.createDataFrame(sizes, "file STRING, bytes BIGINT")
        return rel.join(sz, "file")

    def detail(self, spark: SparkSession) -> DataFrame:
        """``DESCRIBE DETAIL`` twin: a one-row metadata summary of the
        current snapshot — version, file/row/byte counts, partition
        columns, and which table features are active (constraints,
        bloom indexes, generated columns, column mapping, deletion
        vectors).  Pure manifest read; no data touched."""
        v = self.version()
        m = self._manifest(v)
        n_rows = sum(
            (s or {}).get("rows") or 0
            for s in m.get("file_stats", {}).values()
        )
        n_bytes = sum(
            os.path.getsize(os.path.join(self.data_dir, f))
            for f in m["files"]
        )
        row = (
            self.path,
            int(v),
            m.get("operation", ""),
            len(m["files"]),
            int(n_rows),
            int(n_bytes),
            list(m.get("partition_by") or []),
            sorted(m.get("constraints", {})),
            sorted(m.get("bloom", {})),
            sorted(m.get("generated", {})),
            dict(m.get("column_mapping", {})),
            bool(m.get("dv_dirs")),
            float(m.get("committed_at", 0.0)),
        )
        return spark.createDataFrame(
            [row],
            "location STRING, version INT, last_operation STRING, "
            "num_files INT, num_rows BIGINT, size_bytes BIGINT, "
            "partition_columns ARRAY<STRING>, constraints ARRAY<STRING>, "
            "bloom_indexes ARRAY<STRING>, generated_columns ARRAY<STRING>, "
            "column_mapping MAP<STRING, STRING>, has_deletion_vectors "
            "BOOLEAN, committed_at DOUBLE",
        )

    def files(self, version: int | None = None) -> list[str]:
        """Data files (relative to ``data/``) making up a snapshot."""
        v = self.version() if version is None else version
        return list(self._manifest(v)["files"])

    def _commit(self, version: int, manifest: dict) -> None:
        """Atomic publish with optimistic concurrency (Delta's
        ConcurrentModificationException semantics): the version file is
        created via ``os.link`` — create-if-absent is atomic on POSIX —
        so of two writers that both staged against the same base
        snapshot, exactly one wins the version number and the loser
        raises :class:`ConcurrentWriteError` instead of silently
        clobbering the winner's manifest.  The loser's staged data
        files are orphans referenced by no manifest; re-running the
        loser's operation re-reads the winner's snapshot (correct
        retry semantics), and orphans are swept by vacuum."""
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(
            self.log_dir, f".v{version}-{uuid.uuid4().hex[:8]}.json.tmp"
        )
        final = os.path.join(self.log_dir, f"v{version}.json")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=2)
        try:
            os.link(tmp, final)  # atomic create-if-absent publish
        except FileExistsError:
            raise ConcurrentWriteError(
                f"version {version} of {self.path} was committed by a "
                "concurrent writer after this operation read its base "
                "snapshot; re-run the operation against the new version"
            ) from None
        finally:
            os.unlink(tmp)

    # -- writes ------------------------------------------------------------
    def _stage_files(
        self,
        df: DataFrame,
        version: int,
        partition_by: list[str],
        allowed_dirs: set[str] | None = None,
    ) -> list[str]:
        """Write ``df`` to a staging dir, then move its parquet files
        into the canonical ``data/`` tree (immutable, version-tagged
        names). Returns the new files' paths relative to ``data/``.

        ``allowed_dirs`` is a safety net for partition-scoped rewrites:
        every staged partition dir must be one we predicted as touched,
        else carried-over files could double-count rows."""
        # column mapping (RENAME COLUMN support): files ALWAYS carry
        # the original physical names — a logical-named frame arriving
        # here translates back, so every file in the tree shares one
        # physical schema forever and a rename never rewrites data.
        # Frames already in physical names (internal _scan_files-fed
        # rewrites) pass through untouched: their logical names are
        # absent by construction.
        mapping: dict = {}
        if version > 0:
            try:
                mapping = (
                    self._manifest(version - 1).get("column_mapping") or {}
                )
            except (OSError, ValueError, KeyError):
                mapping = {}
        for log, phys in mapping.items():
            if phys != log and log in df.columns:
                df = df.withColumnRenamed(log, phys)
        stage = os.path.join(self.path, f".stage_v{version}-{uuid.uuid4().hex[:8]}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(stage)
        new_files: list[str] = []
        for root, _dirs, fnames in os.walk(stage):
            for fname in fnames:
                if not fname.endswith(".parquet"):
                    continue
                rel_dir = os.path.relpath(root, stage)
                rel_dir = "" if rel_dir == "." else rel_dir
                if allowed_dirs is not None and rel_dir.replace(os.sep, "/") not in allowed_dirs:
                    raise RuntimeError(
                        f"staged partition dir {rel_dir!r} not in predicted "
                        f"touched set {sorted(allowed_dirs)!r} — partition "
                        "value escaping mismatch; aborting commit"
                    )
                dest_dir = os.path.join(self.data_dir, rel_dir)
                os.makedirs(dest_dir, exist_ok=True)
                dest_name = f"v{version}-{fname}"
                os.replace(
                    os.path.join(root, fname), os.path.join(dest_dir, dest_name)
                )
                new_files.append(
                    os.path.join(rel_dir, dest_name).replace(os.sep, "/")
                    if rel_dir
                    else dest_name
                )
        shutil.rmtree(stage)
        return sorted(new_files)

    def _stage_checked(
        self,
        df: DataFrame,
        version: int,
        partition_by: list[str],
        what: str,
        provided: dict,
        allowed_dirs: set[str] | None = None,
    ) -> list[str]:
        """:meth:`_stage_files` for a user write, checking the rows it
        writes inside that same write: one ``Observation`` on the
        writer's frame (never on a branch AQE can drop) holds the max of
        ``_SRC_ROWS_PER_KEY`` when ``df`` carries it (dropped before the
        writer), mismatches per ``provided`` generated column and
        violations per CHECK constraint.  Read in that order after the
        write; a violation removes the staged files and raises."""
        cons = (
            self._manifest_meta(version - 1).get("constraints", {})
            if version
            else {}
        )
        bad = {}
        for n, e in provided.items():
            bad[f"gen:{n}"] = ~F.col(n).eqNullSafe(F.expr(e))
        for n, e in cons.items():
            bad[f"check:{n}"] = ~F.coalesce(F.expr(e), F.lit(True))
        metrics = {k: F.sum(b.cast("long")) for k, b in bad.items()}
        if _SRC_ROWS_PER_KEY in df.columns:
            metrics["dup"] = F.max(_SRC_ROWS_PER_KEY)
        if not metrics:
            return self._stage_files(df, version, partition_by, allowed_dirs)
        # an empty frame reports NULL for max and sum, hence the coalesce
        obs = Observation()
        df = df.observe(
            obs, *[F.coalesce(c, F.lit(0)).alias(k) for k, c in metrics.items()]
        ).drop(_SRC_ROWS_PER_KEY)
        files = self._stage_files(df, version, partition_by, allowed_dirs)
        got = obs.get
        gen_bad = [(n, e) for n, e in provided.items() if got[f"gen:{n}"]]
        check_bad = [
            f"{n} ({e}): {got[f'check:{n}']} row(s)"
            for n, e in cons.items()
            if got[f"check:{n}"]
        ]
        if got.get("dup", 0) > 1:
            error = ValueError(
                "merge source has duplicate keys; pass latest_by= to "
                "define the survivor (ordered upsert)"
            )
        elif gen_bad:
            n, e = gen_bad[0]
            error = ConstraintViolationError(
                f"{what} provides generated column {n!r} with "
                f"{got[f'gen:{n}']} row(s) not matching GENERATED ALWAYS "
                f"AS ({e})"
            )
        elif check_bad:
            error = ConstraintViolationError(
                f"{what} violates CHECK constraint(s) " + ", ".join(check_bad)
            )
        else:
            return files
        self._remove_staged(version, files)
        raise error

    def _remove_staged(self, version: int, files: Iterable[str]) -> None:
        """Delete the files a stage of ``version`` wrote (version-tagged
        names), never carryover files owned by published manifests."""
        tag = f"v{version}-"
        for f in files:
            if os.path.basename(f).startswith(tag):
                p = os.path.join(self.data_dir, f)
                if os.path.exists(p):
                    os.remove(p)

    def _footer_stats(self, relpath: str) -> dict:
        """Per-file column min/max aggregated from the parquet footer —
        a metadata-only read (no data pages).  This is the write-side
        stats collection Delta/Iceberg do at commit time; storing it in
        the manifest lets reads prune whole files BEFORE Spark ever
        lists or opens them (parquet row-group pruning still applies
        inside whatever survives).  Skipped: nested columns, long
        strings (parquet may truncate their bounds, which would make
        pruning unsound), and files whose footer lacks stats."""
        import datetime

        import pyarrow.parquet as pq

        try:
            md = pq.ParquetFile(os.path.join(self.data_dir, relpath)).metadata
        except Exception:
            return {}
        agg: dict[str, list] = {}
        n_rows = md.num_rows
        dropped: set[str] = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name in dropped or "." in name:
                    continue
                # statistics access itself can raise for types pyarrow
                # can't extract (e.g. DECIMAL fixed-len byte arrays) —
                # treat exactly like absent stats
                try:
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        raise ValueError("no min/max")
                    mn, mx = st.min, st.max
                except Exception:
                    dropped.add(name)
                    agg.pop(name, None)
                    continue
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                    except UnicodeDecodeError:
                        dropped.add(name)
                        agg.pop(name, None)
                        continue
                if isinstance(mn, (datetime.datetime, datetime.date)):
                    # same canonical form as predicate bounds (UTC-naive,
                    # fixed microsecond width) so prune_files compares
                    # like shapes lexicographically == chronologically
                    mn, mx = self._normalize_bound(mn), self._normalize_bound(mx)
                if isinstance(mn, bool) or not isinstance(
                    mn, (int, float, str)
                ):
                    dropped.add(name)
                    agg.pop(name, None)
                    continue
                if isinstance(mn, str) and (len(mn) >= 64 or len(mx) >= 64):
                    dropped.add(name)
                    agg.pop(name, None)
                    continue
                if name in agg:
                    agg[name] = [min(agg[name][0], mn), max(agg[name][1], mx)]
                else:
                    agg[name] = [mn, mx]
        return {"rows": n_rows, "minmax": agg}

    def _file_bloom(self, relpath: str, cfg: dict) -> dict:
        """Per-file Bloom filters for the configured columns (see
        lakehouse/bloom.py): one columns-only parquet read per new file
        at commit time — the write-side price Delta's bloom-filter
        index also pays (it hashes during the write task; here the
        staged file is re-read driver-side, documented like the
        footer-stats pass).  Only int and string arrow kinds get
        filters; any other kind contributes none (conservative)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from . import bloom as B

        out: dict = {}
        try:
            pf = pq.ParquetFile(os.path.join(self.data_dir, relpath))
            names = set(pf.schema_arrow.names)
            cols = [c for c in cfg if c in names]
            if not cols:
                return out
            tbl = pf.read(columns=cols)
        except Exception:
            return out
        for c in cols:
            t = tbl.schema.field(c).type
            if pa.types.is_integer(t):
                kind = "i"
            elif pa.types.is_string(t) or pa.types.is_large_string(t):
                kind = "s"
            else:
                continue
            m, k = int(cfg[c]["m"]), int(cfg[c]["k"])
            vals = {v for v in tbl.column(c).to_pylist() if v is not None}
            out[c] = {
                "m": m,
                "k": k,
                "kind": kind,
                "words": B.build(vals, m, k),
            }
        return out

    def _ensure_blooms(self, file_stats: dict, cfg: dict) -> None:
        """Attach missing/outdated per-file Bloom filters in place:
        carried files already holding a filter at the configured (m, k)
        keep it for free; new files (and every file right after an
        ``add_bloom_index``) pay one columns-only read."""
        if not cfg:
            return
        todo: list[tuple[str, dict]] = []
        for f, st in list(file_stats.items()):
            have = (st or {}).get("bloom") or {}
            missing = {
                c: s
                for c, s in cfg.items()
                if c not in have
                or have[c].get("m") != s["m"]
                or have[c].get("k") != s["k"]
            }
            if missing:
                todo.append((f, missing))
        if not todo:
            return
        # columns-only reads, IO-bound with GIL-free hashing in
        # pyarrow — parallel like the footer-stat reads above
        if len(todo) > 8:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(32, len(todo))) as ex:
                built = list(
                    ex.map(lambda t: self._file_bloom(t[0], t[1]), todo)
                )
        else:
            built = [self._file_bloom(f, miss) for f, miss in todo]
        for (f, _), newb in zip(todo, built):
            if newb:
                st = dict(file_stats[f] or {})
                merged = dict(st.get("bloom") or {})
                merged.update(newb)
                st["bloom"] = merged
                file_stats[f] = st

    def _commit_version(
        self,
        version: int,
        operation: str,
        partition_by: list[str],
        files: list[str],
        schema: StructType,
        dv_dirs: list[str] | None = None,
        constraints: dict | None = None,
        bloom_config: dict | None = None,
        generated: dict | None = None,
        column_mapping: dict | None = None,
        dropped_physical: list[str] | None = None,
    ) -> None:
        # data-skipping stats: carryover files keep their previous
        # manifest's stats (byte-identical files), only new files pay a
        # footer read
        prev_stats: dict = {}
        prev_dv: list[str] = []
        prev_constraints: dict = {}
        prev_bloom: dict = {}
        prev_generated: dict = {}
        prev_mapping: dict = {}
        prev_dropped: list[str] = []
        if version > 0:
            try:
                prev_m = self._manifest(version - 1)
                prev_stats = prev_m.get("file_stats", {})
                prev_dv = list(prev_m.get("dv_dirs", []))
                prev_constraints = dict(prev_m.get("constraints", {}))
                prev_bloom = dict(prev_m.get("bloom", {}))
                prev_generated = dict(prev_m.get("generated", {}))
                prev_mapping = dict(prev_m.get("column_mapping", {}))
                prev_dropped = list(prev_m.get("dropped_physical", []))
            except (OSError, ValueError, KeyError):
                prev_stats = {}
        # carryover files keep prior stats for free; NEW files pay one
        # footer read each — parallelized, since at bulk-load scale
        # (10^4-10^5 new files) a serial driver loop is the commit's
        # wall clock.  Footer reads are IO-bound and pyarrow releases
        # the GIL, so threads give near-linear speedup with zero
        # cluster cost.
        new = [f for f in files if f not in prev_stats]
        if len(new) > 8:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(32, len(new))) as ex:
                fresh = dict(zip(new, ex.map(self._footer_stats, new)))
        else:
            fresh = {f: self._footer_stats(f) for f in new}
        file_stats = {
            f: prev_stats[f] if f in prev_stats else fresh[f] for f in files
        }
        if partition_by:
            self._add_partition_stats(file_stats, partition_by, schema)
        bloom_cfg = prev_bloom if bloom_config is None else bloom_config
        self._ensure_blooms(file_stats, bloom_cfg)
        # big snapshots externalize the file list: JSON keeps only the
        # O(metadata) commit token; membership + stats live in the
        # parquet checkpoint.  The checkpoint is STAGED before _commit
        # and renamed into place immediately after winning the version,
        # so the torn window a concurrent reader can observe (JSON
        # token visible, checkpoint not yet) is one rename syscall —
        # _hydrate_external retries across it, and read() additionally
        # serves latest-snapshot readers v{N-1} if the retry budget
        # expires mid-publish.  A crash exactly between link and
        # rename still leaves v{N} torn (explicit-version reads error)
        # — v{N-1} remains the recovery point.
        external = len(files) > _inline_files_max()
        staged_ckpt = self._stage_stats_checkpoint(version, files, file_stats)
        try:
            self._commit(
                version,
                {
                    "version": version,
                    "operation": operation,
                    "partition_by": partition_by,
                    "files": [] if external else files,
                    "file_stats": {} if external else file_stats,
                    "files_external": external,
                    "n_files": len(files),
                    "schema": schema.jsonValue(),
                    "committed_at": time.time(),
                    # deletion vectors CARRY by default: a carried
                    # file's bytes still hold its DV'd rows, so the
                    # pointers must survive every commit that doesn't
                    # rewrite the file (entries for rewritten files are
                    # inert: the anti-join matches nothing)
                    "dv_dirs": prev_dv if dv_dirs is None else dv_dirs,
                    # CHECK constraints carry across every commit
                    "constraints": prev_constraints
                    if constraints is None
                    else constraints,
                    # bloom-filter index config carries like constraints
                    "bloom": bloom_cfg,
                    # generated-column expressions carry like constraints
                    "generated": prev_generated
                    if generated is None
                    else generated,
                    # logical->physical column mapping carries likewise
                    "column_mapping": prev_mapping
                    if column_mapping is None
                    else column_mapping,
                    # physical names of dropped columns (re-add guard)
                    "dropped_physical": prev_dropped
                    if dropped_physical is None
                    else dropped_physical,
                },
            )
        except BaseException:
            # commit lost (or crashed): the staged checkpoint belongs
            # to no published version — discard it
            try:
                os.unlink(staged_ckpt)
            except OSError:
                pass
            raise
        os.replace(staged_ckpt, self._stats_checkpoint_path(version))
        if external:
            # the writer already holds the exact hydration — seed the
            # cache so its own follow-up reads never re-parse the
            # checkpoint (note: hydration via parquet drops bound kinds
            # the checkpoint doesn't store, so seed with the SAME
            # reduced view a fresh reader would see for consistency)
            self._hydrate_cache[version] = self._hydrate_external(version)

    @staticmethod
    def _add_partition_stats(
        file_stats: dict, partition_by: list[str], schema: StructType
    ) -> None:
        """Partition-column min/max derived from each file's hive dir
        values: partition columns never appear in parquet footers (they
        live in the path), so without this a predicate on the PARTITION
        column — the most common pruning predicate on a partitioned
        table — could never skip at the manifest.  Each file carries
        exactly one value per partition column ([v, v] bounds), coerced
        to the same canonical kind footer stats use (ints/floats
        native, date/timestamp via the canonical temporal form);
        null/default partitions and uncoercible values contribute no
        stats (conservative)."""
        import datetime

        types = {f.name: f.dataType.simpleString() for f in schema.fields}

        def coerce(col: str, raw: str):
            t = types.get(col, "")
            try:
                if t in ("tinyint", "smallint", "int", "bigint"):
                    return int(raw)
                if t in ("float", "double"):
                    return float(raw)
                if t == "date":
                    return datetime.date.fromisoformat(raw).isoformat()
                if t.startswith("timestamp"):
                    return LakeTable._normalize_bound(
                        datetime.datetime.fromisoformat(raw.replace(" ", "T"))
                    )
                if t == "string":
                    return raw
            except (ValueError, TypeError):
                return None
            return None  # bool/decimal/nested: no partition stats

        for f, st in file_stats.items():
            parts = f.split("/")[:-1][: len(partition_by)]
            minmax = st.setdefault("minmax", {})
            for seg in parts:
                if "=" not in seg:
                    continue
                col, _, enc = seg.partition("=")
                if col not in partition_by or col in minmax:
                    continue
                raw = _unescape_partition_value(enc)
                if raw is None:
                    continue
                v = coerce(col, raw)
                if v is not None:
                    minmax[col] = [v, v]

    # -- parquet stats checkpoint (Delta checkpoint-file twin) -------------
    _EXACT_DOUBLE = 1 << 53  # |int| below this survives a double round-trip

    def _stats_checkpoint_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"v{version}.stats.parquet")

    def _stage_stats_checkpoint(
        self, version: int, files: list[str], file_stats: dict
    ) -> str:
        """Long-format per-(file, column) min/max stats as PARQUET next
        to the JSON manifest — Delta's checkpoint-file move.  The JSON
        manifest stays the commit token; this is the snapshot metadata
        in a form a CLUSTER can scan, which is what lifts the
        driver-resident ceiling: at 10^6+ files the driver no longer
        loops a Python dict to prune (see
        :meth:`prune_files_distributed`), it runs one small Spark job
        over this relation and collects only the SURVIVING file list
        (the part that must reach ``spark.read`` anyway).

        One membership row per file (``col`` NULL, carries row count),
        plus one row per stats column.  Numeric bounds keep an exact
        int64 image when integral and a double image always;
        ``num_exact`` records whether the double image is faithful
        (|v| < 2^53) so distributed comparisons can refuse the lossy
        case exactly like the driver path refuses unknown kinds.

        Writes to a writer-unique tmp and RETURNS the staged path; the
        caller publishes it by renaming onto
        :meth:`_stats_checkpoint_path` — create() does so immediately
        after winning ``_commit`` (keeping the reader-visible torn
        window to one rename), :meth:`_write_stats_checkpoint` wraps
        stage+publish for race-free call sites."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        recs: list[dict] = []
        for f in files:
            st = file_stats.get(f) or {}
            recs.append({"file": f, "n_rows": st.get("rows")})
            mm = st.get("minmax") or {}
            blooms = st.get("bloom") or {}
            for cname in sorted(set(mm) | set(blooms)):
                r: dict = {"file": f, "n_rows": st.get("rows"), "col": cname}
                if cname in mm:
                    mn, mx = mm[cname]
                    if isinstance(mn, bool) or isinstance(mx, bool):
                        pass
                    elif isinstance(mn, (int, float)):
                        if isinstance(mn, int) and isinstance(mx, int):
                            r["min_int"], r["max_int"] = mn, mx
                        r["min_num"], r["max_num"] = float(mn), float(mx)
                        # the double image is lossy only for INT bounds
                        # at or beyond 2^53 — a double image of a
                        # double is always faithful, whatever its
                        # magnitude
                        r["num_exact"] = all(
                            not isinstance(x, int)
                            or abs(x) < self._EXACT_DOUBLE
                            for x in (mn, mx)
                        )
                    elif isinstance(mn, str):
                        r["min_str"], r["max_str"] = mn, mx
                if cname in blooms:
                    b = blooms[cname]
                    r["bloom"] = list(b["words"])
                    r["bloom_m"] = int(b["m"])
                    r["bloom_k"] = int(b["k"])
                    r["bloom_kind"] = b["kind"]
                if len(r) > 3:
                    recs.append(r)
        table = pa.Table.from_pylist(recs, schema=_stats_arrow_schema())
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(
            self.log_dir,
            f".v{version}.stats-{uuid.uuid4().hex[:8]}.parquet.tmp",
        )
        pq.write_table(table, tmp)
        return tmp

    def _write_stats_checkpoint(
        self, version: int, files: list[str], file_stats: dict
    ) -> None:
        """Stage + publish in one step — for call sites with no
        concurrent-commit race (stats_relation backfill, clone)."""
        os.replace(
            self._stage_stats_checkpoint(version, files, file_stats),
            self._stats_checkpoint_path(version),
        )

    def stats_relation(self, spark: SparkSession, version: int | None = None):
        """The snapshot's per-file stats as a DataFrame (reads the
        parquet checkpoint; falls back to materializing the JSON
        manifest for tables written before checkpoints existed).

        Read with the schema the checkpoint is written with, so building
        the relation runs no schema-inference job; a column an older
        checkpoint lacks reads as NULL."""
        v = self.version() if version is None else version
        path = self._stats_checkpoint_path(v)
        if not os.path.exists(path):
            m = self._manifest(v)
            self._write_stats_checkpoint(
                v, m["files"], m.get("file_stats", {})
            )
        from pyspark.sql.pandas.types import from_arrow_schema

        schema = from_arrow_schema(_stats_arrow_schema())
        return spark.read.schema(schema).parquet(path)

    @classmethod
    def create(
        cls,
        df: DataFrame,
        path: str,
        partition_by: Iterable[str] = (),
        generated: dict | None = None,
    ) -> "LakeTable":
        """Initial partitioned write, mode=overwrite (S8 semantics:
        jobs/order_glue_job.py:158 — first load clobbers the path).

        ``generated`` declares GENERATED ALWAYS AS columns (Delta
        parity, creation-time only as in Delta): {name: sql_expr}.
        Writers may omit the column (it is materialized from the
        expression — the common case, zero extra jobs) or provide it
        (validated row-by-row against the expression inside the staged
        write, no extra job).  The headline use is expression-derived
        PARTITION columns — ``generated={"o_year": "year(o_orderdate)"},
        partition_by=["o_year"]`` gives hive-layout pruning on a column
        no writer ever has to compute correctly by hand."""
        t = cls(path)
        if os.path.isdir(path):
            shutil.rmtree(path)
        partition_by = list(partition_by)
        generated = dict(generated or {})
        df, provided = _apply_generated(df, generated)
        files = t._stage_checked(df, 0, partition_by, "create", provided)
        t._commit_version(
            0, "create", partition_by, files, df.schema, generated=generated
        )
        return t

    def generated_columns(self, version: int | None = None) -> dict:
        """GENERATED ALWAYS AS expressions of a snapshot: {name: expr}."""
        v = self.version() if version is None else version
        return dict(self._manifest(v).get("generated", {}))

    # -- reads -------------------------------------------------------------
    @staticmethod
    def _normalize_bound(v):
        """Canonical string form for temporal bounds: tz-aware datetimes
        convert to UTC-naive, all datetimes print at fixed microsecond
        width (26 chars), dates stay date-only (10 chars).  Fixed widths
        make lexicographic order == chronological order WITHIN a kind;
        :meth:`prune_files` additionally refuses to compare temporal
        strings of different shapes (a DATE '1997-01-01' vs a midnight
        datetime '1997-01-01T00:00:00.000000' are chronologically equal
        but lexicographically ordered — comparing across shapes could
        prune a file holding matching boundary rows)."""
        import datetime

        if isinstance(v, datetime.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return v.isoformat(timespec="microseconds")
        if isinstance(v, datetime.date):
            return v.isoformat()
        return v

    def partition_histogram(
        self, column: str, version: int | None = None
    ) -> dict | None:
        """Per-partition-value ROW COUNTS straight from the manifest —
        the metadata-only histogram an index probe planner needs (cf.
        q_ann_index_store): each file of a hive-partitioned table
        carries exactly one value of the partition column as its
        ``[v, v]`` stats bounds plus its footer row count, so the
        histogram is a driver-side fold over file stats — ZERO Spark
        jobs, zero data files touched, any corpus size.  Returns None
        (caller falls back to a distributed group-by) if any file
        lacks usable single-valued stats for ``column`` — conservative:
        a partial histogram would silently under-budget an adaptive
        probe and erode its recall floor."""
        v = self.version() if version is None else version
        m = self._manifest(v)
        stats = m.get("file_stats", {})
        cm = m.get("column_mapping") or {}
        col = cm.get(column, column)
        hist: dict = {}
        for f in m["files"]:
            e = stats.get(f) or {}
            mm = (e.get("minmax") or {}).get(col)
            rows = e.get("rows")
            if not mm or mm[0] != mm[1] or rows is None:
                return None
            hist[mm[0]] = hist.get(mm[0], 0) + rows
        return hist

    def prune_files(
        self,
        predicates: list[tuple],
        version: int | None = None,
    ) -> list[str]:
        """Manifest-level data skipping: the files of a snapshot that
        MIGHT contain rows matching every predicate, judged from the
        per-file min/max stats — files provably outside a bound are
        dropped without touching storage.

        ``predicates`` is a list of ``(column, op, value)`` with op in
        ``>= > <= < = between`` (``between`` takes a ``(lo, hi)``
        value).  Conservative by construction: a file with no stats for
        the column is always kept, and only NULL-rejecting comparisons
        are allowed, so skipping by min/max can never drop a matching
        row.  This is the scan-side half of OPTIMIZE's clustering: after
        ``cluster_by``/``zorder_by``, each file owns a compact value
        range and range predicates skip most of the table at the
        MANIFEST, before Spark lists a single file."""
        v = self.version() if version is None else version
        m = self._manifest(v)
        stats = m.get("file_stats", {})
        bloom_cfg = m.get("bloom", {})
        # stats/bloom are keyed by PHYSICAL column names (footers never
        # change across renames) — translate logical predicate columns
        cm = m.get("column_mapping") or {}
        if cm and predicates:
            predicates = [
                (cm.get(c, c), op, val) for c, op, val in predicates
            ]

        import re

        from . import bloom as B

        temporal = re.compile(r"^\d{4}-\d{2}-\d{2}")

        def comparable(a, b) -> bool:
            # bounds compare only within a kind (numeric vs string);
            # bool is not a numeric kind here
            if isinstance(a, bool) or isinstance(b, bool):
                return False
            num = isinstance(a, (int, float)) and isinstance(b, (int, float))
            if num:
                # mixed int/float comparisons go through the double
                # image in the distributed twin, so mirror its guard:
                # an int at or beyond 2^53 has a lying double image —
                # refuse (keep the file) exactly where it refuses,
                # keeping the two backends bit-identical
                if type(a) is not type(b):
                    return all(
                        not isinstance(x, int) or abs(x) < self._EXACT_DOUBLE
                        for x in (a, b)
                    )
                return True
            if not (isinstance(a, str) and isinstance(b, str)):
                return False
            # temporal-shaped strings compare only within one shape:
            # same length and same tz-suffix presence.  Mixed shapes
            # (DATE vs datetime, naive vs offset-suffixed, seconds vs
            # microseconds precision from older manifests) fall back to
            # keep-the-file — conservative, never unsound.
            if temporal.match(a) or temporal.match(b):
                offset = re.compile(r"(Z|[+-]\d{2}:\d{2})$")
                return len(a) == len(b) and not (
                    offset.search(a) or offset.search(b)
                )
            return True

        def may_match(frel: str) -> bool:
            entry = stats.get(frel) or {}
            if entry.get("rows") == 0:
                return False  # provably empty file
            fstats = entry.get("minmax") or {}
            blooms = entry.get("bloom") or {}
            for col, op, value in predicates:
                # bloom membership lane: an equality probe whose kind
                # matches the stored filter and whose bits are not all
                # set PROVES the value absent from the file.  Only the
                # ORIGINAL int/str value participates (never a
                # normalized temporal image — string-column equality
                # against a temporal value goes through Spark casts the
                # filter knows nothing about), and only while the
                # file's (m, k) equals the snapshot's config — the
                # exact guard the distributed twin applies, keeping the
                # backends bit-identical.
                if op == "=" and col in blooms and col in bloom_cfg:
                    b, cfgc = blooms[col], bloom_cfg[col]
                    if (
                        b.get("m") == cfgc["m"]
                        and b.get("k") == cfgc["k"]
                        and B.kind_tag(value) == b.get("kind")
                    ):
                        pos = B.positions(value, b["m"], b["k"])
                        if pos is not None and not B.might_contain(
                            b["words"], pos
                        ):
                            return False
                if col not in fstats:
                    continue
                mn, mx = fstats[col]
                if op == "between":
                    lo, hi = (self._normalize_bound(x) for x in value)
                    if not (
                        comparable(mn, lo)
                        and comparable(mx, lo)
                        and comparable(mn, hi)
                        and comparable(mx, hi)
                    ):
                        continue
                    if mx < lo or mn > hi:
                        return False
                    continue
                value = self._normalize_bound(value)
                # both bounds participate in every op's comparison, so
                # both must be comparable to the predicate value (the
                # distributed twin's num_exact covers min AND max)
                if not (comparable(mn, value) and comparable(mx, value)):
                    continue
                if (
                    (op == ">=" and mx < value)
                    or (op == ">" and mx <= value)
                    or (op == "<=" and mn > value)
                    or (op == "<" and mn >= value)
                    or (op == "=" and (value < mn or value > mx))
                ):
                    return False
            return True

        return [f for f in m["files"] if may_match(f)]

    def prune_files_distributed(
        self,
        spark: SparkSession,
        predicates: list[tuple],
        version: int | None = None,
    ) -> list[str]:
        """:meth:`prune_files` evaluated as a SPARK JOB over the parquet
        stats checkpoint instead of a driver loop over the JSON
        manifest — the 100 TB path: at 10^6 files the driver-side dict
        walk becomes the scan planner's bottleneck, while this runs one
        small distributed filter and collects only the SURVIVORS (the
        list that must reach ``spark.read`` regardless).  Same
        conservative contract, proven by
        ``tests/test_lakehouse.py::test_distributed_pruning_matches_driver``:
        a file is dropped only on an explicit disjointness proof, and
        every comparison the driver refuses (mixed kinds, temporal
        shape mismatch, lossy int→double images) is refused here too
        via the ``num_exact`` column and the same shape guards."""
        import re

        from . import bloom as B

        v = self.version() if version is None else version
        rel = self.stats_relation(spark, v)
        man = self._manifest_meta(v)  # metadata only — no hydration
        bloom_cfg = man.get("bloom", {})
        # same physical-name translation as the driver walk
        cm = man.get("column_mapping") or {}
        if cm and predicates:
            predicates = [
                (cm.get(c, c), op, val) for c, op, val in predicates
            ]
        temporal = re.compile(r"^\d{4}-\d{2}-\d{2}")
        offset = re.compile(r"(Z|[+-]\d{2}:\d{2})$")

        def op_disjoint(op, mn, mx, lo, hi):
            if op == ">=":
                return mx < lo
            if op == ">":
                return mx <= lo
            if op == "<=":
                return mn > lo
            if op == "<":
                return mn >= lo
            if op == "=":
                return (lo < mn) | (lo > mx)
            if op == "between":
                return (mx < lo) | (mn > hi)
            return F.lit(False)

        def str_shape_guard(vals):
            # mirror of prune_files.comparable(): if EITHER side is
            # temporal-shaped, require identical length and no tz
            # offset on either side
            if any(offset.search(x) for x in vals):
                return F.lit(False)
            lens = {len(x) for x in vals}
            stats_temp = F.col("min_str").rlike(temporal.pattern) | F.col(
                "max_str"
            ).rlike(temporal.pattern)
            same_len = (
                (F.length("min_str") == F.lit(min(lens)))
                & (F.length("max_str") == F.lit(min(lens)))
                & ~F.col("min_str").rlike(offset.pattern)
                & ~F.col("max_str").rlike(offset.pattern)
                if len(lens) == 1
                else F.lit(False)
            )
            if any(temporal.match(x) for x in vals):
                return same_len
            return F.when(stats_temp, same_len).otherwise(F.lit(True))

        def pred_expr(colname, op, value):
            if op == "between":
                lo, hi = (self._normalize_bound(x) for x in value)
            else:
                lo, hi = self._normalize_bound(value), None
            vals = [lo] if hi is None else [lo, hi]
            base = F.col("col") == colname
            # bloom membership lane (the equality twin of the range
            # lanes below): bit positions are LITERALS computed once
            # driver-side from the ORIGINAL probe value, so the JVM
            # filter is plain word/shift arithmetic — no per-row
            # hashing.  Guards mirror prune_files exactly: original
            # int/str kinds only, stored kind must match, stored (m, k)
            # must equal the snapshot's config.
            bexpr = None
            # checkpoints written before bloom indexes existed read the
            # bloom columns as NULL, which the isNotNull guard refuses
            if op == "=":
                cfgc = bloom_cfg.get(colname)
                tag = B.kind_tag(value)
                if cfgc and tag is not None:
                    pos = B.positions(
                        value, int(cfgc["m"]), int(cfgc["k"])
                    )
                    miss = None
                    for pnt in sorted(set(pos)):
                        w, bit = divmod(pnt, 64)
                        e = F.expr(
                            f"((element_at(bloom, {w + 1}) >> {bit}) & 1) = 0"
                        )
                        miss = e if miss is None else (miss | e)
                    bexpr = (
                        base
                        & F.col("bloom").isNotNull()
                        & (F.col("bloom_m") == int(cfgc["m"]))
                        & (F.col("bloom_k") == int(cfgc["k"]))
                        & (F.col("bloom_kind") == F.lit(tag))
                        & miss
                    )
            if any(isinstance(x, bool) for x in vals):
                return bexpr
            if all(isinstance(x, (int, float)) for x in vals):
                exprs = []
                if all(isinstance(x, int) for x in vals):
                    exprs.append(
                        base
                        & F.col("min_int").isNotNull()
                        & op_disjoint(
                            op,
                            F.col("min_int"),
                            F.col("max_int"),
                            F.lit(lo),
                            F.lit(hi) if hi is not None else None,
                        )
                    )
                # double image: every float is an exact double; an int
                # participates only below 2^53 (else the image lies).
                # Applies to int-stats files too (num_exact gates the
                # lossy int bounds) — a float predicate against an int
                # column must still be able to prove disjointness, or
                # this path silently keeps files the driver walk drops.
                if all(
                    not isinstance(x, int) or abs(x) < self._EXACT_DOUBLE
                    for x in vals
                ):
                    exprs.append(
                        base
                        & F.col("min_num").isNotNull()
                        & F.col("num_exact")
                        & op_disjoint(
                            op,
                            F.col("min_num"),
                            F.col("max_num"),
                            F.lit(float(lo)),
                            F.lit(float(hi)) if hi is not None else None,
                        )
                    )
                out = bexpr
                for e in exprs:
                    out = e if out is None else (out | e)
                return out
            if all(isinstance(x, str) for x in vals):
                sexpr = (
                    base
                    & F.col("min_str").isNotNull()
                    & str_shape_guard(vals)
                    & op_disjoint(
                        op,
                        F.col("min_str"),
                        F.col("max_str"),
                        F.lit(lo),
                        F.lit(hi) if hi is not None else None,
                    )
                )
                return sexpr if bexpr is None else (sexpr | bexpr)
            return bexpr  # mixed-kind predicate: min/max proof impossible

        proofs = None
        for colname, op, value in predicates or []:
            e = pred_expr(colname, op, value)
            if e is not None:
                proofs = e if proofs is None else (proofs | e)
        members = rel.filter(F.col("col").isNull()).select("file", "n_rows")
        bad = members.filter(F.col("n_rows") == 0).select("file")
        if proofs is not None:
            bad = bad.unionByName(
                rel.filter(F.col("col").isNotNull() & proofs).select("file")
            )
        survivors = {
            r.file
            for r in members.select("file")
            .join(bad.distinct(), "file", "left_anti")
            .collect()
        }
        if man.get("files_external"):
            # no inline list to preserve the order of — deterministic
            # sorted order; scan semantics are order-independent
            return sorted(survivors)
        return [f for f in self._manifest(v)["files"] if f in survivors]

    # -- RENAME COLUMN (Delta column-mapping parity) -----------------------
    def rename_column(self, old: str, new: str) -> int:
        """``ALTER TABLE ... RENAME COLUMN`` — metadata-only, via
        column mapping (Delta ``columnMapping.mode=name`` parity): data
        files keep their ORIGINAL physical column names forever; the
        manifest records {logical: physical} and every reader/writer
        translates at the scan/stage choke points.  No file is
        rewritten, footer stats and bloom filters stay valid (they key
        on physical names), time travel shows each version under its
        own names, and a second rename of the same column just
        repoints the logical name at the unchanged physical one.

        Refused for partition columns (hive dir names are physical and
        user-visible), for columns referenced by CHECK constraints or
        GENERATED expressions (their SQL text would silently break —
        Delta restricts these too), and for names already taken."""
        prev_v = self.version()
        m = self._manifest(prev_v)
        schema = StructType.fromJson(m["schema"])
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no such column: {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if old in (m.get("partition_by") or []):
            raise ValueError(
                f"cannot rename partition column {old!r}: hive directory "
                "names are physical and would need a full rewrite"
            )
        import re as _re

        word = _re.compile(rf"\b{_re.escape(old)}\b")
        refs = {**m.get("constraints", {}), **m.get("generated", {})}
        for nm, expr in refs.items():
            if word.search(expr):
                raise ValueError(
                    f"cannot rename {old!r}: referenced by {nm!r} "
                    f"({expr}) — drop it first"
                )
        if old in m.get("generated", {}):
            raise ValueError(
                f"cannot rename generated column {old!r}"
            )
        mapping = dict(m.get("column_mapping", {}))
        phys = mapping.pop(old, old)
        if new != phys:
            mapping[new] = phys
        new_schema = StructType(
            [
                StructField(
                    new if f.name == old else f.name, f.dataType, f.nullable
                )
                for f in schema.fields
            ]
        )
        self._commit_version(
            prev_v + 1,
            "rename_column",
            m["partition_by"],
            list(m["files"]),
            new_schema,
            column_mapping=mapping,
        )
        return prev_v + 1

    def drop_column(self, name: str) -> int:
        """``ALTER TABLE ... DROP COLUMN`` — metadata-only (Delta
        column-mapping drop parity): the column leaves the logical
        schema; data files are untouched (old files still carry the
        physical bytes, unprojected by the pinned-schema scan — the
        same lazy-delete Delta does).  The physical name lands on a
        TOMBSTONE list so a later schema-evolution add of the same
        name is refused instead of silently resurrecting old data.
        Refused for partition columns and for columns referenced by
        CHECK constraints or GENERATED expressions."""
        prev_v = self.version()
        m = self._manifest(prev_v)
        schema = StructType.fromJson(m["schema"])
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"no such column: {name!r}")
        if name in (m.get("partition_by") or []):
            raise ValueError(
                f"cannot drop partition column {name!r}: the hive "
                "layout is keyed on it"
            )
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        import re as _re

        word = _re.compile(rf"\b{_re.escape(name)}\b")
        refs = {**m.get("constraints", {}), **m.get("generated", {})}
        for nm, expr in refs.items():
            if word.search(expr):
                raise ValueError(
                    f"cannot drop {name!r}: referenced by {nm!r} "
                    f"({expr}) — drop it first"
                )
        if name in m.get("generated", {}):
            raise ValueError(f"cannot drop generated column {name!r}")
        mapping = dict(m.get("column_mapping", {}))
        phys = mapping.pop(name, name)
        bloom_cfg = dict(m.get("bloom", {}))
        bloom_cfg.pop(phys, None)  # stale index config goes with it
        new_schema = StructType(
            [f for f in schema.fields if f.name != name]
        )
        self._commit_version(
            prev_v + 1,
            "drop_column",
            m["partition_by"],
            list(m["files"]),
            new_schema,
            bloom_config=bloom_cfg,
            column_mapping=mapping,
            dropped_physical=list(m.get("dropped_physical", [])) + [phys],
        )
        return prev_v + 1

    # -- clone (Delta SHALLOW CLONE parity) --------------------------------
    def clone(self, dest_path: str) -> "LakeTable":
        """``CREATE TABLE dest SHALLOW CLONE src`` parity: a new,
        fully independent table over the CURRENT snapshot with zero
        data-byte copying — every data file is HARD-LINKED into the
        clone's tree (O(files) metadata ops; same-filesystem falls back
        to a real copy per file on EXDEV), and the snapshot's stats,
        bloom filters, CHECK constraints, bloom config and deletion
        vectors carry verbatim, so pruning works on the clone without
        recomputing anything.

        Deliberate deviation from Delta, documented: Delta's shallow
        clone keeps POINTERS into the source table, so vacuuming the
        source breaks every clone (a known operational footgun).  Hard
        links make each file's bytes refcounted by the filesystem —
        source vacuum, clone vacuum, and rewrites on either side are
        all safe, while the clone itself is still created in O(files)
        with no data movement.  Writes after the clone diverge freely:
        copy-on-write rewrites allocate NEW files on whichever table
        wrote, never mutating shared bytes (LakeTable never modifies a
        committed file in place, which is what makes hard-link sharing
        sound)."""
        v = self.version()
        m = self._manifest(v)
        if os.path.exists(dest_path):
            raise ValueError(f"clone destination exists: {dest_path}")
        dest = LakeTable(dest_path)
        os.makedirs(dest.data_dir, exist_ok=True)
        for f in m["files"]:
            src = os.path.join(self.data_dir, f)
            dst = os.path.join(dest.data_dir, f)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)  # cross-device: degrade to copy
        # DV pointer files key on ABSOLUTE scan paths
        # (_metadata.file_path), so a verbatim copy would silently
        # resurrect deleted rows on the clone — rewrite the data-dir
        # prefix while copying (DV relations are point-delete-sized by
        # design, so a driver-side pyarrow pass is the right tool)
        if m.get("dv_dirs"):
            import pyarrow as pa
            import pyarrow.parquet as pq

            src_abs = os.path.abspath(self.data_dir)
            dst_abs = os.path.abspath(dest.data_dir)
            for d in m.get("dv_dirs", []):
                sdir = os.path.join(self.log_dir, d)
                ddir = os.path.join(dest.log_dir, d)
                os.makedirs(ddir, exist_ok=True)
                for fn in os.listdir(sdir):
                    if not fn.endswith(".parquet"):
                        continue
                    tbl = pq.read_table(os.path.join(sdir, fn))
                    idx = tbl.schema.get_field_index("file_path")
                    fp = pa.array(
                        [
                            v.replace(src_abs, dst_abs)
                            if isinstance(v, str)
                            else v
                            for v in tbl.column("file_path").to_pylist()
                        ],
                        pa.string(),
                    )
                    pq.write_table(
                        tbl.set_column(idx, "file_path", fp),
                        os.path.join(ddir, fn),
                    )
        # a clone of a big snapshot stays files_external: the dest
        # commit token keeps the same O(metadata) shape as the source's
        external = len(m["files"]) > _inline_files_max()
        dest._commit(
            0,
            {
                "version": 0,
                "operation": "clone",
                "source": self.path,
                "partition_by": m.get("partition_by", []),
                "files": [] if external else list(m["files"]),
                "file_stats": {} if external else m.get("file_stats", {}),
                "files_external": external,
                "n_files": len(m["files"]),
                "schema": m["schema"],
                "committed_at": time.time(),
                "dv_dirs": list(m.get("dv_dirs", [])),
                "constraints": dict(m.get("constraints", {})),
                "bloom": dict(m.get("bloom", {})),
                "generated": dict(m.get("generated", {})),
                "column_mapping": dict(m.get("column_mapping", {})),
                "dropped_physical": list(m.get("dropped_physical", [])),
            },
        )
        dest._write_stats_checkpoint(
            0, m["files"], m.get("file_stats", {})
        )
        if external:
            dest._hydrate_cache[0] = dest._hydrate_external(0)
        return dest

    # -- bloom-filter indexes (Delta delta.bloomFilter.* parity) -----------
    def bloom_index(self, version: int | None = None) -> dict:
        """Active bloom-filter index config of a snapshot:
        {column: {"m": bits, "k": probes}}."""
        v = self.version() if version is None else version
        return dict(self._manifest(v).get("bloom", {}))

    def add_bloom_index(
        self,
        column: str,
        m: int | None = None,
        k: int | None = None,
    ) -> int:
        """Register a per-file Bloom filter index on ``column`` (the
        ``CREATE BLOOMFILTER INDEX`` / ``delta.bloomFilter.enabled``
        twin) and BACKFILL it: commits a new version whose every file
        carries an m-bit filter over the column's values, after which
        ``prune_files``/``prune_files_distributed`` can skip files on
        equality probes that min/max stats can never refute (point
        lookups on unclustered columns — the needle-in-100 TB case).
        Backfill pays one columns-only parquet read per file, exactly
        once; subsequent writes hash only their new files.  Only int
        and string columns participate; others raise (a silent no-op
        index would read as skipping working when it cannot)."""
        from . import bloom as B

        prev_v = self.version()
        man = self._manifest(prev_v)
        cfg = self.bloom_index()
        # cfg keys are PHYSICAL names (what the parquet files carry),
        # so the index survives later RENAME COLUMN untouched
        cm = man.get("column_mapping") or {}
        cfg[cm.get(column, column)] = {
            "m": int(m or B.DEFAULT_M),
            "k": int(k or B.DEFAULT_K),
        }
        schema = StructType.fromJson(man["schema"])
        kinds = {f.name: f.dataType.simpleString() for f in schema.fields}
        ok = ("tinyint", "smallint", "int", "bigint", "string")
        if kinds.get(column) not in ok:
            raise ValueError(
                f"bloom index on {column!r} ({kinds.get(column)}): only "
                "integer and string columns have a sound equality-probe "
                "representation"
            )
        if column in (man.get("partition_by") or []):
            raise ValueError(
                f"bloom index on partition column {column!r}: partition "
                "dir values already give exact [v, v] bounds — equality "
                "pruning there needs no filter (and the column has no "
                "parquet pages to hash)"
            )
        self._commit_version(
            prev_v + 1,
            "add_bloom_index",
            man["partition_by"],
            list(man["files"]),
            schema,
            bloom_config=cfg,
        )
        return prev_v + 1

    def drop_bloom_index(self, column: str) -> int:
        """Drop the index config (metadata-only — stale per-file
        filters become inert because both pruning paths consult the
        SNAPSHOT config before probing)."""
        prev_v = self.version()
        man = self._manifest(prev_v)
        cfg = self.bloom_index()
        column = (man.get("column_mapping") or {}).get(column, column)
        if column not in cfg:
            raise ValueError(f"no bloom index on {column!r}")
        del cfg[column]
        self._commit_version(
            prev_v + 1,
            "drop_bloom_index",
            man["partition_by"],
            list(man["files"]),
            StructType.fromJson(man["schema"]),
            bloom_config=cfg,
        )
        return prev_v + 1

    # -- CHECK constraints (Delta ADD CONSTRAINT parity) -------------------
    def constraints(self, version: int | None = None) -> dict:
        """Active CHECK constraints of a snapshot: {name: sql_expr}."""
        v = self.version() if version is None else version
        return dict(self._manifest(v).get("constraints", {}))

    def add_constraint(
        self, spark: SparkSession, name: str, check_expr: str
    ) -> int:
        """``ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)`` (Delta
        parity): validates the EXISTING snapshot once with its own job
        (O(table) — the one-time price Delta also pays; this commit
        writes no rows to check), then commits a metadata-only version
        carrying the constraint.  Every subsequent merge, append and
        overwrite counts violations among its WRITTEN rows inside the
        staged write (O(written), never O(table), no extra job) and
        raises :class:`ConstraintViolationError` listing the count.
        Same NULL semantics as SQL CHECK: NULL evaluations pass."""
        cons = self.constraints()
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        bad = (
            self.read(spark)
            .filter(~F.coalesce(F.expr(check_expr), F.lit(True)))
            .limit(1_000_000)
            .count()
        )
        if bad:
            raise ConstraintViolationError(
                f"cannot add constraint {name!r}: {bad} existing row(s) "
                f"violate CHECK ({check_expr})"
            )
        cons[name] = check_expr
        prev_v = self.version()
        m = self._manifest(prev_v)
        self._commit_version(
            prev_v + 1,
            "add_constraint",
            m["partition_by"],
            list(m["files"]),
            StructType.fromJson(m["schema"]),
            constraints=cons,
        )
        return prev_v + 1

    def drop_constraint(self, name: str) -> int:
        """``ALTER TABLE ... DROP CONSTRAINT`` — metadata-only."""
        cons = self.constraints()
        if name not in cons:
            raise ValueError(f"no such constraint: {name!r}")
        del cons[name]
        prev_v = self.version()
        m = self._manifest(prev_v)
        self._commit_version(
            prev_v + 1,
            "drop_constraint",
            m["partition_by"],
            list(m["files"]),
            StructType.fromJson(m["schema"]),
            constraints=cons,
        )
        return prev_v + 1

    # -- deletion vectors (merge-on-read DELETE) ---------------------------
    _DV_SCHEMA = "file_path STRING, row_index BIGINT"

    def _dv_df(self, spark: SparkSession, manifest: dict) -> DataFrame | None:
        """Union of a snapshot's deletion-vector pointer files, or None
        when the snapshot has no DVs (the fast path: zero plan change)."""
        dirs = manifest.get("dv_dirs") or []
        if not dirs:
            return None
        paths = [os.path.join(self.log_dir, d) for d in dirs]
        return spark.read.schema(self._DV_SCHEMA).parquet(*paths)

    def _apply_dv(
        self, spark: SparkSession, df: DataFrame, manifest: dict, keep_meta: bool = False
    ) -> DataFrame:
        """Filter a raw file scan through the snapshot's deletion
        vectors: broadcast anti-join on (file_path, row_index) — the
        fact side never shuffles; DV relations are point-delete-sized
        by design (a delete too big to broadcast belongs in
        copy-on-write :meth:`delete`)."""
        dv = self._dv_df(spark, manifest)
        if dv is None and not keep_meta:
            return df
        out = df.select(
            "*",
            F.col("_metadata.file_path").alias("__fp"),
            F.col("_metadata.row_index").alias("__ri"),
        )
        if dv is not None:
            out = out.join(
                F.broadcast(
                    dv.select(
                        F.col("file_path").alias("__fp"),
                        F.col("row_index").alias("__ri"),
                    )
                ),
                ["__fp", "__ri"],
                "left_anti",
            )
        return out if keep_meta else out.drop("__fp", "__ri")

    def delete_dv(self, spark: SparkSession, condition: F.Column) -> int:
        """Merge-on-read DELETE (Delta deletion-vector parity): instead
        of rewriting every file containing a matching row
        (copy-on-write :meth:`delete` — O(touched files) WRITE), record
        (file, row_index) pointers for the matching rows and commit the
        SAME file list — O(matching rows) write, no data movement.
        Readers apply the pointers as a broadcast anti-join; rewriting
        operations (merge, OPTIMIZE) materialize them away naturally
        because they read through the DV-aware scan.  The point-delete
        path a 100 TB GDPR erasure needs: deleting one user's rows
        from a year of 1 GB files rewrites nothing.

        Same NULL semantics as :meth:`delete`: only rows where
        ``condition`` is TRUE are deleted."""
        prev_v = self.version()
        m = self._manifest(prev_v)
        if not m["files"]:
            return prev_v  # empty snapshot: nothing to delete
        raw = self._scan_files(spark, m["files"], m)
        hits = self._apply_dv(spark, raw, m, keep_meta=True).filter(
            condition
        ).select(
            F.col("__fp").alias("file_path"),
            F.col("__ri").alias("row_index"),
        )
        new_version = prev_v + 1
        dv_dir = f"dv_v{new_version}"
        hits.write.mode("overwrite").parquet(
            os.path.join(self.log_dir, dv_dir)
        )
        self._commit_version(
            new_version,
            "delete_dv",
            m["partition_by"],
            list(m["files"]),
            StructType.fromJson(m["schema"]),
            dv_dirs=list(m.get("dv_dirs", [])) + [dv_dir],
        )
        return new_version

    def _scan_files(
        self, spark: SparkSession, files: list[str], manifest: dict
    ) -> DataFrame:
        """Raw pinned-schema scan of a manifest's files (no DV
        application).  Column mapping applies HERE — the single scan
        choke point — so every reader (read, CDF, DV delete, optimize
        rewrites) uniformly sees LOGICAL names: the scan pins the
        PHYSICAL schema (what the parquet files actually store, which
        never changes across renames) and renames to the snapshot's
        logical names immediately after."""
        schema = StructType.fromJson(manifest["schema"])
        mapping = manifest.get("column_mapping") or {}
        if not files:
            return spark.createDataFrame([], schema)
        if mapping:
            phys_schema = StructType(
                [
                    StructField(
                        mapping.get(f.name, f.name), f.dataType, f.nullable
                    )
                    for f in schema.fields
                ]
            )
        else:
            phys_schema = schema
        paths = [os.path.join(self.data_dir, f) for f in files]
        df = (
            spark.read.option("basePath", self.data_dir)
            .schema(phys_schema)
            .parquet(*paths)
        )
        for log, phys in mapping.items():
            if phys != log:
                df = df.withColumnRenamed(phys, log)
        return df

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        prune: list[tuple] | None = None,
        prune_via: str = "driver",
        as_of=None,
    ) -> DataFrame:
        """Snapshot scan (S6): read exactly the manifest's file list with
        the stored schema (no inference/listing job) and ``basePath`` set
        so hive-encoded partition columns are recovered — partition
        pruning and parquet pushdown work as on any parquet table.

        ``prune`` applies manifest-level data skipping (see
        :meth:`prune_files`) — the caller STILL applies the same
        predicate as a normal ``filter`` (skipping is a file-set
        optimization, not a row filter).  ``prune_via="spark"`` routes
        the skipping decision through the parquet stats checkpoint as
        a distributed job (:meth:`prune_files_distributed`) — same
        survivors, no driver manifest walk; the scale default past
        ~10^5 files.  ``as_of`` resolves a commit timestamp to a
        version (Delta ``TIMESTAMP AS OF``); mutually exclusive with
        ``version``."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass version or as_of, not both")
            version = self.version_as_of(as_of)
        if version is None:
            v = self.version()
            try:
                return self._read_at(spark, v, prune, prune_via)
            except FileNotFoundError as err:
                # torn-commit window on the NEWEST version only: the
                # JSON token is visible but the external stats
                # checkpoint hasn't been renamed into place yet (the
                # writer is mid-publish, or crashed there).  A
                # latest-snapshot reader didn't ask for v{N}
                # specifically — serve the previous version, which is
                # complete by construction; the next read converges to
                # v{N} once the checkpoint lands.  Explicit-version
                # reads still raise (silently substituting a different
                # snapshot than requested would be wrong).
                if v > 0 and "stats checkpoint" in str(err):
                    return self._read_at(spark, v - 1, prune, prune_via)
                raise
        return self._read_at(spark, version, prune, prune_via)

    def _read_at(
        self,
        spark: SparkSession,
        v: int,
        prune: list[tuple] | None = None,
        prune_via: str = "driver",
    ) -> DataFrame:
        """Body of :meth:`read` for one resolved version."""
        # metadata only — for a files_external snapshot the file list
        # is NEVER parsed as JSON on this path: pruned reads collect
        # survivors from a Spark job over the stats checkpoint, full
        # reads collect just the membership file column (the strings
        # that must reach spark.read regardless — the same driver-side
        # floor Delta's file index has)
        m = self._manifest_meta(v)
        if prune and prune_via == "spark":
            files = self.prune_files_distributed(spark, prune, v)
        elif prune:
            files = self.prune_files(prune, v)
        elif m.get("files_external"):
            files = [
                r.file
                for r in self.stats_relation(spark, v)
                .filter(F.col("col").isNull())
                .select("file")
                .collect()
            ]
        else:
            files = m["files"]
        # deletion vectors apply on top of any file pruning (a pruned
        # file's pointers are inert); snapshots without DVs take the
        # identical plan as before — no metadata columns, no join
        scan = self._scan_files(spark, files, m)
        if not files:
            return scan  # empty relation has no _metadata to filter on
        return self._apply_dv(spark, scan, m)

    # -- catalog registration ----------------------------------------------
    def register(
        self,
        spark: SparkSession,
        name: str,
        db: str = "lakehouse_dwh",
        version: int | None = None,
    ) -> str:
        """Catalog registration — the Glue-crawler twin (SURVEY §3.1):
        after each write the reference re-crawls the curated zone so
        Athena's ``lakehouse_dwh`` database sees the new snapshot
        (step_functions/state_machine.json:121); here the same step is
        two DDL round-trips.  A backing TABLE ``{name}__files`` carries
        the manifest's PINNED schema (columns + types from the version
        log, NOT footer inference — with heterogeneous footers after
        schema evolution, inference over the data tree picks an
        arbitrary file and can expose the wrong column set; the
        explicit schema also null-fills evolved columns missing from
        carryover files, exactly like :meth:`read`), and the public
        VIEW ``{name}`` pins the manifest's EXACT file list via a
        ``_metadata.file_path`` constant-metadata filter, so superseded
        version files sitting in the same ``data/`` tree are never
        read.  Hive-encoded partition dirs surface as partition columns
        through ``RECOVER PARTITIONS`` (the literal crawler step).
        Like a crawler, re-run after each write to advance the
        registered snapshot.  Scale boundary: the view text embeds one
        literal per live file — fine to ~10^5 files, the same
        driver-resident-manifest ceiling as the JSON version log
        itself."""
        v = self.version() if version is None else version
        m = self._manifest(v)
        if not m["files"]:
            raise ValueError(
                f"cannot register empty table snapshot {name}@v{v}"
            )
        if m.get("dv_dirs"):
            # the catalog view is plain SQL over parquet and cannot
            # apply deletion vectors; a registered view that served
            # DV'd rows would be silently wrong — refuse loudly (the
            # same reader restriction early Delta DV tables had)
            raise ValueError(
                f"snapshot {name}@v{v} carries deletion vectors; "
                "materialize them first (optimize() full rewrite) "
                "before catalog registration"
            )
        schema = StructType.fromJson(m["schema"])
        partition_by = list(m.get("partition_by") or [])
        cm = m.get("column_mapping") or {}
        data_fields = [f for f in schema.fields if f.name not in partition_by]
        part_fields = [f for f in schema.fields if f.name in partition_by]
        # the backing table reads raw parquet, so its DDL must use the
        # PHYSICAL names; the view below aliases them back to logical
        ddl = ", ".join(
            f"`{cm.get(f.name, f.name)}` {f.dataType.simpleString()}"
            for f in data_fields + part_fields
        )
        files_table = f"{db}.{name}__files"
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        spark.sql(f"DROP TABLE IF EXISTS {files_table}")
        part_clause = (
            " PARTITIONED BY (" + ", ".join(f"`{c}`" for c in partition_by) + ")"
            if partition_by
            else ""
        )
        loc = "file:" + os.path.abspath(self.data_dir).replace("'", "''")
        spark.sql(
            f"CREATE TABLE {files_table} ({ddl}) USING parquet"
            f"{part_clause} LOCATION '{loc}'"
        )
        if partition_by:
            spark.sql(f"ALTER TABLE {files_table} RECOVER PARTITIONS")
        uris = ", ".join(
            "'file:"
            + os.path.abspath(os.path.join(self.data_dir, f)).replace("'", "''")
            + "'"
            for f in m["files"]
        )
        proj = ", ".join(
            f"`{cm.get(f.name, f.name)}` AS `{f.name}`"
            if cm.get(f.name, f.name) != f.name
            else f"`{f.name}`"
            for f in data_fields + part_fields
        )
        spark.sql(
            f"CREATE OR REPLACE VIEW {db}.{name} AS "
            f"SELECT {proj} FROM {files_table} "
            f"WHERE _metadata.file_path IN ({uris})"
        )
        return f"{db}.{name}"

    # -- partition scoping helpers ----------------------------------------
    def _scope_to_touched(
        self,
        target: DataFrame,
        prev_files: list[str],
        partition_by: list[str],
        touched_parts: DataFrame,
    ) -> tuple[DataFrame, list[str], set[str] | None]:
        """Partition-scoped copy-on-write for MERGE and DELETE: collect
        the distinct partition tuples of ``touched_parts`` and return
        ``target`` filtered to them by an OR-of-ANDs literal predicate
        (not a join, so Catalyst partition-prunes the scan), the previous
        files outside them (carried into the new manifest by reference,
        byte-identical) and their dir names (``allowed_dirs`` of the
        stage).  Past ``_MAX_SCOPED_PARTITIONS`` touched partitions the
        rewrite is whole-table: ``target`` unchanged, nothing carried."""
        touched = [tuple(r) for r in touched_parts.collect()]
        if len(touched) > _MAX_SCOPED_PARTITIONS:
            return target, [], None
        touched_dirs = {_partition_dirname(partition_by, t) for t in touched}
        depth = len(partition_by)
        carry = [
            f for f in prev_files
            if "/".join(f.split("/")[:depth]) not in touched_dirs
        ]
        pred = F.lit(False)
        for t in touched:
            pred = pred | reduce(
                lambda a, b: a & b,
                [F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(partition_by, t)],
            )
        return target.filter(pred), carry, touched_dirs

    # -- MERGE (J4) --------------------------------------------------------
    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        key: Iterable[str],
        latest_by: str | None = None,
        evolve_schema: bool = False,
    ) -> int:
        """MERGE ON key: WHEN MATCHED UPDATE ALL, WHEN NOT MATCHED
        INSERT ALL (jobs/order_items_glue_job.py:174-180 shape).

        ``latest_by=None``: plain update-all semantics — source rows win
        on key collision (result = source ∪ (target ⟕̸ source)). The
        source must be unique per key; duplicate source keys raise
        (Delta's multiple-source-match error), because any silent pick
        would be partition-order-dependent and make replays
        nondeterministic.

        ``latest_by=col``: ordered upsert — the winner per key is chosen
        across BOTH target and source by the newest ``col`` (source wins
        ties). This both pre-dedups a duplicate-keyed source (the
        reference's Delta MERGE hazard, SURVEY §2.12) AND refuses to let
        a stale late-arriving source row overwrite a newer target row —
        the property that makes replaying a stream's batches in any
        boundary arrangement converge to the same table
        (streaming/events.py stream_merge_to_table). Equivalent to
        Delta's ``WHEN MATCHED AND s.col >= t.col THEN UPDATE ALL``.

        Partitioned tables rewrite only partitions that receive source
        rows or contain matched keys — O(touched partitions), not
        O(table). Untouched files carry over untouched.

        ``evolve_schema=True`` (Delta ``mergeSchema`` parity): source
        columns absent from the table are ADDED (existing rows read
        NULL — parquet files lacking a column yield nulls under the
        evolved read schema, so carried-over files need no rewrite);
        table columns absent from the source are kept (inserted rows
        get NULL). Without the flag any column-set difference raises.
        """
        staged = self.stage_merge(
            spark,
            source,
            key,
            latest_by=latest_by,
            evolve_schema=evolve_schema,
        )
        return self.publish(staged)

    def stage_merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        key: Iterable[str],
        latest_by: str | None = None,
        evolve_schema: bool = False,
    ) -> "StagedCommit":
        """Write-audit-publish: run the full MERGE plan and WRITE its
        data files, but do NOT commit — the candidate snapshot is
        returned as a :class:`StagedCommit` whose ``read()`` serves it
        for audit queries (DQ gates, row-count deltas, FK checks — the
        table-level analog of the reference's row-level reject gates,
        jobs/order_glue_job.py validate steps).  ``publish()`` makes it
        the next version atomically (losing an optimistic-concurrency
        race raises, exactly like a direct merge); ``abort()`` removes
        the staged files.  Until published, readers of the table see
        nothing: staged files are referenced by no manifest — the same
        uncommitted-files mechanism Delta/Iceberg WAP uses.  An
        abandoned stage (crash between stage and publish) is an orphan
        swept by the next vacuum."""
        key = list(key)
        prev_v = self.version()
        m = self._manifest(prev_v)
        partition_by: list[str] = m["partition_by"]
        source, provided = _apply_generated(source, m.get("generated", {}))
        target = self.read(spark)
        if set(target.columns) != set(source.columns):
            if not evolve_schema:
                raise ValueError(
                    f"merge schema mismatch: target {sorted(target.columns)} "
                    f"vs source {sorted(source.columns)} "
                    "(pass evolve_schema=True to add/keep columns)"
                )
            src_fields = {f.name: f for f in source.schema.fields}
            tgt_fields = {f.name: f for f in target.schema.fields}
            tombstones = set(m.get("dropped_physical", []))
            for name, f in src_fields.items():
                if name not in tgt_fields:
                    # a DROPPED column's physical name still lives in
                    # old files; re-adding the same name would silently
                    # resurrect that old data through the pinned-schema
                    # scan — refuse (full remapping to a fresh physical
                    # id is the column-mapping extension we don't need
                    # until someone hits this)
                    if name in tombstones:
                        raise ValueError(
                            f"column {name!r} was previously dropped; "
                            "old files still carry its physical data — "
                            "re-add it under a different name"
                        )
                    target = target.withColumn(
                        name, F.lit(None).cast(f.dataType)
                    )
            for name, f in tgt_fields.items():
                if name not in src_fields:
                    source = source.withColumn(
                        name, F.lit(None).cast(f.dataType)
                    )
            source = source.select(*target.columns)
        carry: list[str] = []
        touched_dirs: set[str] | None = None
        if partition_by:
            # touched = partitions receiving source rows ∪ partitions
            # holding matched keys (an update may MOVE a row across
            # partitions, emptying its old one — both sides must rewrite).
            src_parts = source.select(*partition_by).distinct()
            tgt_parts = (
                target.join(
                    source.select(*key).distinct(), on=key, how="left_semi"
                )
                .select(*partition_by)
                .distinct()
            )
            target, carry, touched_dirs = self._scope_to_touched(
                target,
                m["files"],
                partition_by,
                src_parts.unionByName(tgt_parts).distinct(),
            )

        if latest_by is not None:
            # one window over target ∪ source: newest latest_by wins,
            # source beats target on ties (update-all flavor)
            both = target.select(*target.columns).withColumn(
                "__is_src", F.lit(0)
            ).unionByName(
                source.select(*target.columns).withColumn("__is_src", F.lit(1))
            )
            w = Window.partitionBy(*key).orderBy(
                F.col(latest_by).desc_nulls_last(), F.col("__is_src").desc()
            )
            merged = (
                both.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__is_src")
            )
        else:
            kept = target.join(
                source.select(*key).dropDuplicates(), on=key, how="left_anti"
            )
            # Delta parity: multiple source rows per key is an error — a
            # silent survivor would be partition-order nondeterministic.
            # The source branch counts its rows per key for the staged
            # write's check, which raises before anything is returned.
            per_key = F.count(F.lit(1)).over(Window.partitionBy(*key))
            merged = kept.withColumn(_SRC_ROWS_PER_KEY, F.lit(1)).unionByName(
                source.select(*kept.columns, per_key.alias(_SRC_ROWS_PER_KEY))
            )
        new_version = prev_v + 1
        new_files = self._stage_checked(
            merged, new_version, partition_by, "merge", provided, touched_dirs
        )
        # merged.schema, not the stored one: picks up evolved columns;
        # identical to the stored schema when no evolution happened
        # (all merge paths preserve target column order).
        return StagedCommit(
            self,
            new_version,
            "merge",
            partition_by,
            sorted(carry + new_files),
            merged.drop(_SRC_ROWS_PER_KEY).schema,
        )

    def publish(self, staged: "StagedCommit") -> int:
        """Commit a staged snapshot as the next version (atomic;
        :class:`ConcurrentWriteError` if another writer took the
        version number — re-stage against the new snapshot to retry)."""
        self._commit_version(
            staged.version,
            staged.operation,
            staged.partition_by,
            staged.files,
            staged.schema,
        )
        self._vacuum(keep=self.retain_versions)
        return staged.version

    def abort(self, staged: "StagedCommit") -> None:
        """Discard a staged snapshot: delete only the files the stage
        wrote (version-tagged names), never carryover files owned by
        published manifests."""
        self._remove_staged(staged.version, staged.files)

    def overwrite(self, df: DataFrame, partition_by=None) -> int:
        """Full-content overwrite as a NEW snapshot version (Delta
        ``mode=overwrite`` on an existing table): replaces the logical
        contents while PRESERVING history — unlike :meth:`create`,
        nothing is rmtree'd, so time travel to every pre-overwrite
        snapshot keeps working until retention vacuums it.  This is
        the correct drain for complete-mode streaming sinks
        (streaming/events.py): each micro-batch commits one version
        and a reader pinned to version N is never torn out from under
        its scan.  Prior DV pointers carry but are inert (they
        reference files the new manifest no longer lists); CHECK
        constraints, bloom config, generated and mapped columns carry
        like every other commit, and generated columns are
        (re)materialized or validated against the new rows."""
        prev_v = self.version()
        m = self._manifest(prev_v)
        pb = (
            list(partition_by)
            if partition_by is not None
            else list(m["partition_by"])
        )
        generated = dict(m.get("generated", {}))
        df, provided = _apply_generated(df, generated)
        new_v = prev_v + 1
        files = self._stage_checked(df, new_v, pb, "overwrite", provided)
        self._commit_version(
            new_v, "overwrite", pb, files, df.schema, generated=generated
        )
        self._vacuum(keep=self.retain_versions)
        return new_v

    def delete(self, spark: SparkSession, condition: F.Column) -> int:
        """Keyed/predicate DELETE (Delta ``DELETE FROM t WHERE cond``
        parity; the reference never deletes, but a lakehouse table
        without DELETE can't serve GDPR-style erasure).

        SQL semantics: a row is deleted only where ``condition`` is
        TRUE; rows where it evaluates NULL (e.g. a NULL column in a
        comparison) are KEPT. Copy-on-write, partition-scoped: only
        partitions containing a TRUE row are rewritten; time travel to
        the pre-delete snapshot works until vacuum."""
        prev_v = self.version()
        m = self._manifest(prev_v)
        partition_by: list[str] = m["partition_by"]
        target = self.read(spark)
        cond_true = F.coalesce(condition, F.lit(False))

        carry: list[str] = []
        touched_dirs: set[str] | None = None
        if partition_by:
            target, carry, touched_dirs = self._scope_to_touched(
                target,
                m["files"],
                partition_by,
                target.filter(cond_true).select(*partition_by).distinct(),
            )
        kept = target.filter(~cond_true)
        new_version = prev_v + 1
        new_files = self._stage_files(
            kept, new_version, partition_by, allowed_dirs=touched_dirs
        )
        self._commit_version(
            new_version,
            "delete",
            partition_by,
            sorted(carry + new_files),
            StructType.fromJson(m["schema"]),
        )
        self._vacuum(keep=self.retain_versions)
        return new_version

    def changes(
        self,
        spark: SparkSession,
        key: Iterable[str],
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Change-data-feed between two versions (Delta CDF parity):
        returns the changed rows with a ``_change_type`` column in
        {insert, delete, update_pre, update_post}.

        Immutable file-list manifests make this O(changed files), not
        O(table): a carried-over file is bit-identical in both versions
        and cannot contain a change, so only files REMOVED since
        ``from_version`` (old row versions) and files ADDED (new row
        versions) are read. Rewritten partitions copy their unchanged
        rows into new files; a content-level ``exceptAll`` inside the
        touched files cancels those copies, leaving real changes.
        Classification joins on ``key``: present on both sides →
        update_pre/update_post, new side only → insert, old side only
        → delete. Requires both versions' files to still exist — set
        ``retain_versions`` above the default 2 to keep a longer
        change-feed horizon."""
        key = list(key)
        to_v = self.version() if to_version is None else to_version
        m_from, m_to = self._manifest(from_version), self._manifest(to_v)
        files_from, files_to = set(m_from["files"]), set(m_to["files"])
        schema = StructType.fromJson(m_to["schema"])
        cols = [f.name for f in schema.fields]

        def _read(files: set[str], manifest: dict) -> DataFrame:
            sch = StructType.fromJson(manifest["schema"])
            if not files:
                return spark.createDataFrame([], sch)
            paths = [os.path.join(self.data_dir, f) for f in sorted(files)]
            df = (
                spark.read.option("basePath", self.data_dir)
                .schema(sch)
                .parquet(*paths)
            )
            # each side's DELETION-VECTOR state applies to its bytes: a
            # row already DV'd at `manifest` logically doesn't exist in
            # that snapshot and must not enter the diff
            df = self._apply_dv(spark, df, manifest)
            # align to the to-version schema (evolution adds columns;
            # old files read them as NULL)
            for f in schema.fields:
                if f.name not in df.columns:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            return df.select(*cols)

        old = _read(files_from - files_to, m_from)
        new = _read(files_to - files_from, m_to)
        old_only = old.exceptAll(new)
        new_only = new.exceptAll(old)
        old_keys = old_only.select(*key).distinct()
        new_keys = new_only.select(*key).distinct()
        updates_pre = old_only.join(new_keys, on=key, how="left_semi").withColumn(
            "_change_type", F.lit("update_pre")
        )
        deletes = old_only.join(new_keys, on=key, how="left_anti").withColumn(
            "_change_type", F.lit("delete")
        )
        updates_post = new_only.join(old_keys, on=key, how="left_semi").withColumn(
            "_change_type", F.lit("update_post")
        )
        inserts = new_only.join(old_keys, on=key, how="left_anti").withColumn(
            "_change_type", F.lit("insert")
        )
        feed = (
            updates_pre.unionByName(updates_post)
            .unionByName(inserts)
            .unionByName(deletes)
        )
        # deletion-vector delta on CARRIED files: bytes identical in
        # both versions, so the file diff is blind to them — pointer
        # additions hydrate as deletes, pointer removals (a restore to
        # a pre-DV snapshot) as inserts.  Pointers into added/removed
        # files are already covered by the file diff (each side read
        # its own DV state) and are excluded here by the semi-join
        # against carried bytes.
        carried = files_from & files_to
        dvf, dvt = self._dv_df(spark, m_from), self._dv_df(spark, m_to)
        if carried and (dvf is not None or dvt is not None):
            empty = spark.createDataFrame([], self._DV_SCHEMA)
            dvf = empty if dvf is None else dvf
            dvt = empty if dvt is None else dvt
            snap = self._scan_files(spark, sorted(carried), m_to).select(
                "*",
                F.col("_metadata.file_path").alias("__fp"),
                F.col("_metadata.row_index").alias("__ri"),
            )

            def hydrate(pointers: DataFrame, change: str) -> DataFrame:
                return (
                    snap.join(
                        F.broadcast(
                            pointers.select(
                                F.col("file_path").alias("__fp"),
                                F.col("row_index").alias("__ri"),
                            )
                        ),
                        ["__fp", "__ri"],
                        "left_semi",
                    )
                    .select(*cols)
                    .withColumn("_change_type", F.lit(change))
                )

            feed = feed.unionByName(
                hydrate(dvt.exceptAll(dvf), "delete")
            ).unionByName(hydrate(dvf.exceptAll(dvt), "insert"))
        return feed

    def append(self, spark: SparkSession, source: DataFrame) -> int:
        """Blind INSERT ALL (Delta ``mode("append")`` parity): stage the
        source rows as NEW files and commit prev ∪ new — no key
        matching, no rewrite, no read of existing data.  The O(new
        rows) ingest path (MERGE is O(touched partitions)); the cost is
        small-file accumulation, which incremental
        ``optimize(max_file_bytes=...)`` repays."""
        prev_v = self.version()
        m = self._manifest(prev_v)
        partition_by: list[str] = m["partition_by"]
        schema = StructType.fromJson(m["schema"])
        source, provided = _apply_generated(source, m.get("generated", {}))
        if set(source.columns) != {f.name for f in schema.fields}:
            raise ValueError(
                f"append schema mismatch: table {sorted(f.name for f in schema.fields)} "
                f"vs source {sorted(source.columns)}"
            )
        source = source.select(*[f.name for f in schema.fields])
        new_version = prev_v + 1
        new_files = self._stage_checked(
            source, new_version, partition_by, "append", provided
        )
        self._commit_version(
            new_version,
            "append",
            partition_by,
            sorted(list(m["files"]) + new_files),
            schema,
        )
        self._vacuum(keep=self.retain_versions)
        return new_version

    def restore(self, spark: SparkSession, version: int) -> int:
        """``RESTORE TABLE ... TO VERSION AS OF v`` (Delta parity):
        commit a NEW version whose file list is the target snapshot's —
        a metadata-only rollback (no data movement, history preserved,
        the bad versions stay queryable for forensics).  Only possible
        while the target's files survive vacuum: with the default
        ``retain_versions=2`` that means the previous version; raise
        retention for a deeper rollback horizon.  Restoring to a
        vacuumed snapshot raises instead of committing a manifest whose
        files are gone."""
        prev_v = self.version()
        m = self._manifest(version)
        missing = [
            f
            for f in m["files"]
            if not os.path.exists(os.path.join(self.data_dir, f))
        ]
        if missing:
            raise ValueError(
                f"cannot restore {self.path} to v{version}: "
                f"{len(missing)} of its files were vacuumed "
                f"(first: {missing[0]}); raise retain_versions to keep "
                "a deeper rollback horizon"
            )
        new_version = prev_v + 1
        self._commit_version(
            new_version,
            "restore",
            m["partition_by"],
            list(m["files"]),
            StructType.fromJson(m["schema"]),
            # the restored snapshot's metadata state, not the current
            # one's: without these explicit passes _commit_version
            # carries the CURRENT version's column_mapping /
            # dropped_physical / constraints / bloom / generated, so a
            # restore across rename_column/drop_column would pair the
            # OLD schema with the NEW mapping — reads then rename
            # physical columns to the wrong logical names and every
            # later append fails the schema check
            dv_dirs=list(m.get("dv_dirs", [])),
            constraints=dict(m.get("constraints", {})),
            bloom_config=dict(m.get("bloom", {})),
            generated=dict(m.get("generated", {})),
            column_mapping=dict(m.get("column_mapping", {})),
            dropped_physical=list(m.get("dropped_physical", [])),
        )
        self._vacuum(keep=self.retain_versions)
        return new_version

    def optimize(
        self,
        spark: SparkSession,
        target_partitions: int = 1,
        cluster_by: Iterable[str] = (),
        zorder_by: Iterable[str] = (),
        max_file_bytes: int | None = None,
        where: list[tuple] | None = None,
    ) -> int:
        """Small-file compaction (Delta ``OPTIMIZE`` parity). Streaming
        merges and per-batch upserts accumulate many small parquet
        files; at scale each file under ~100 MB costs a task and an
        open/close round-trip per scan. Rewrites the current snapshot
        into ``target_partitions`` files per partition directory
        (coalesce — no shuffle, pure bin-packing) and commits it as a
        new version. Result-transparent: rows and schema unchanged.

        ``cluster_by`` adds data clustering (Delta ``OPTIMIZE ZORDER
        BY`` analog, Spark-native): rows are range-partitioned and
        sorted on the given columns, so each output file owns a
        disjoint value range and parquet min/max footer stats let a
        predicate on those columns skip whole files — the scan-pruning
        effect ZORDER buys, via the one-dimensional clustering Spark
        expresses directly. Costs one range shuffle (vs coalesce's
        none); worth it for tables served by range-predicate scans.

        ``zorder_by`` is the multi-dimensional variant (Delta
        ``OPTIMIZE ZORDER BY (a, b)`` parity): each column is mapped to
        a 16-bucket quantile rank (driver-side ``approxQuantile``
        boundaries — a tiny GK sketch pass, never a window over the
        table), the per-column 4-bit ranks are bit-interleaved into one
        z-value, and files are range-partitioned + sorted on it. Every
        output file then owns a compact hyper-rectangle of the clustered
        space, so parquet min/max footer stats prune files for
        predicates on ANY of the columns — the property linear
        ``cluster_by`` only gives the leading column. Numeric columns
        only (quantile ranks need an ordered domain); one extra scan for
        the sketch + the same single range shuffle as ``cluster_by``.

        ``max_file_bytes`` switches to INCREMENTAL compaction (Delta's
        actual OPTIMIZE semantics — it only rewrites files below
        minFileSize): only files smaller than the threshold are read
        and rebinned; files already at healthy size carry over BY
        REFERENCE, so repeated OPTIMIZE after append-heavy ingest is
        O(small files), not O(table).  Plain compaction only
        (clustering must see every row, so ``cluster_by``/``zorder_by``
        reject the flag); a snapshot with fewer than two small files
        is already optimal and returns the current version without
        committing.

        ``where`` scopes the rewrite to PARTITIONS (Delta ``OPTIMIZE
        ... WHERE`` parity: predicates may reference partition columns
        only): ``[("part", "=", "b")]``-style tuples select the scope
        via the manifest's exact per-partition [v, v] stats; every file
        outside the scope carries by reference untouched.  The daily
        shape at 100 TB — compact or re-cluster yesterday's partition
        without reading the other 364."""
        prev_v = self.version()
        m = self._manifest(prev_v)
        partition_by: list[str] = m["partition_by"]
        cluster_by = list(cluster_by)
        zorder_by = list(zorder_by)
        if cluster_by and zorder_by:
            raise ValueError("pass cluster_by or zorder_by, not both")
        if where:
            bad = [c for c, _op, _v in where if c not in partition_by]
            if bad:
                raise ValueError(
                    f"optimize where= may reference partition columns "
                    f"{partition_by} only, got {bad} (a non-partition "
                    "predicate cannot scope whole-file rewrites exactly)"
                )
            scope = set(self.prune_files(list(where), version=prev_v))
            if not scope:
                return prev_v  # no partition matches: nothing to do
        else:
            scope = set(m["files"])
        carried_out = [f for f in m["files"] if f not in scope]
        if max_file_bytes is not None:
            if cluster_by or zorder_by:
                raise ValueError(
                    "max_file_bytes is incremental plain compaction; "
                    "clustering rewrites every row — drop one or the other"
                )
            schema = StructType.fromJson(m["schema"])
            small = [
                f
                for f in m["files"]
                if f in scope
                and os.path.getsize(os.path.join(self.data_dir, f))
                < max_file_bytes
            ]
            if len(small) < 2:
                return prev_v  # nothing worth compacting
            carry = [f for f in m["files"] if f not in set(small)]
            # DV-aware: compacting a file with deletion-vector pointers
            # must not resurrect its deleted rows (pointers for the
            # compacted files become inert; carried files' stay live)
            small_df = self._apply_dv(
                spark, self._scan_files(spark, small, m), m
            )
            compacted = small_df.coalesce(target_partitions)
            new_version = prev_v + 1
            new_files = self._stage_files(compacted, new_version, partition_by)
            self._commit_version(
                new_version,
                "optimize",
                partition_by,
                sorted(carry + new_files),
                schema,
                # if nothing carried, every deletion-vector pointer was
                # materialized by this rewrite; with carryover the
                # carried files' pointers must survive (default)
                dv_dirs=[] if not carry else None,
            )
            self._vacuum(keep=self.retain_versions)
            return new_version
        if where:
            snapshot = self._apply_dv(
                spark,
                self._scan_files(
                    spark, [f for f in m["files"] if f in scope], m
                ),
                m,
            )
        else:
            snapshot = self.read(spark)
        if zorder_by:
            z = _zvalue(snapshot, zorder_by)
            compacted = (
                snapshot.withColumn("__z", z)
                .repartitionByRange(target_partitions, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif cluster_by:
            cols = [F.col(c) for c in cluster_by]
            compacted = snapshot.repartitionByRange(
                target_partitions, *cols
            ).sortWithinPartitions(*cols)
        else:
            compacted = snapshot.coalesce(target_partitions)
        new_version = prev_v + 1
        new_files = self._stage_files(compacted, new_version, partition_by)
        self._commit_version(
            new_version,
            "optimize",
            partition_by,
            sorted(carried_out + new_files),
            StructType.fromJson(m["schema"]),
            # a whole-table rewrite materializes every deletion vector
            # away; a where-scoped one must keep pointers for the
            # carried partitions (pointers for rewritten files are
            # inert — the anti-join matches nothing)
            dv_dirs=[] if not carried_out else None,
        )
        self._vacuum(keep=self.retain_versions)
        return new_version

    def _vacuum(self, keep: int = 2) -> None:
        """Delete data files referenced by no manifest in the newest
        ``keep`` versions (log entries are kept — history stays
        queryable as metadata). Files shared across versions via
        partition-scoped carry-over survive as long as any kept
        manifest references them."""
        vs = self._versions()
        referenced: set[str] = set()
        for v in vs[-keep:]:
            referenced.update(self._manifest(v)["files"])
        if not os.path.isdir(self.data_dir):
            return
        for root, _dirs, fnames in os.walk(self.data_dir, topdown=False):
            for fname in fnames:
                rel = os.path.relpath(os.path.join(root, fname), self.data_dir)
                if rel.replace(os.sep, "/") not in referenced:
                    os.remove(os.path.join(root, fname))
            if root != self.data_dir and not os.listdir(root):
                os.rmdir(root)
        # Orphaned write-attempt artifacts: a writer that crashed
        # between staging and publish leaves uuid-named tmp files
        # (.vN-XXXX.json.tmp, .vN.stats-XXXX.parquet.tmp) and
        # .stage_vN-XXXX dirs that no commit references and no retry
        # overwrites (every attempt stages a fresh uuid) — unbounded
        # garbage for a long-lived sink retrying across crashes. Age-
        # gate the sweep so a LIVE concurrent writer's in-flight
        # staging (seconds old) is never swept.
        import time as _time

        grace = 900.0
        now = _time.time()
        if os.path.isdir(self.log_dir):
            for fname in os.listdir(self.log_dir):
                p = os.path.join(self.log_dir, fname)
                try:
                    if (
                        fname.endswith(".tmp")
                        and now - os.path.getmtime(p) > grace
                    ):
                        os.remove(p)
                except OSError:
                    pass  # concurrent sweep/publish won the race
        def _newest_mtime(root_dir: str) -> float:
            """Newest mtime anywhere UNDER the dir, not the top-level
            dir's own: a partitioned _stage_files write creates the
            partition subdirs early and then streams files into them,
            so the top-level mtime goes stale minutes before the write
            finishes — sweeping on it can rmtree a LIVE >15-min
            staging out from under its writer (round-7 advice).  Any
            file or subdir touched inside the window proves the
            staging is alive."""
            newest = 0.0
            try:
                newest = os.path.getmtime(root_dir)
            except OSError:
                return now  # racing writer/sweeper: treat as live
            for r, dirs, fnames in os.walk(root_dir):
                for entry in dirs + fnames:
                    try:
                        newest = max(
                            newest, os.path.getmtime(os.path.join(r, entry))
                        )
                    except OSError:
                        newest = now  # vanished mid-walk: live churn
            return newest

        for fname in os.listdir(self.path):
            p = os.path.join(self.path, fname)
            try:
                if (
                    fname.startswith(".stage_v")
                    and os.path.isdir(p)
                    and now - _newest_mtime(p) > grace
                ):
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass


class StagedCommit:
    """A fully-written but uncommitted snapshot (write-audit-publish).

    Holds everything :meth:`LakeTable.publish` needs to make it the
    next version; :meth:`read` serves the candidate snapshot for audit
    queries without any manifest existing for it."""

    def __init__(
        self,
        table: "LakeTable",
        version: int,
        operation: str,
        partition_by: list[str],
        files: list[str],
        schema: StructType,
    ):
        self.table = table
        self.version = version
        self.operation = operation
        self.partition_by = partition_by
        self.files = files
        self.schema = schema

    def read(self, spark: SparkSession) -> DataFrame:
        """The candidate snapshot exactly as it would read after
        publish (same pinned-schema file-list scan as
        :meth:`LakeTable.read`)."""
        if not self.files:
            return spark.createDataFrame([], self.schema)
        paths = [os.path.join(self.table.data_dir, f) for f in self.files]
        return (
            spark.read.option("basePath", self.table.data_dir)
            .schema(self.schema)
            .parquet(*paths)
        )


def create_or_merge(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: Iterable[str],
    partition_by: Iterable[str] = (),
    latest_by: str | None = None,
) -> LakeTable:
    """The reference's branch: isDeltaTable ? MERGE : initial write
    (jobs/order_glue_job.py:149-158)."""
    if LakeTable.is_table(path):
        t = LakeTable(path)
        t.merge(spark, df, key, latest_by=latest_by)
        return t
    return LakeTable.create(df, path, partition_by)
