"""Transaction-log table format (SURVEY.md §2.1 S7, §2.10 M1) — a
from-scratch lakehouse commit protocol, since neither Delta nor Iceberg
runtimes exist in this environment. Implements the semantics the reference
delegates to Iceberg (``bronze_compaction.py:125-136`` ``writeTo(...)
.createOrReplace()``; dbt ``incremental_strategy: merge``) with the same
mechanics those formats use:

- **Versioned JSON log** (``_txnlog/<version>.json``): each commit records
  the parquet files it adds/removes plus the schema. A snapshot at version
  V is (Σ adds − Σ removes) over commits ≤ V — readers never list data
  directories.
- **Atomic, optimistic commits**: a commit is published by hard-linking a
  temp file to the next version number — ``os.link`` fails if the version
  exists (rename-without-overwrite, the same primitive Delta uses on HDFS).
  Losers re-read the log and retry. Conflict rules are operation-aware
  (Delta's model): blind appends always retry cleanly; MERGE/replace
  conflicts on ANY intervening file-set change (a concurrent append may
  hold rows for keys the merge resolved); compaction conflicts only when a
  file it rewrites was itself removed.
- **Exactly-once by txn id**: a commit carrying an ``app_txn_id`` already
  present in the log is a no-op — at-least-once callers (foreachBatch
  retries, S12 incremental re-runs) can re-commit blindly.
- **Copy-on-write MERGE at file granularity**: only data files that contain
  a matched key are rewritten; untouched files carry over by reference.
  File discovery here scans with ``input_file_name`` + a broadcast semi-join
  (exact); at 100 TB the log's per-file min/max key stats prune candidate
  files without a scan — the commit protocol is identical.
- **Merge-on-read DELETE via deletion vectors** (Delta DVs / Iceberg
  positional deletes): ``delete_where_mor`` records matching rows'
  physical positions in a parquet sidecar keyed by (dv_id, file, pos) and
  reads anti-apply it — a selective delete costs metadata, not file
  rewrites. DVs are cumulative per file; any COW rewrite (OPTIMIZE,
  MERGE, DELETE) of a vectored file materializes the vector away, and
  concurrent-writer rules treat a DV like the row change it is (MERGE
  conflicts on an intervening DV; compaction conflicts if a file it read
  was re-vectored).
- **Time travel**: ``read(version=N)`` reconstructs any historical
  snapshot; ``history()`` lists commits.
- **OPTIMIZE-style compaction**: rewrite the active file set into fewer
  files as one add/remove commit — readers at older versions are
  unaffected.
- **Log checkpoints** (Delta's checkpoint mechanism): every
  ``checkpoint_interval`` commits, the full reconstructed state — active
  file list, per-file stats, schema, seen txn ids — is written as ONE
  parquet file (``<version>.checkpoint.parquet``) with a
  ``_last_checkpoint`` pointer. Snapshot reconstruction then reads the
  checkpoint plus only the tail commits after it, instead of replaying
  every JSON commit since version 0 — O(tail) driver work at
  streaming-ingest commit rates, not O(#commits). ``expire_log()``
  deletes pre-checkpoint commit files (bounding the directory listing
  too), which limits time travel to post-checkpoint versions — the
  Delta/Iceberg log-retention model. The checkpoint is parquet precisely
  so that at 100 TB (millions of file entries) it can be written and read
  by a distributed job instead of the driver without a format change;
  driver-side pyarrow here mirrors Delta's driver-side snapshot
  reconstruction at moderate file counts.

Files are stored unpartitioned under per-commit directories: file-level
add/remove (plus, at scale, per-file column stats in the log) replaces
hive directory partitioning — the Delta/Iceberg layout. ``partition_by``
therefore clusters rows into files by the given columns (repartition before
write) so file-granular pruning and rewrite stay selective.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..operators.merge import merge_upsert
from .table_format import TableSink
from ..lineage import lineage_cut, lineage_cut_eager, release

_LOG_DIR = "_txnlog"
_DATA_DIR = "data"
_DV_DIR = "_dv"
_CHECKPOINT_PTR = "_last_checkpoint"


_OPS = ("=", "in", "<", "<=", ">", ">=", "isnull", "isnotnull")


def _bloom_absent(entry: dict, value) -> bool:
    """True when the per-file bloom PROVES ``value`` is absent. The word
    layout and md5-derived positions mirror ``operators/bloom.py`` (which
    mirrors Spark's cast-to-string of the key) exactly — int/string keys
    only; anything else was never bloom-indexed. No false negatives, so
    skipping on a definite miss is sound."""
    import hashlib

    m, k, words = entry["m"], entry["k"], entry["words"]
    # Only int/str probe values render identically under Python str() and
    # Spark's cast-to-string (the hash input the index was built from). A
    # float/bool/date probe (str(57.0)='57.0' vs indexed '57') would hash
    # to the wrong positions and "prove" absence of present keys — for
    # those, the bloom abstains and min/max + residual filter decide.
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        return False
    s = str(value)
    for i in range(k):
        p = (
            int(hashlib.md5(f"bloom_{i}_{s}".encode()).hexdigest()[:8], 16) % m
        )
        if not (words[p // 64] >> (p % 64)) & 1:
            return True
    return False


def _skip_by_stats(
    files: list[str], stats: dict, where: Sequence[tuple]
) -> list[str]:
    """Files that COULD satisfy every predicate, judged only from recorded
    per-file stats: [min, max] bounds for range/equality ops, per-column
    null counts (``__nulls``) plus the file row count (``__rows``) for
    ``isnull`` / ``isnotnull`` (Delta's nullCount skipping), and per-file
    bloom words (``__bloom``, Delta's bloom filter index) for ``=`` probes
    on high-cardinality columns whose [min, max] can't discriminate.
    Conservative by construction: a file with no stats for a predicate's
    column is always kept, and only provable disjointness drops a file —
    so pruning never changes results, only the scan list."""
    kept = []
    for f in files:
        fs = stats.get(f) or {}
        nulls = fs.get("__nulls") or {}
        rows = fs.get("__rows")
        drop = False
        for col, op, val in where:
            if op not in _OPS:
                raise ValueError(f"unsupported predicate op: {op!r}")
            if op == "isnull":
                if nulls.get(col) == 0:
                    drop = True
                    break
                continue
            if op == "isnotnull":
                n = nulls.get(col)
                if n is not None and rows is not None and n == rows:
                    drop = True  # every value NULL: nothing non-null inside
                    break
                continue
            # a range/equality predicate is never satisfied by NULL: an
            # all-null file is unsatisfiable even without [min, max]
            n = nulls.get(col)
            if n is not None and rows is not None and n == rows:
                drop = True
                break
            if op == "=" and val is not None:
                bl = (fs.get("__bloom") or {}).get(col)
                if bl and _bloom_absent(bl, val):
                    drop = True
                    break
            if op == "in":
                vals = [v for v in (val or []) if v is not None]
                if not vals:
                    drop = True  # IN () / IN (NULL,...) matches nothing
                    break
                bounds = fs.get(col)
                bl = (fs.get("__bloom") or {}).get(col)

                def _possible(v):
                    if bl and _bloom_absent(bl, v):
                        return False
                    if bounds and bounds[0] is not None and bounds[1] is not None:
                        return bounds[0] <= v <= bounds[1]
                    return True

                if not any(_possible(v) for v in vals):
                    drop = True
                    break
                continue
            bounds = fs.get(col)
            if bounds is None or val is None:
                continue
            lo, hi = bounds
            if lo is None or hi is None:
                continue
            if (
                (op == "=" and (val < lo or val > hi))
                or (op == "<" and lo >= val)
                or (op == "<=" and lo > val)
                or (op == ">" and hi <= val)
                or (op == ">=" and hi < val)
            ):
                drop = True
                break
        if not drop:
            kept.append(f)
    return kept


def _predicate_expr(where: Sequence[tuple]) -> Column:
    """The residual filter equivalent to the conjunction of ``where``."""
    expr = F.lit(True)
    for col, op, val in where:
        c = F.col(col)
        if op == "in":
            # SQL IN semantics: NULL values in the set match nothing; an
            # empty (or all-NULL) set matches nothing at all.
            vals = [v for v in (val or []) if v is not None]
            cond = c.isin(*vals) if vals else F.lit(False)
        else:
            cond = {
                "=": c == F.lit(val),
                "<": c < F.lit(val),
                "<=": c <= F.lit(val),
                ">": c > F.lit(val),
                ">=": c >= F.lit(val),
                "isnull": c.isNull(),
                "isnotnull": c.isNotNull(),
            }[op]
        expr = expr & cond
    return expr


class ConstraintViolation(RuntimeError):
    """Incoming rows (or, for ADD CONSTRAINT, existing rows) fail a CHECK
    constraint — the write is rejected before any commit is attempted."""


class CommitConflict(RuntimeError):
    """A concurrent commit invalidated this one: for MERGE/replace, ANY
    intervening change to the file set (an append may hold rows for keys
    the merge already resolved); for compaction, one of the files it
    rewrites was already removed. Re-run the operation from a fresh
    snapshot."""


class TxnLogTable:
    """One log-backed table rooted at ``path``.

    ``stat_cols``: columns to record per-file min/max for in every commit —
    the data-skipping stats MERGE uses to prune candidate files without
    scanning them (Delta/Iceberg file statistics). Collecting them costs one
    aggregate over the just-written files at commit time.
    """

    def __init__(
        self,
        path: str,
        stat_cols: Sequence[str] = (),
        checkpoint_interval: int = 10,
        bloom_cols: Sequence[str] = (),
        bloom_m_bits: int = 4096,
        bloom_k: int = 4,
    ) -> None:
        self.path = path.rstrip("/")
        self.log_dir = os.path.join(self.path, _LOG_DIR)
        self.stat_cols = tuple(stat_cols)
        # Per-file bloom filter index (Delta's bloomFilterIndex): point
        # lookups (``=``) on these columns prune files whose bloom proves
        # the key absent — the skipping [min, max] can't provide on
        # high-cardinality columns the layout is NOT clustered by.
        # int/string columns only (the probe reproduces Spark's
        # cast-to-string hashing in Python).
        if bloom_m_bits % 64:
            raise ValueError("bloom_m_bits must be a multiple of 64")
        self.bloom_cols = tuple(bloom_cols)
        self.bloom_m_bits = bloom_m_bits
        self.bloom_k = bloom_k
        # A checkpoint is auto-written after every Nth commit (0 disables).
        self.checkpoint_interval = checkpoint_interval
        # Published commit files are immutable, so parsed JSON is cached
        # per-instance; the directory listing itself is never cached (it is
        # how concurrent writers become visible). LRU-bounded: a long-lived
        # driver scanning many historical versions (history(), time travel,
        # CDC polling) must not grow memory with the log — recency covers
        # the hot tail, misses re-read a small JSON file.
        self._commit_cache: dict[int, dict] = {}
        self._commit_cache_cap = 512

    # -- log primitives ----------------------------------------------------

    _VERSION_FILE = re.compile(r"^(\d{20})\.json$")

    def _versions(self) -> list[int]:
        # Only exact 20-digit version files count: a stray hand-dropped
        # metadata.json / editor artifact in _txnlog/ must not brick reads.
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for f in os.listdir(self.log_dir):
            m = self._VERSION_FILE.match(f)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def _commit_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:020d}.json")

    def _read_commit(self, version: int) -> dict:
        c = self._commit_cache.pop(version, None)  # pop+reinsert = LRU touch
        if c is None:
            with open(self._commit_path(version)) as f:
                c = json.load(f)
            while len(self._commit_cache) >= self._commit_cache_cap:
                # dicts iterate in insertion order: the first key is the
                # least-recently-touched entry
                self._commit_cache.pop(next(iter(self._commit_cache)))
        self._commit_cache[version] = c
        return c

    def _commits(self, upto: int | None = None) -> list[dict]:
        return [
            self._read_commit(v)
            for v in self._versions()
            if upto is None or v <= upto
        ]

    def version(self) -> int:
        """Latest committed version, -1 for an empty/new table."""
        vs = self._versions()
        return vs[-1] if vs else -1

    def exists(self) -> bool:
        return self.version() >= 0

    # -- checkpoints -------------------------------------------------------

    @staticmethod
    def _empty_state() -> dict:
        return {
            "active": {},
            "stats": {},
            "dvs": {},
            "constraints": {},
            # Column mapping (Delta column-mapping mode): logical name →
            # PHYSICAL name as stored in parquet. Physical names never
            # change once written, so RENAME is a metadata edit and every
            # historical file stays readable under any later mapping.
            # Identity entries are omitted. "dropped" tombstones physical
            # names of dropped columns so a later same-named add can't
            # resurrect old data out of pre-drop files.
            "colmap": {},
            "dropped": [],
            # Generated columns (Delta GENERATED ALWAYS AS): logical column
            # name → SQL expression. Write paths compute the column when the
            # incoming frame omits it and validate it when provided.
            "generated": {},
            # Clustering spec (Iceberg partition-spec evolution, Delta
            # liquid-clustering ALTER CLUSTER BY): the CURRENT layout hint
            # new files are clustered by. Files written under older specs
            # stay as-is — pruning is stats-based, never path-based, so
            # evolving the spec is one metadata commit, zero rewrites.
            "clustering": [],
            # Column DEFAULTs (Delta ALTER TABLE ADD COLUMN ... DEFAULT):
            # logical column name → LITERAL SQL expression. Reads coalesce
            # the physical column through the default (files predating the
            # column read the default, Delta's existsDefault) and write
            # paths fill the column when omitted or NULL — so the default
            # is total: a defaulted column never surfaces NULL.
            "defaults": {},
            "schema": None,
            "txn_ids": set(),
        }

    @staticmethod
    def _apply_commit(state: dict, c: dict) -> None:
        for f in c.get("removes", []):
            state["active"].pop(f, None)
            state["stats"].pop(f, None)
            state["dvs"].pop(f, None)  # a rewrite materializes the DV
        for f in c.get("adds", []):
            state["active"][f] = None
        for f, s in (c.get("stats") or {}).items():
            if f in state["active"]:
                state["stats"][f] = s
        # Deletion-vector assignments: data file → DV directory holding its
        # CURRENT (cumulative) deleted-position set; an explicit null
        # CLEARS the assignment (RESTORE undoing a MOR delete).
        for f, d in (c.get("dvs") or {}).items():
            if d is None:
                state["dvs"].pop(f, None)
            elif f in state["active"]:
                state["dvs"][f] = d
        if c.get("schema") is not None:
            state["schema"] = c["schema"]
        # CHECK constraints: a commit carrying the field REPLACES the set.
        if c.get("constraints") is not None:
            state["constraints"] = dict(c["constraints"])
        if c.get("colmap") is not None:
            state["colmap"] = dict(c["colmap"])
        if c.get("dropped") is not None:
            state["dropped"] = list(c["dropped"])
        if c.get("generated") is not None:
            state["generated"] = dict(c["generated"])
        if c.get("clustering") is not None:
            state["clustering"] = list(c["clustering"])
        if c.get("defaults") is not None:
            state["defaults"] = dict(c["defaults"])
        if c.get("app_txn_id") is not None:
            state["txn_ids"].add(c["app_txn_id"])

    def _checkpoint_info(self) -> tuple[int, str] | None:
        """(version, absolute path) of the last valid checkpoint, if any."""
        ptr = os.path.join(self.log_dir, _CHECKPOINT_PTR)
        try:
            with open(ptr) as f:
                d = json.load(f)
            v = int(d["version"])
            p = os.path.join(self.log_dir, str(d["file"]))
            if os.path.isfile(p):
                return v, p
        except (OSError, ValueError, KeyError):
            pass  # missing/corrupt pointer degrades to a full log replay
        return None

    def _load_checkpoint(self, path: str) -> dict:
        import pyarrow.parquet as pq

        state = self._empty_state()
        adds = []
        for r in pq.read_table(path).to_pylist():
            kind = r["kind"]
            if kind == "add":
                adds.append(r)
            elif kind == "txn":
                state["txn_ids"].add(r["app_txn_id"])
            elif kind == "constraint":
                state["constraints"][r["path"]] = r["sql"]
            elif kind == "colmap":
                state["colmap"][r["path"]] = r["physical"]
            elif kind == "dropped":
                state["dropped"].append(r["physical"])
            elif kind == "generated":
                state["generated"][r["path"]] = r["sql"]
            elif kind == "clustering":
                state["clustering"].append((r["ord"], r["path"]))
            elif kind == "default":
                state["defaults"][r["path"]] = r["sql"]
            elif kind == "schema":
                state["schema"] = r["schema_json"]
        if state["clustering"]:
            state["clustering"] = [
                c for _, c in sorted(state["clustering"])
            ]
        for r in sorted(adds, key=lambda r: r["ord"]):
            state["active"][r["path"]] = None
            if r["stats"]:
                state["stats"][r["path"]] = json.loads(r["stats"])
            # Pre-DV checkpoints have no "dv" column; .get keeps them readable.
            if r.get("dv"):
                state["dvs"][r["path"]] = r["dv"]
        return state

    def checkpoint(self, version: int | None = None) -> str:
        """Write a parquet checkpoint of the full reconstructed state at
        ``version`` (default: latest) and advance ``_last_checkpoint``.
        Returns the checkpoint file path."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        v = self.version() if version is None else version
        if v < 0:
            raise ValueError("cannot checkpoint an empty table")
        state = self._state(v)
        rows: list[dict] = []
        if state["schema"] is not None:
            rows.append({"kind": "schema", "schema_json": state["schema"]})
        for i, f in enumerate(state["active"]):
            s = state["stats"].get(f)
            rows.append(
                {
                    "kind": "add",
                    "path": f,
                    "ord": i,
                    "stats": json.dumps(s) if s else None,
                    "dv": state["dvs"].get(f),
                }
            )
        rows.extend(
            {"kind": "txn", "app_txn_id": t} for t in sorted(state["txn_ids"])
        )
        rows.extend(
            {"kind": "constraint", "path": n, "sql": s}
            for n, s in sorted(state["constraints"].items())
        )
        rows.extend(
            {"kind": "colmap", "path": lg, "physical": ph}
            for lg, ph in sorted(state["colmap"].items())
        )
        rows.extend(
            {"kind": "dropped", "physical": ph} for ph in sorted(state["dropped"])
        )
        rows.extend(
            {"kind": "generated", "path": n, "sql": s}
            for n, s in sorted(state["generated"].items())
        )
        rows.extend(
            {"kind": "clustering", "path": c, "ord": i}
            for i, c in enumerate(state["clustering"])
        )
        rows.extend(
            {"kind": "default", "path": n, "sql": s}
            for n, s in sorted(state["defaults"].items())
        )
        schema = pa.schema(
            [
                ("kind", pa.string()),
                ("path", pa.string()),
                ("ord", pa.int64()),
                ("stats", pa.string()),
                ("dv", pa.string()),
                ("sql", pa.string()),
                ("physical", pa.string()),
                ("app_txn_id", pa.string()),
                ("schema_json", pa.string()),
            ]
        )
        name = f"{v:020d}.checkpoint.parquet"
        final = os.path.join(self.log_dir, name)
        tmp = os.path.join(self.log_dir, f".tmp-ckpt-{uuid.uuid4().hex}")
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
        os.replace(tmp, final)
        # Advance the pointer only forward: a lost race between two
        # checkpointers can at worst leave an OLDER pointer (extra tail
        # replay), never an invalid one — both files stay on disk.
        existing = self._checkpoint_info()
        if existing is None or existing[0] < v:
            ptmp = os.path.join(self.log_dir, f".tmp-ptr-{uuid.uuid4().hex}")
            with open(ptmp, "w") as f:
                json.dump({"version": v, "file": name}, f)
            os.replace(ptmp, os.path.join(self.log_dir, _CHECKPOINT_PTR))
        return final

    def _maybe_checkpoint(self, version: int) -> None:
        iv = self.checkpoint_interval
        if iv and version > 0 and version % iv == 0:
            try:
                self.checkpoint(version)
            except Exception:
                pass  # checkpoints are an optimization; never fail the commit

    def expire_log(self) -> list[int]:
        """Delete commit files strictly older than the last checkpoint —
        bounds both the log listing and replay work. Time travel to expired
        versions then raises (the Delta/Iceberg log-retention trade); the
        checkpoint itself keeps every later version reconstructible."""
        cp = self._checkpoint_info()
        if cp is None:
            return []
        removed = []
        for v in self._versions():
            if v < cp[0]:
                os.unlink(self._commit_path(v))
                self._commit_cache.pop(v, None)
                removed.append(v)
        return removed

    # -- snapshot ----------------------------------------------------------

    def _state(self, upto: int | None = None) -> dict:
        """Reconstructed table state at ``upto`` (default: latest): last
        checkpoint at-or-before the target plus the tail commits after it.
        Falls back to a full replay when no checkpoint applies (e.g. time
        travel to a pre-checkpoint version whose commits are retained)."""
        versions = self._versions()
        cp = self._checkpoint_info()
        if cp is not None and (upto is None or cp[0] <= upto):
            state = self._load_checkpoint(cp[1])
            start = cp[0]
        else:
            state = self._empty_state()
            start = -1
            if versions and versions[0] != 0:
                raise ValueError(
                    f"cannot reconstruct version {upto}: commits before "
                    f"{versions[0]} were expired from the log and no "
                    "checkpoint covers it"
                )
        for v in versions:
            if v <= start:
                continue
            if upto is not None and v > upto:
                break
            self._apply_commit(state, self._read_commit(v))
        return state

    def snapshot_files(self, version: int | None = None) -> list[str]:
        """Active data files (paths relative to the table root) at a
        version, in first-added order."""
        return list(self._state(version)["active"])

    def snapshot_schema(self, version: int | None = None) -> StructType | None:
        schema = self._state(version)["schema"]
        return StructType.fromJson(json.loads(schema)) if schema else None

    # -- deletion vectors (merge-on-read) ---------------------------------

    def _dv_positions(
        self, spark: SparkSession, dv_map: dict, files: Sequence[str]
    ) -> DataFrame | None:
        """Deleted-position rows ``(__base, __pos)`` for the given files
        under the given file→DV-directory assignment, or None when none of
        the files carries a DV. Exact under ANY history (restore, partial
        re-vectoring): DV rows are matched on (dv_id, file), so stale
        entries for a file inside an older — still referenced by some other
        file — DV parquet are ignored."""
        sel = {f: dv_map[f] for f in files if f in dv_map}
        if not sel:
            return None
        dirs = sorted(
            {d if os.path.isabs(d) else os.path.join(self.path, d) for d in sel.values()}
        )
        rows = spark.read.parquet(*dirs)
        # Assignment table: one row per DV'd file — metadata-sized.
        pairs = [
            (os.path.basename(d), os.path.basename(f)) for f, d in sorted(sel.items())
        ]
        asg = spark.createDataFrame(pairs, "dv_id string, __base string")
        return (
            rows.withColumn("__base", F.element_at(F.split(F.col("file"), "/"), -1))
            .join(F.broadcast(asg), ["dv_id", "__base"], "left_semi")
            .select("__base", F.col("pos").alias("__pos"))
        )

    def _apply_dvs(
        self,
        df: DataFrame,
        spark: SparkSession,
        dv_map: dict,
        files: Sequence[str],
    ) -> DataFrame:
        """Anti-apply deletion vectors to a DIRECT parquet scan of
        ``files`` (the hidden ``_metadata`` columns must be available).
        Rows are identified by (file basename, physical row index) —
        basenames are globally unique across commit dirs (asserted where
        attribution matters) and ``_metadata.row_index`` is stable because
        data files are immutable. The DV side broadcasts: deletion vectors
        are the SELECTIVE-delete path (GDPR erasure, late corrections);
        bulk deletes belong on the copy-on-write path where whole files
        drop out of the snapshot instead."""
        dv = self._dv_positions(spark, dv_map, files)
        if dv is None:
            return df
        cols = df.columns
        tagged = df.withColumn(
            "__base",
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
        ).withColumn("__pos", F.col("_metadata.row_index"))
        return tagged.join(F.broadcast(dv), ["__base", "__pos"], "left_anti").select(
            *cols
        )

    def delete_where_mor(
        self,
        spark: SparkSession,
        where: Sequence[tuple],
        app_txn_id: str | None = None,
    ) -> int:
        """Merge-on-read DELETE via deletion vectors (Delta DVs / Iceberg
        positional deletes, re-derived): instead of rewriting every file
        that holds a matching row (:meth:`delete_where`'s copy-on-write),
        record the matching rows' physical positions in a parquet sidecar
        and anti-apply it on every read. Deleting 3 rows from a 1 GB file
        costs a kilobyte of metadata, not a 1 GB rewrite — the 100 TB
        selective-delete shape. Reads stay exact; OPTIMIZE (or any COW
        rewrite touching the file) materializes the DV away.

        DVs are CUMULATIVE per file: a new vector for a file unions the
        prior vector's positions, and the commit's assignment atomically
        replaces the old one. Stats-based skipping still prunes the
        candidate files first, so only files that COULD match are scanned
        to find positions."""
        rv = self.version()
        state = self._state(rv)
        files = list(state["active"])
        schema = (
            StructType.fromJson(json.loads(state["schema"]))
            if state["schema"]
            else None
        )
        if schema is None:
            raise ValueError(f"no such table (empty log): {self.path}")
        candidates = _skip_by_stats(
            files, state["stats"], self._where_physical(state, where)
        )
        if not candidates:
            return rv  # provably nothing to delete
        # Positions come from LIVE rows only: a predicate that matches only
        # already-vectored positions is a no-op and must not publish a
        # spurious commit (or churn a duplicate sidecar).
        hits = (
            self._live(
                self._tagged_scan(spark, state, schema, candidates), spark, state, candidates
            )
            .filter(_predicate_expr(where))
            .select("__base", "__pos")
            .transform(lineage_cut_eager)  # one scan feeds the no-op check + the sidecar
        )
        try:
            if hits.isEmpty():
                return rv  # predicate matched nothing live
            dvs = self._build_dv(spark, state, candidates, hits)
        finally:
            release(hits)
        if dvs is None:
            return rv  # unreachable given the isEmpty guard; kept for safety
        return self.commit(
            adds=[],
            removes=[],
            operation="delete_mor",
            app_txn_id=app_txn_id,
            read_version=rv,
            dvs=dvs,
        )

    @staticmethod
    def _physical_schema(state: dict, schema: StructType) -> StructType:
        """The on-parquet shape of the logical ``schema`` under the
        state's column mapping (identity when no column was ever
        renamed). Physical names are stable across renames, so one
        physical schema reads files written under ANY historical logical
        naming."""
        cm = state["colmap"]
        return StructType(
            [
                StructField(cm.get(f.name, f.name), f.dataType, f.nullable, f.metadata)
                for f in schema.fields
            ]
        )

    def _scan_logical(
        self,
        spark: SparkSession,
        state: dict,
        schema: StructType,
        files: Sequence[str],
        tagged: bool = False,
    ) -> DataFrame:
        """Direct scan of ``files`` under the PHYSICAL schema, projected
        back to logical column names. ``tagged`` additionally materializes
        the row-identity columns ``__base``/``__pos`` — captured on the
        scan itself, before any join makes ``_metadata`` unresolvable."""
        cm = state["colmap"]
        df = spark.read.schema(self._physical_schema(state, schema)).parquet(
            *[f if os.path.isabs(f) else os.path.join(self.path, f) for f in files]
        )

        def _logical(f):
            phys = F.col(cm.get(f.name, f.name))
            sql = state["defaults"].get(f.name)
            if sql is not None:
                # existsDefault: files predating the column (and any
                # explicit NULL the write path let through) read the
                # default — the write paths fill on omit/NULL, so the
                # coalesce is total, never a guess.
                phys = F.coalesce(phys, F.expr(sql).cast(f.dataType))
            return phys.alias(f.name)

        cols = [_logical(f) for f in schema.fields]
        if tagged:
            cols += [
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
                    "__base"
                ),
                F.col("_metadata.row_index").alias("__pos"),
            ]
        return df.select(*cols)

    def _tagged_scan(
        self, spark: SparkSession, state: dict, schema: StructType, files: Sequence[str]
    ) -> DataFrame:
        return self._scan_logical(spark, state, schema, files, tagged=True)

    @staticmethod
    def _where_physical(state: dict, where: Sequence[tuple]) -> list[tuple]:
        """Predicate triples translated to physical column names — the key
        space per-file stats (and blooms) are recorded under."""
        cm = state["colmap"]
        return [(cm.get(c, c), op, v) for c, op, v in where]

    def _live(
        self, tagged: DataFrame, spark: SparkSession, state: dict, files: Sequence[str]
    ) -> DataFrame:
        """Drop already-vectored positions from a ``_tagged_scan`` (keeps
        the ``__base``/``__pos`` identity columns, unlike
        :meth:`_apply_dvs`)."""
        prior = self._dv_positions(spark, state["dvs"], files)
        if prior is None:
            return tagged
        return tagged.join(F.broadcast(prior), ["__base", "__pos"], "left_anti")

    def _build_dv(
        self,
        spark: SparkSession,
        state: dict,
        candidates: Sequence[str],
        hits: DataFrame,
    ) -> dict | None:
        """Write one DV sidecar covering ``hits`` (``__base``/``__pos``
        rows) plus the candidates' PRIOR vectors (cumulative-replace
        semantics), and return the file→sidecar assignment for the commit —
        or None when nothing matched."""
        rel_by_base = {os.path.basename(f): f for f in candidates}
        assert len(rel_by_base) == len(candidates), (
            "duplicate parquet basename across commit directories; "
            "position attribution by basename is unsound for this table"
        )
        prior = self._dv_positions(spark, state["dvs"], candidates)
        if prior is not None:
            hits = hits.unionByName(prior)
        dv_id = uuid.uuid4().hex
        rel_dir = os.path.join(_DV_DIR, dv_id)
        base_map = spark.createDataFrame(
            sorted(rel_by_base.items()), "__base string, file string"
        )
        out = (
            hits.distinct()
            .join(F.broadcast(base_map), "__base")
            .select(F.lit(dv_id).alias("dv_id"), "file", F.col("__pos").alias("pos"))
            .transform(lineage_cut_eager)  # one scan feeds both the collect and the write
        )
        try:
            # One row per FILE — bounded by candidate file count, not rows.
            affected = sorted(
                r["file"] for r in out.select("file").distinct().collect()
            )
            if not affected:
                return None
            out.coalesce(1).write.mode("overwrite").parquet(os.path.join(self.path, rel_dir))
        finally:
            release(out)
        return {f: rel_dir for f in affected}

    def update_where_mor(
        self,
        spark: SparkSession,
        where: Sequence[tuple],
        set_exprs: dict,
        app_txn_id: str | None = None,
    ) -> int:
        """Merge-on-read UPDATE (Delta's DV-backed UPDATE): ONE atomic
        commit vectors the matched rows' old positions out and appends
        their updated images as a new file — no candidate file is
        rewritten, and no reader ever sees the rows missing or doubled.
        ``set_exprs`` maps column name → Column expression evaluated over
        the matched rows. Matching respects existing vectors (an
        already-deleted row can never resurrect as an updated copy)."""
        bad = set(set_exprs) - {f.name for f in (self.snapshot_schema() or StructType([]))}
        if bad:
            raise ValueError(f"update_where_mor: unknown columns {sorted(bad)}")
        rv = self.version()
        state = self._state(rv)
        gen_set = set(set_exprs) & set(state["generated"])
        if gen_set:
            raise ValueError(
                f"update_where_mor: column(s) {sorted(gen_set)} are GENERATED "
                "— their values derive from the generation expression and are "
                "recomputed automatically when their inputs change"
            )
        schema = (
            StructType.fromJson(json.loads(state["schema"]))
            if state["schema"]
            else None
        )
        if schema is None:
            raise ValueError(f"no such table (empty log): {self.path}")
        candidates = _skip_by_stats(
            list(state["active"]), state["stats"], self._where_physical(state, where)
        )
        if not candidates:
            return rv  # provably nothing to update
        matched = (
            self._live(
                self._tagged_scan(spark, state, schema, candidates), spark, state, candidates
            )
            .filter(_predicate_expr(where))
            .transform(lineage_cut_eager)  # one scan feeds the guard, the DV, the images
        )
        try:
            if matched.isEmpty():
                return rv  # predicate matched nothing live: no-op, no commit
            dvs = self._build_dv(
                spark, state, candidates, matched.select("__base", "__pos")
            )
            updated = matched.select(
                *[
                    set_exprs[f.name].cast(f.dataType).alias(f.name)
                    if f.name in set_exprs
                    else F.col(f.name)
                    for f in schema.fields
                ]
            )
            # Generated columns recompute over the updated images — an UPDATE
            # that changes a generation input can never leave a stale derived
            # value behind (Delta's recompute-on-update rule). Cast pins the
            # declared column type against expression-type drift.
            types = {f.name: f.dataType for f in schema.fields}
            for gname, gsql in sorted(state["generated"].items()):
                if gname in types:
                    updated = updated.withColumn(
                        gname, F.expr(gsql).cast(types[gname])
                    )
            self._enforce_constraints(updated, state["constraints"])
            adds, stats = self._write_data(updated, colmap=state["colmap"])
        finally:
            release(matched)
        return self.commit(
            adds=adds,
            removes=[],
            operation="update_mor",
            app_txn_id=app_txn_id,
            read_version=rv,
            stats=stats,
            dvs=dvs,
        )

    def merge_keep_latest_mor(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: Sequence[str],
        order_by: Sequence[Column],
        app_txn_id: str | None = None,
    ) -> int:
        """Merge-on-read MERGE: matched target rows are VECTORED out (by
        position) and the resolved winners + inserts land as new files —
        one atomic commit, zero file rewrites. Where the copy-on-write
        :meth:`merge_keep_latest` rewrites every file containing a matched
        key (fine when merges touch a large row fraction), this shape wins
        when a merge touches a few rows spread across many big files — the
        streaming-upsert profile at 100 TB. Same keep-latest semantics and
        the same stats-based candidate pruning; OPTIMIZE later folds the
        accumulated vectors + small merge files back into clean ones."""
        if not self.exists():
            return self.create_or_replace(source, app_txn_id=app_txn_id)
        rv = self.version()
        state = self._state(rv)
        source = self._apply_defaults(source, state)
        source = self._apply_generated(source, state)
        self._enforce_constraints(source, state["constraints"])
        schema = (
            StructType.fromJson(json.loads(state["schema"]))
            if state["schema"]
            else None
        )
        files = list(state["active"])
        # Source-side duplicates resolve keep-latest even when no target
        # file matches (empty-target merge_upsert; see the COW path).
        src_only = lambda: merge_upsert(  # noqa: E731 - local shorthand
            source.filter(F.lit(False)), source, keys=list(keys), order_by=list(order_by)
        )
        if not files:
            adds, stats = self._write_data(src_only(), colmap=state["colmap"])
            return self.commit(
                adds, [], "merge", source.schema.json(), app_txn_id, rv, stats
            )
        scan_files = self._prune_by_stats(files, source, keys, state)
        if not scan_files:
            adds, stats = self._write_data(src_only(), colmap=state["colmap"])
            return self.commit(
                adds, [], "merge", source.schema.json(), app_txn_id, rv, stats
            )
        key_set = source.select(*keys).distinct()
        matched = (
            self._live(
                self._tagged_scan(spark, state, schema, scan_files), spark, state, scan_files
            )
            .join(F.broadcast(key_set), list(keys), "left_semi")
            .transform(lineage_cut_eager)  # one scan feeds the guard, the DV, the merge
        )
        try:
            # No live match → pure insert: don't publish a sidecar that merely
            # re-vectors the candidates' existing positions.
            dvs = (
                None
                if matched.isEmpty()
                else self._build_dv(
                    spark, state, scan_files, matched.select("__base", "__pos")
                )
            )
            affected = (
                matched.drop("__base", "__pos")
                if dvs is not None
                else spark.createDataFrame([], schema)
            )
            merged = merge_upsert(
                affected, source, keys=list(keys), order_by=list(order_by)
            )
            adds, stats = self._write_data(merged, colmap=state["colmap"])
        finally:
            release(matched)
        return self.commit(
            adds=adds,
            removes=[],
            operation="merge_mor",
            schema_json=merged.schema.json(),
            app_txn_id=app_txn_id,
            read_version=rv,
            stats=stats,
            dvs=dvs or {},
        )

    def merge_delete_mor(
        self,
        spark: SparkSession,
        keys_df: DataFrame,
        keys: Sequence[str],
        app_txn_id: str | None = None,
    ) -> int:
        """Merge-on-read DELETE BY KEY SET: vector out every live row whose
        key tuple appears in ``keys_df`` — the WHEN MATCHED THEN DELETE arm
        of MERGE, standalone. One atomic commit regardless of key count or
        arity, and the key relation STAYS DISTRIBUTED end to end (contrast
        ``delete_where_mor``'s predicate form, which would need the keys
        materialized into an IN literal on the driver) — the CDC-replica
        delete shape at scale: a polled batch with millions of delete keys
        is a semi-join, a sidecar write, and one commit.

        NULL-safe key matching (a NULL key in the feed deletes the NULL-key
        row, as MERGE ON a <=> b would); stats-based pruning runs on the
        non-NULL key bounds, and files that could hold NULL keys are kept
        as candidates only when the feed actually carries one.
        """
        if self._txn_seen(app_txn_id):
            return self.version()  # duplicate delivery: no scan, no commit
        rv = self.version()
        state = self._state(rv)
        schema = (
            StructType.fromJson(json.loads(state["schema"]))
            if state["schema"]
            else None
        )
        if schema is None:
            raise ValueError(f"no such table (empty log): {self.path}")
        files = list(state["active"])
        if not files:
            return rv
        key_set = keys_df.select(*keys).distinct().transform(lineage_cut_eager)
        try:
            if key_set.isEmpty():
                return rv  # empty key set: nothing to delete, no commit
            # Bounded scalar probe: does the feed carry any NULL key at all?
            null_pred = F.lit(False)
            for k in keys:
                null_pred = null_pred | F.col(k).isNull()
            has_null = bool(key_set.filter(null_pred).limit(1).count())
            candidates = self._prune_by_stats(
                files, key_set.na.drop(subset=list(keys)), keys, state
            )
            if has_null:
                # min/max bounds say nothing about NULLs: keep every file whose
                # recorded null count is nonzero or unknown for some key column.
                cm = state["colmap"]
                extra = []
                for f in files:
                    nulls = (state["stats"].get(f) or {}).get("__nulls") or {}
                    if any(nulls.get(cm.get(k, k), 1) != 0 for k in keys):
                        extra.append(f)
                candidates = sorted(set(candidates) | set(extra))
            if not candidates:
                return rv  # provably no file holds a matching key
            live = self._live(
                self._tagged_scan(spark, state, schema, candidates),
                spark,
                state,
                candidates,
            )
            kren = key_set.select(*[F.col(k).alias(f"__k_{k}") for k in keys])
            cond = F.lit(True)
            for k in keys:
                cond = cond & live[k].eqNullSafe(F.col(f"__k_{k}"))
            # No broadcast hint: the key relation is unbounded (a CDC batch can
            # carry millions of deletes) — AQE broadcasts when it is small and
            # shuffles when it is not.
            hits = (
                live.join(kren, cond, "left_semi")
                .select("__base", "__pos")
                .transform(lineage_cut_eager)  # one scan feeds the no-op check + the sidecar
            )
        finally:
            release(key_set)
        try:
            if hits.isEmpty():
                return rv  # no live row matches any key: no-op, no commit
            dvs = self._build_dv(spark, state, candidates, hits)
        finally:
            release(hits)
        if dvs is None:
            return rv
        return self.commit(
            adds=[],
            removes=[],
            operation="delete_mor",
            app_txn_id=app_txn_id,
            read_version=rv,
            dvs=dvs,
        )

    def version_at_timestamp(self, ts_millis: int) -> int:
        """The version a reader at ``ts_millis`` (epoch ms) would have
        seen: the LAST commit whose recorded timestamp is <= the target
        (Delta's ``timestampAsOf`` resolution). Raises if the target
        precedes the first retained commit — same contract as time travel
        to an expired version."""
        best = -1
        for v in self._versions():
            c = self._read_commit(v)
            t = c.get("timestamp")
            if t is not None and t <= ts_millis:
                best = v
        if best < 0:
            raise ValueError(
                f"no commit at or before timestamp {ts_millis} "
                "(before table creation, or the commits were expired)"
            )
        return best

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        where: Sequence[tuple] | None = None,
        as_of_timestamp: int | None = None,
    ) -> DataFrame:
        """Snapshot (or time-travel) read: the log's file list under the
        as-of schema — added columns backfill as NULL in older files, and
        data directories are never listed. ``as_of_timestamp`` (epoch ms,
        mutually exclusive with ``version``) resolves through
        :meth:`version_at_timestamp` — Delta's ``timestampAsOf``.

        ``where`` — optional conjunctive range predicates as ``(col, op,
        value)`` triples with op ∈ {'=', '<', '<=', '>', '>='} — is the
        stats-based data skipping the log's per-file min/max enables on the
        READ path (Iceberg gets this from manifest metadata): a file whose
        recorded range provably cannot satisfy some predicate is excluded
        from the scan list BEFORE Spark ever opens it — metadata-only
        pruning, ahead of parquet row-group pushdown. The same predicates
        are then applied as a residual DataFrame filter, so the result is
        exact regardless of which files have stats.
        """
        if as_of_timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR as_of_timestamp, not both")
            version = self.version_at_timestamp(as_of_timestamp)
        if version is not None and version > self.version():
            raise ValueError(
                f"version {version} does not exist (latest: {self.version()})"
            )
        state = self._state(version)  # one reconstruction for schema + files
        schema = (
            StructType.fromJson(json.loads(state["schema"]))
            if state["schema"]
            else None
        )
        if schema is None:
            raise ValueError(f"no such table (empty log): {self.path}")
        files = list(state["active"])
        if where:
            files = _skip_by_stats(
                files, state["stats"], self._where_physical(state, where)
            )
        if not files:
            df = spark.createDataFrame([], schema)
        else:
            df = self._scan_logical(spark, state, schema, files)
            df = self._apply_dvs(df, spark, state["dvs"], files)
        if where:
            df = df.filter(_predicate_expr(where))
        return df

    def scan_file_count(
        self, version: int | None = None, where: Sequence[tuple] | None = None
    ) -> int:
        """Number of data files a ``read(version, where)`` would open —
        metadata-only (no Spark job); the observability hook tests and
        capacity planning use to verify skipping."""
        state = self._state(version)
        files = list(state["active"])
        if where:
            files = _skip_by_stats(
                files, state["stats"], self._where_physical(state, where)
            )
        return len(files)

    def file_manifest(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The active file set as a queryable DataFrame (Delta's
        ``DESCRIBE DETAIL`` / Iceberg's ``.files`` metadata table): one row
        per file with size, recorded row count, and per-stat-col [lo, hi]
        bounds as JSON. Metadata-only — built from the log, no data files
        opened — so it stays O(#files) however big the table is; the
        capacity-planning / skew-audit surface maintenance tooling reads."""
        state = self._state(version)
        rows = []
        for f in state["active"]:
            full = f if os.path.isabs(f) else os.path.join(self.path, f)
            st = state["stats"].get(f) or {}
            try:
                size = os.path.getsize(full)
            except OSError:
                size = -1  # vacuumed-from-under or remote: surfaced, not fatal
            rows.append(
                (
                    f,
                    size,
                    int(st.get("__rows", -1)),
                    json.dumps(
                        {k: v for k, v in st.items() if not k.startswith("__")},
                        sort_keys=True,
                    ),
                )
            )
        return spark.createDataFrame(
            rows, "file STRING, size_bytes LONG, n_rows LONG, stats_json STRING"
        )

    def detail(self, version: int | None = None) -> dict:
        """Table-level summary (Delta ``DESCRIBE DETAIL``): version, file
        count, byte/row totals, checkpoint state. Metadata-only."""
        state = self._state(version)
        sizes, rows_known, n_rows = [], True, 0
        for f in state["active"]:
            full = f if os.path.isabs(f) else os.path.join(self.path, f)
            try:
                sizes.append(os.path.getsize(full))
            except OSError:
                pass
            st = state["stats"].get(f) or {}
            if "__rows" in st:
                n_rows += int(st["__rows"])
            else:
                rows_known = False
        # Live rows = physical rows minus vectored-out positions; counting
        # the positions is a metadata read of the referenced DV parquets
        # (O(#DV'd files), no data files opened).
        n_deleted = 0
        if state["dvs"]:
            import pyarrow.parquet as _pq

            want = {
                (os.path.basename(d), os.path.basename(f))
                for f, d in state["dvs"].items()
            }
            dirs = {
                d if os.path.isabs(d) else os.path.join(self.path, d)
                for d in state["dvs"].values()
            }
            for dd in sorted(dirs):
                for part in os.listdir(dd):
                    if not part.endswith(".parquet"):
                        continue
                    t = _pq.read_table(
                        os.path.join(dd, part), columns=["dv_id", "file"]
                    ).to_pylist()
                    n_deleted += sum(
                        1
                        for r in t
                        if (r["dv_id"], os.path.basename(r["file"])) in want
                    )
        cp = self._checkpoint_info()
        return {
            "version": self.version() if version is None else version,
            "num_files": len(state["active"]),
            "size_bytes": sum(sizes),
            "num_rows": (n_rows - n_deleted) if rows_known else None,
            "num_dv_files": len(state["dvs"]),
            "num_deleted_rows": n_deleted,
            "checkpoint_version": cp[0] if cp else None,
            "stat_cols": list(self.stat_cols),
        }

    def history(self) -> list[dict]:
        """Commit metadata, oldest first: version, operation, file deltas."""
        return [
            {
                "version": c["version"],
                "operation": c.get("operation", "?"),
                "n_added": len(c.get("adds", [])),
                "n_removed": len(c.get("removes", [])),
                "n_dvs": len(c.get("dvs") or {}),
                "timestamp": c.get("timestamp"),
                "app_txn_id": c.get("app_txn_id"),
            }
            for c in self._commits()
        ]

    # -- write path --------------------------------------------------------

    def _write_data(
        self,
        df: DataFrame,
        cluster_by: Sequence[str] = (),
        colmap: dict | None = None,
    ) -> tuple[list[str], dict]:
        """Write a new immutable file set for one commit; returns (relative
        paths, per-file min/max stats for ``stat_cols``). Not visible until
        a commit references them. ``df`` arrives with LOGICAL names;
        ``colmap`` (the writing snapshot's mapping) renames to the stable
        PHYSICAL names on the way to parquet, so files written before and
        after a RENAME share one physical shape."""
        cm = colmap or {}
        if cm:
            phys_names = [cm.get(c, c) for c in df.columns]
            dupes = sorted({n for n in phys_names if phys_names.count(n) > 1})
            if dupes:
                # Catch this BEFORE Spark's opaque duplicate-column error:
                # the incoming frame carries a column named after the
                # physical storage name of a renamed column.
                raise ValueError(
                    f"column(s) {dupes} collide with the physical storage "
                    "name of a renamed column; pick different names or "
                    "rewrite via create_or_replace"
                )
            df = df.select(
                *[F.col(c).alias(cm.get(c, c)) for c in df.columns]
            )
        rel_dir = os.path.join(_DATA_DIR, uuid.uuid4().hex)
        out = os.path.join(self.path, rel_dir)
        w = df
        if cluster_by:
            w = df.repartition(*[F.col(cm.get(c, c)) for c in cluster_by])
        w.write.mode("overwrite").option("compression", "snappy").parquet(out)
        files = sorted(
            os.path.join(rel_dir, f)
            for f in os.listdir(out)
            if f.endswith(".parquet")
        )
        # Zero-row part files (empty partitions; a DELETE/MERGE that drops a
        # whole file's rows) never enter the log: they carry no stats, so
        # they would be permanently unprunable candidates for every later
        # stats-pruned operation. Footer metadata read — O(#files) driver
        # work, no data scanned.
        import pyarrow.parquet as pq

        files = [
            f
            for f in files
            if pq.ParquetFile(os.path.join(self.path, f)).metadata.num_rows > 0
        ]
        return files, self._collect_stats(df, files, cm)

    def _collect_stats(
        self, df: DataFrame, files: list[str], colmap: dict | None = None
    ) -> dict:
        """Per-file min/max of ``stat_cols`` over freshly-written files: one
        file-grouped aggregate (rows never leave executors; |files| result
        rows). Only JSON-clean scalar bounds are recorded — anything else
        simply leaves the file unprunable (safe). ``df`` and the recorded
        stat keys are PHYSICAL (``colmap`` translates the user-facing
        ``stat_cols``); read-side predicates translate the same way."""
        cm = colmap or {}
        cols = [
            cm.get(c, c) for c in self.stat_cols if cm.get(c, c) in df.columns
        ]
        bcols = [
            cm.get(c, c) for c in self.bloom_cols if cm.get(c, c) in df.columns
        ]
        if not cols and not bcols:
            return {}
        spark = df.sparkSession
        by_base = {os.path.basename(f): f for f in files}
        stats: dict = {}
        if bcols:
            self._collect_blooms(spark, df, files, bcols, by_base, stats)
        if not cols:
            return stats
        aggd = (
            spark.read.schema(df.schema)
            .parquet(*[os.path.join(self.path, f) for f in files])
            .withColumn("_f", F.input_file_name())
            .groupBy("_f")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                *[F.min(c).alias(f"_lo_{c}") for c in cols],
                *[F.max(c).alias(f"_hi_{c}") for c in cols],
                *[
                    F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_nn_{c}")
                    for c in cols
                ],
            )
            .collect()
        )
        for r in aggd:
            rel = by_base.get(os.path.basename(r["_f"]))
            if rel is None:
                continue
            # Reserved keys: "__rows" (file row count) and "__nulls"
            # (per-col null counts — Delta's nullCount) drive isnull /
            # isnotnull skipping; plain column keys stay [lo, hi].
            entry: dict = {
                "__rows": int(r["_n"]),
                "__nulls": {c: int(r[f"_nn_{c}"]) for c in cols},
            }
            for c in cols:
                lo, hi = r[f"_lo_{c}"], r[f"_hi_{c}"]
                if all(isinstance(x, (int, float, str, bool)) for x in (lo, hi)):
                    entry[c] = [lo, hi]
            stats.setdefault(rel, {}).update(entry)  # merge over bloom words
        return stats

    def _collect_blooms(
        self,
        spark: SparkSession,
        df: DataFrame,
        files: list[str],
        bcols: list[str],
        by_base: dict,
        stats: dict,
    ) -> None:
        """Per-file bloom words for ``bcols`` over freshly-written files:
        one file-grouped bit_or aggregate per column (k md5 positions per
        key, the exact ``operators/bloom.py`` layout). Bounded driver
        fetch: |files| x m/64 word rows — metadata, not data.

        Only INTEGRAL/STRING columns are indexed — structurally, not just
        by docstring: the probe side (``_bloom_absent``) reproduces
        Spark's cast-to-string hashing for int/str values only, so a
        bloom built over e.g. a double column ('57.0') probed with an int
        ('57') would hash to different positions and falsely "prove"
        absence — silently wrong results, not a missed optimization.
        Other-typed columns listed in ``bloom_cols`` are skipped here and
        fall back to min/max stats + the residual filter."""
        from pyspark.sql.types import (
            ByteType,
            IntegerType,
            LongType,
            ShortType,
            StringType,
        )

        from ..operators.bloom import _position

        indexable = (StringType, ByteType, ShortType, IntegerType, LongType)
        types = {f.name: f.dataType for f in df.schema.fields}
        bcols = [c for c in bcols if isinstance(types.get(c), indexable)]
        if not bcols:
            return
        m, k = self.bloom_m_bits, self.bloom_k
        scan = spark.read.schema(df.schema).parquet(
            *[os.path.join(self.path, f) for f in files]
        ).withColumn("_f", F.input_file_name())
        for c in bcols:
            pos = scan.filter(F.col(c).isNotNull()).select(
                "_f",
                F.explode(
                    F.array(*[_position(F.col(c), i, m) for i in range(k)])
                ).alias("p"),
            )
            rows = (
                pos.groupBy("_f", (F.col("p") / 64).cast("int").alias("w"))
                .agg(
                    F.expr(
                        "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))"
                    ).alias("bits")
                )
                .collect()
            )
            words_by_f: dict = {}
            for r in rows:
                words_by_f.setdefault(r["_f"], [0] * (m // 64))[r["w"]] = r["bits"]
            for absf, words in words_by_f.items():
                rel = by_base.get(os.path.basename(absf))
                if rel is None:
                    continue
                stats.setdefault(rel, {}).setdefault("__bloom", {})[c] = {
                    "m": m,
                    "k": k,
                    "words": words,
                }

    def _file_stats(self, version: int | None = None) -> dict:
        """rel_path → {col: [lo, hi]} for the active files at a version
        (files are immutable, so the adding commit's stats stay
        authoritative)."""
        return self._state(version)["stats"]

    def _prune_by_stats(
        self,
        files: list[str],
        source: DataFrame,
        keys: Sequence[str],
        state: dict | None = None,
    ) -> list[str]:
        """Files that COULD contain a source key: keep a file unless some
        stat key's recorded range is disjoint from the source's range. The
        source bounds are one scalar aggregate (a legitimate driver fetch);
        files without stats are always kept (safe). ``keys`` are logical;
        stats are recorded under physical names, so lookups go through the
        state's column mapping."""
        all_stats = self._file_stats()
        cm = (state or {}).get("colmap") or {}
        phys = {k: cm.get(k, k) for k in keys}
        stat_keys = [
            k
            for k in keys
            if any(phys[k] in (all_stats.get(f) or {}) for f in files)
        ]
        if not stat_keys:
            return files
        row = source.agg(
            *[F.min(k).alias(f"_lo_{k}") for k in stat_keys],
            *[F.max(k).alias(f"_hi_{k}") for k in stat_keys],
        ).first()
        # NULL bounds on a key mean the source has NO non-null value for it
        # (empty source, or all-null key column): equality on that key can
        # match nothing, so no file is a candidate — the empty-feed merge
        # (e.g. folding an OPTIMIZE commit's change feed) costs zero scans.
        if any(
            row[f"_lo_{k}"] is None or row[f"_hi_{k}"] is None for k in stat_keys
        ):
            return []
        kept = []
        for f in files:
            fs = all_stats.get(f) or {}
            disjoint = False
            for k in stat_keys:
                if phys[k] not in fs:
                    continue
                lo, hi = fs[phys[k]]
                s_lo, s_hi = row[f"_lo_{k}"], row[f"_hi_{k}"]
                if hi < s_lo or lo > s_hi:
                    disjoint = True
                    break
            if not disjoint:
                kept.append(f)
        return kept

    def _check_schema_evolution(self, new_json: str) -> None:
        state = self._state()  # ONE reconstruction for schema + colmap + dropped
        cur = (
            StructType.fromJson(json.loads(state["schema"]))
            if state["schema"]
            else None
        )
        if cur is None:
            return
        new_fields = {
            f.name: f
            for f in StructType.fromJson(json.loads(new_json)).fields
        }
        # Resurrection / collision guard: a column ADDED by evolution
        # writes its name as the physical parquet column. If that physical
        # name was ever DROPPED (bytes still live in pre-drop files), reads
        # would surface the old data as the "new" column; if it is the
        # physical name BEHIND a renamed column, the write would produce
        # two identically-named parquet columns. Both are blocked with a
        # clear error instead of failing deep inside Spark.
        cur_names = {f.name for f in cur.fields}
        occupied_phys = set(state["colmap"].values())
        for name in new_fields:
            if name in cur_names:
                continue
            if name in set(state["dropped"]):
                raise ValueError(
                    f"column name {name!r} was previously dropped and its "
                    "data persists in historical files; adding it back "
                    "would resurrect old values — pick a new name or "
                    "rewrite via create_or_replace"
                )
            if name in occupied_phys:
                raise ValueError(
                    f"column name {name!r} is the physical storage name of "
                    "a renamed column; adding it would collide on disk — "
                    "pick a new name or rewrite via create_or_replace"
                )
        for f in cur.fields:
            nf = new_fields.get(f.name)
            if nf is None:
                if f.name in state["defaults"]:
                    # The writer isn't dropping anything — a concurrent
                    # ADD COLUMN DEFAULT landed after its snapshot read,
                    # so its frame predates the column. Retryable: the
                    # caller's loop re-reads the fresh defaults set,
                    # fills, and rewrites.
                    raise CommitConflict(
                        f"column {f.name!r} (with DEFAULT) was added "
                        "concurrently; re-fill from a fresh snapshot"
                    )
                raise ValueError(
                    f"schema evolution cannot drop column {f.name!r} on "
                    "append/merge; rewrite via create_or_replace"
                )
            if nf.dataType != f.dataType:
                raise ValueError(
                    f"incompatible type change for column {f.name!r}: "
                    f"{f.dataType.simpleString()} -> "
                    f"{nf.dataType.simpleString()}; rewrite via "
                    "create_or_replace"
                )

    def _txn_seen(self, app_txn_id: str | None) -> bool:
        # Checkpoints carry the full txn-id set forward, so exactly-once
        # holds even after the originating commit's JSON is expired.
        return app_txn_id is not None and app_txn_id in self._state()["txn_ids"]

    def commit(
        self,
        adds: Sequence[str],
        removes: Sequence[str],
        operation: str,
        schema_json: str | None = None,
        app_txn_id: str | None = None,
        read_version: int | None = None,
        stats: dict | None = None,
        dvs: dict | None = None,
        constraints: dict | None = None,
        colmap: dict | None = None,
        dropped: list | None = None,
        generated: dict | None = None,
        clustering: list | None = None,
        defaults: dict | None = None,
    ) -> int:
        """Publish one atomic commit; returns the committed version.

        Optimistic concurrency: on a version collision the commit re-reads
        the log and retries. Blind appends (no ``removes``) retry freely —
        they cannot invalidate or be invalidated. A commit that REPLACES
        data (``removes`` non-empty, or a full replace) conflicts if ANY
        intervening commit changed the file set: a concurrent append may
        have added rows for keys this merge resolved, and a concurrent
        remove means this commit's inputs are stale either way. The caller
        must re-run the operation from a fresh snapshot (Delta's own
        MERGE-vs-append semantics). Duplicate ``app_txn_id`` commits are
        no-ops.
        """
        os.makedirs(self.log_dir, exist_ok=True)
        resolves_keys = operation in (
            "merge",
            "merge_mor",
            "create_or_replace",
            "delete",
            "delete_mor",  # DV positions were computed against a snapshot
            "update_mor",
            "set_constraint",  # validation covered only the snapshot read
            "set_generated",  # same: existing rows validated at a snapshot
            "add_column",  # schema + defaults replacement, like a rename
            "rename_column",  # wholesale colmap/schema replacement
            "drop_column",
            "replace_where",
            "restore",  # rolling back over a concurrent write would drop it
            "clone",  # re-cloning replaces the destination's file set
        )
        evolving = schema_json is not None and operation in (
            "append",
            "merge",
            "merge_mor",
            "replace_where",
        )
        while True:
            if evolving:
                # Evolution guard (M4 discipline): appending may ADD
                # nullable columns (old files backfill NULL on read) but
                # never retype or drop one — the as-of read applies the
                # LATEST schema to EVERY active file, so an incompatible
                # change would corrupt or brick reads of data committed
                # under the old shape. Full rewrites go through
                # create_or_replace, which replaces the schema freely.
                # INSIDE the retry loop: a rename/drop landing between this
                # writer's snapshot and its os.link must re-trip the guard
                # on retry, or the stale logical schema would silently undo
                # the rename.
                self._check_schema_evolution(schema_json)
            if self._txn_seen(app_txn_id):
                return self.version()  # duplicate delivery: no-op
            v = self.version() + 1
            if read_version is not None and v > read_version + 1:
                if resolves_keys:
                    # key-resolving commits need snapshot currency: a
                    # concurrent append may hold rows for keys this commit
                    # already resolved
                    intervening = [
                        c
                        for c in (
                            self._read_commit(iv)
                            for iv in self._versions()
                            if iv > read_version
                        )
                        # a concurrent DV changes row content without
                        # touching the file set, and a concurrent
                        # constraint change was neither seen by this
                        # commit's validation nor validated against its
                        # rows — both equally invalidating
                        if c.get("adds")
                        or c.get("removes")
                        or c.get("dvs")
                        or c.get("constraints") is not None
                        or c.get("colmap") is not None
                        or c.get("dropped") is not None
                        or c.get("generated") is not None
                        or c.get("clustering") is not None
                        or c.get("defaults") is not None
                    ]
                    if intervening:
                        raise CommitConflict(
                            f"{len(intervening)} commit(s) changed the file "
                            f"set since version {read_version}; re-run from "
                            f"a fresh snapshot"
                        )
                elif removes:
                    # row-preserving rewrites (compaction): only conflict if
                    # a file this commit rewrites was itself removed —
                    # concurrent appends carry over untouched (Delta's
                    # OPTIMIZE-vs-append rule)
                    still_active = set(self.snapshot_files())
                    gone = [f for f in removes if f not in still_active]
                    if gone:
                        raise CommitConflict(
                            f"files removed by a concurrent commit: {gone[:3]}"
                        )
                    # ... or if a concurrent DELETE vectored rows out of a
                    # file this rewrite read pre-DV — committing would
                    # resurrect the deleted rows.
                    revectored: set[str] = set()
                    for iv in self._versions():
                        if iv > read_version:
                            revectored.update(
                                (self._read_commit(iv).get("dvs") or {}).keys()
                            )
                    hit = sorted(revectored & set(removes))
                    if hit:
                        raise CommitConflict(
                            "deletion vectors added by a concurrent commit "
                            f"on files this rewrite read: {hit[:3]}"
                        )
                elif operation in (
                    "append",
                    "drop_constraint",
                    "drop_generated",
                    "set_clustering",
                ):
                    # Replace-semantics metadata races: an append validated
                    # its rows against the constraint/generated set it READ
                    # — a concurrent ADD means those rows were never checked
                    # against the now-active rule, so the append must not
                    # publish past it (Delta fails the txn on metadata
                    # change). A constraint/generated-rule DROP likewise
                    # must not clobber a concurrently-replaced set, and a
                    # clustering change must not publish a spec validated
                    # against a schema a concurrent rename/drop replaced.
                    # All callers catch the conflict, re-read, re-validate,
                    # and retry — file-set changes still never conflict.
                    keys = {
                        # an append filled/validated its rows against the
                        # defaults set it read — a concurrent ADD COLUMN
                        # DEFAULT means the written files lack the column,
                        # so the append must re-fill and retry
                        "append": ("constraints", "generated", "defaults"),
                        "drop_constraint": ("constraints",),
                        "drop_generated": ("generated",),
                        "set_clustering": ("colmap", "dropped", "clustering"),
                    }[operation]
                    intervening = [
                        c
                        for c in (
                            self._read_commit(iv)
                            for iv in self._versions()
                            if iv > read_version
                        )
                        if any(c.get(k) is not None for k in keys)
                        or (operation == "set_clustering" and c.get("schema") is not None)
                    ]
                    if intervening:
                        raise CommitConflict(
                            f"{len(intervening)} commit(s) changed metadata "
                            f"{keys} since version {read_version}; "
                            "re-validate against the fresh snapshot"
                        )
            payload = {
                "version": v,
                "operation": operation,
                "adds": list(adds),
                "removes": list(removes),
                "schema": schema_json,
                "app_txn_id": app_txn_id,
                "stats": stats or {},
                "dvs": dvs or {},
                "constraints": constraints,  # None = unchanged
                "colmap": colmap,  # None = unchanged
                "dropped": dropped,  # None = unchanged
                "generated": generated,  # None = unchanged
                "clustering": clustering,  # None = unchanged
                "defaults": defaults,  # None = unchanged
                "timestamp": time.time_ns() // 1_000_000,
            }
            tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump(payload, f)
            try:
                os.link(tmp, self._commit_path(v))  # atomic create-no-overwrite
                self._maybe_checkpoint(v)
                return v
            except FileExistsError:
                if read_version is None:
                    read_version = v - 1  # force validation on the retry
                continue
            finally:
                os.unlink(tmp)

    def _enforce_constraints(self, df: DataFrame, constraints: dict) -> None:
        """Reject a write whose rows fail any CHECK constraint — SQL CHECK
        semantics (only FALSE violates; NULL predicates pass). One
        validation action per constraint, the same cost class as
        replace_where's region check."""
        for name, sql in sorted(constraints.items()):
            if not df.filter(~F.expr(sql)).isEmpty():
                raise ConstraintViolation(
                    f"CHECK constraint {name!r} ({sql}) violated by incoming rows"
                )

    def add_constraint(self, spark: SparkSession, name: str, sql_predicate: str) -> int:
        """ADD a CHECK constraint (Delta ``ALTER TABLE ADD CONSTRAINT``):
        existing rows must already satisfy it (validated with one read of
        the current snapshot), and every later write is validated against
        it before committing. The commit is metadata-only but
        key-resolving: rows appended concurrently were never validated, so
        it conflicts rather than silently blessing them."""
        rv = self.version()
        state = self._state(rv)
        cons = dict(state["constraints"])
        if name in cons:
            raise ValueError(f"constraint already exists: {name}")
        if not self.read(spark, rv).filter(~F.expr(sql_predicate)).isEmpty():
            raise ConstraintViolation(
                f"existing rows violate CHECK constraint {name!r} ({sql_predicate})"
            )
        cons[name] = sql_predicate
        return self.commit(
            adds=[],
            removes=[],
            operation="set_constraint",
            read_version=rv,
            constraints=cons,
        )

    def rename_column(self, old: str, new: str) -> int:
        """RENAME COLUMN without touching a byte of data (Delta column
        mapping): the logical schema gets the new name while the mapping
        keeps pointing at the original PHYSICAL parquet column, which
        never changes — so every historical file, its per-file stats, its
        blooms, and its deletion vectors keep working. Metadata-only, one
        commit. Constraints referencing the old name must be dropped
        first (their SQL would silently stop binding)."""
        rv = self.version()
        state = self._state(rv)
        schema = (
            StructType.fromJson(json.loads(state["schema"]))
            if state["schema"]
            else None
        )
        if schema is None:
            raise ValueError(f"no such table (empty log): {self.path}")
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no such column: {old!r}")
        if new in names:
            raise ValueError(f"column already exists: {new!r}")
        for cname, sql in state["constraints"].items():
            if re.search(rf"\b{re.escape(old)}\b", sql):
                raise ValueError(
                    f"constraint {cname!r} references column {old!r}; drop "
                    "it before renaming"
                )
        for gname, sql in state["generated"].items():
            if gname == old or re.search(rf"\b{re.escape(old)}\b", sql):
                raise ValueError(
                    f"generated column {gname!r} involves column {old!r}; "
                    "drop its rule before renaming"
                )
        cm = dict(state["colmap"])
        cm[new] = cm.pop(old, old)
        new_schema = StructType(
            [
                StructField(new if f.name == old else f.name, f.dataType, f.nullable, f.metadata)
                for f in schema.fields
            ]
        )
        return self.commit(
            adds=[],
            removes=[],
            operation="rename_column",
            schema_json=new_schema.json(),
            colmap=cm,
            read_version=rv,
            # the clustering spec follows the logical rename
            clustering=[new if c == old else c for c in state["clustering"]],
            # a DEFAULT follows its column (literal SQL: only the key moves)
            defaults={
                (new if k == old else k): v
                for k, v in state["defaults"].items()
            },
        )

    def drop_column(self, name: str) -> int:
        """DROP COLUMN without rewriting data: the logical schema loses
        the field and reads stop selecting its physical column (the bytes
        stay in historical files — time travel to pre-drop versions still
        shows them). The physical name is tombstoned so schema evolution
        can never re-add it and resurrect the old values."""
        rv = self.version()
        state = self._state(rv)
        schema = (
            StructType.fromJson(json.loads(state["schema"]))
            if state["schema"]
            else None
        )
        if schema is None:
            raise ValueError(f"no such table (empty log): {self.path}")
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"no such column: {name!r}")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        for cname, sql in state["constraints"].items():
            if re.search(rf"\b{re.escape(name)}\b", sql):
                raise ValueError(
                    f"constraint {cname!r} references column {name!r}; drop "
                    "it before dropping the column"
                )
        for gname, sql in state["generated"].items():
            if gname != name and re.search(rf"\b{re.escape(name)}\b", sql):
                raise ValueError(
                    f"generated column {gname!r} references column {name!r}; "
                    "drop its rule before dropping the column"
                )
        cm = dict(state["colmap"])
        physical = cm.pop(name, name)
        new_schema = StructType([f for f in schema.fields if f.name != name])
        return self.commit(
            adds=[],
            removes=[],
            operation="drop_column",
            schema_json=new_schema.json(),
            colmap=cm,
            dropped=sorted(set(state["dropped"]) | {physical}),
            read_version=rv,
            # dropping a generated column drops its rule; the clustering
            # spec loses the column either way
            generated={k: v for k, v in state["generated"].items() if k != name},
            clustering=[c for c in state["clustering"] if c != name],
            defaults={k: v for k, v in state["defaults"].items() if k != name},
        )

    def drop_constraint(self, name: str) -> int:
        """DROP a CHECK constraint — metadata-only, but conflict-checked:
        the commit carries the full REPLACEMENT constraint set, so
        publishing it blind would silently clobber a constraint added
        between the state read and the commit. On conflict, re-read the
        fresh set and re-apply the drop to it."""
        while True:
            rv = self.version()
            cons = dict(self._state(rv)["constraints"])
            if name not in cons:
                raise ValueError(f"no such constraint: {name}")
            del cons[name]
            try:
                return self.commit(
                    adds=[],
                    removes=[],
                    operation="drop_constraint",
                    constraints=cons,
                    read_version=rv,
                )
            except CommitConflict:
                continue  # constraint set moved: drop from the fresh one

    def constraints(self) -> dict:
        """Active CHECK constraints, name → SQL predicate."""
        return dict(self._state()["constraints"])

    # -- generated columns + clustering spec --------------------------------

    def _apply_defaults(self, df: DataFrame, state: dict) -> DataFrame:
        """Column-DEFAULT write semantics: a defaulted column ABSENT from
        the incoming frame is filled with its default; an explicit NULL in
        a provided column is replaced by it (DEFAULT-on-NULL — together
        with the read-side coalesce this makes the default total, so the
        pre-add files' physical NULLs are unambiguous). Runs BEFORE
        generated-column handling so a generation rule may reference a
        defaulted column."""
        if not state["defaults"]:
            return df
        types = {}
        if state["schema"]:
            types = {
                f.name: f.dataType
                for f in StructType.fromJson(json.loads(state["schema"])).fields
            }
        for name, sql in sorted(state["defaults"].items()):
            expr = F.expr(sql)
            if name in types:
                expr = expr.cast(types[name])
            if name not in df.columns:
                df = df.withColumn(name, expr)
            else:
                df = df.withColumn(name, F.coalesce(F.col(name), expr))
        return df

    def _apply_generated(self, df: DataFrame, state: dict) -> DataFrame:
        """Delta GENERATED ALWAYS AS semantics on a write: a generated
        column ABSENT from the incoming frame is computed from its
        expression; one PROVIDED by the writer is validated against it
        (one bounded action per provided column — same cost class as a
        CHECK constraint) so a writer can never silently store a value
        that disagrees with the rule."""
        types = {}
        if state["schema"]:
            types = {
                f.name: f.dataType
                for f in StructType.fromJson(json.loads(state["schema"])).fields
            }
        for name, sql in sorted(state["generated"].items()):
            expr = F.expr(sql)
            if name in types:
                expr = expr.cast(types[name])  # pin the declared type
            if name not in df.columns:
                df = df.withColumn(name, expr)
            elif not df.filter(~F.col(name).eqNullSafe(expr)).isEmpty():
                raise ConstraintViolation(
                    f"generated column {name!r} provided with values that "
                    f"disagree with its expression ({sql})"
                )
        return df

    def set_generated_column(
        self, spark: SparkSession, name: str, sql_expr: str
    ) -> int:
        """Declare ``name`` GENERATED ALWAYS AS ``sql_expr`` (a SQL
        expression over the table's other columns). The column must exist;
        existing rows must already satisfy the rule (validated with one
        read, like ADD CONSTRAINT). Metadata-only commit; key-resolving
        under the concurrency rules — rows appended concurrently were
        never validated, and appends conflict on this commit symmetrically."""
        rv = self.version()
        state = self._state(rv)
        schema = (
            StructType.fromJson(json.loads(state["schema"]))
            if state["schema"]
            else None
        )
        if schema is None:
            raise ValueError(f"no such table (empty log): {self.path}")
        if name not in [f.name for f in schema.fields]:
            raise ValueError(
                f"no such column: {name!r} (generated columns are declared "
                "over an existing column; add it via a write first)"
            )
        if name in state["generated"]:
            raise ValueError(f"column already generated: {name}")
        bad = self.read(spark, rv).filter(~F.col(name).eqNullSafe(F.expr(sql_expr)))
        if not bad.isEmpty():
            raise ConstraintViolation(
                f"existing rows violate generated-column rule {name!r} "
                f"({sql_expr})"
            )
        gen = dict(state["generated"])
        gen[name] = sql_expr
        return self.commit(
            adds=[],
            removes=[],
            operation="set_generated",
            read_version=rv,
            generated=gen,
        )

    def drop_generated_column_rule(self, name: str) -> int:
        """Remove the generation rule (the column itself stays — it simply
        becomes a plain writable column again)."""
        while True:
            rv = self.version()
            gen = dict(self._state(rv)["generated"])
            if name not in gen:
                raise ValueError(f"no such generated column: {name}")
            del gen[name]
            try:
                return self.commit(
                    adds=[],
                    removes=[],
                    operation="drop_generated",
                    generated=gen,
                    read_version=rv,
                )
            except CommitConflict:
                continue

    def generated_columns(self) -> dict:
        """Active generation rules, column → SQL expression."""
        return dict(self._state()["generated"])

    def add_column(
        self,
        spark: SparkSession,
        name: str,
        data_type: str,
        default_sql: str | None = None,
    ) -> int:
        """ADD COLUMN without touching a byte of data (Delta ``ALTER TABLE
        ADD COLUMN [...] DEFAULT ...``): one metadata commit appends the
        nullable field to the logical schema; historical files simply lack
        the physical column and read back NULL — or, with ``default_sql``,
        the default (existsDefault). The default must be a LITERAL
        expression (Delta's own restriction): it is validated by
        evaluating it standalone, so a column reference fails loudly here
        instead of at some later read. Write paths fill the column when a
        frame omits it and replace explicit NULLs with it (DEFAULT-on-
        NULL), which is what makes the read-side coalesce exact rather
        than a guess.

        Interactions covered by the same machinery as the other schema
        metadata: the resurrection/collision tombstone guards apply, the
        default follows renames and dies with a drop, and RESTORE /
        clone / checkpoint carry it with the snapshot."""
        dtype = data_type  # validated via the probe select below
        if default_sql is not None:
            try:
                # SELECT without FROM: only constants can bind — a column
                # reference (non-literal default) raises here
                probe = spark.sql(
                    f"SELECT CAST(({default_sql}) AS {dtype}) AS v"
                )
                probe.collect()
            except Exception as e:
                raise ValueError(
                    f"default for {name!r} must be a literal expression "
                    f"castable to {dtype}: {e}"
                ) from e
        else:
            # still validate the type string itself
            spark.sql(f"SELECT CAST(NULL AS {dtype}) AS v").collect()
        while True:
            rv = self.version()
            state = self._state(rv)
            schema = (
                StructType.fromJson(json.loads(state["schema"]))
                if state["schema"]
                else None
            )
            if schema is None:
                raise ValueError(f"no such table (empty log): {self.path}")
            if name in [f.name for f in schema.fields]:
                raise ValueError(f"column already exists: {name!r}")
            if name in set(state["dropped"]):
                raise ValueError(
                    f"column name {name!r} was previously dropped and its "
                    "data persists in historical files; adding it back "
                    "would resurrect old values — pick a new name or "
                    "rewrite via create_or_replace"
                )
            if name in set(state["colmap"].values()):
                raise ValueError(
                    f"column name {name!r} is the physical storage name of "
                    "a renamed column; adding it would collide on disk — "
                    "pick a new name or rewrite via create_or_replace"
                )
            field_type = (
                spark.sql(f"SELECT CAST(NULL AS {dtype}) AS v").schema.fields[0].dataType
            )
            new_schema = StructType(
                [*schema.fields, StructField(name, field_type, True)]
            )
            defaults = dict(state["defaults"])
            if default_sql is not None:
                defaults[name] = default_sql
            try:
                return self.commit(
                    adds=[],
                    removes=[],
                    operation="add_column",
                    schema_json=new_schema.json(),
                    read_version=rv,
                    defaults=defaults,
                )
            except CommitConflict:
                continue  # metadata moved: re-validate against the fresh state

    def column_defaults(self) -> dict:
        """Active column defaults, name → literal SQL expression."""
        return dict(self._state()["defaults"])

    def set_clustering(self, cols: Sequence[str]) -> int:
        """Evolve the clustering spec (Iceberg partition-spec evolution /
        Delta ALTER TABLE CLUSTER BY): NEW files cluster by ``cols``;
        existing files keep their old layout untouched — pruning here is
        stats-based, never path-based, so mixing generations in one table
        is sound and the evolution costs one metadata commit, zero
        rewrites. Pass ``[]`` to stop clustering.

        Conflict-checked against concurrent renames/drops/spec changes:
        the spec's column names were validated against a snapshot's
        schema, so an intervening schema/mapping commit forces
        re-validation (publishing blind could pin a spec naming a column
        that no longer exists — every later clustered write would then
        fail)."""
        while True:
            rv = self.version()
            state = self._state(rv)
            schema = (
                StructType.fromJson(json.loads(state["schema"]))
                if state["schema"]
                else None
            )
            if schema is None:
                raise ValueError(f"no such table (empty log): {self.path}")
            names = {f.name for f in schema.fields}
            missing = [c for c in cols if c not in names]
            if missing:
                raise ValueError(f"no such column(s): {missing}")
            try:
                return self.commit(
                    adds=[],
                    removes=[],
                    operation="set_clustering",
                    clustering=list(cols),
                    read_version=rv,
                )
            except CommitConflict:
                continue  # schema/mapping moved: re-validate the spec

    def clustering(self) -> list:
        """The clustering spec new files are written under."""
        return list(self._state()["clustering"])

    def create_or_replace(
        self,
        df: DataFrame,
        cluster_by: Sequence[str] | None = None,
        app_txn_id: str | None = None,
    ) -> int:
        """Full-snapshot replace: add the new file set, remove every
        currently-active file, one commit. CHECK constraints, generated
        columns, and the clustering spec survive the replace (table
        properties, not data); the incoming snapshot is validated/filled
        accordingly. An explicit ``cluster_by`` overrides the spec for
        this write only — including an explicit ``[]``, which writes
        unclustered (None means "use the table spec"; the distinction
        matters when the replacement frame no longer has the spec's
        columns)."""
        rv = self.version()
        cr_state = self._state(rv)
        df = self._apply_defaults(df, cr_state)
        df = self._apply_generated(df, cr_state)
        self._enforce_constraints(df, cr_state["constraints"])
        spec = list(cluster_by) if cluster_by is not None else cr_state["clustering"]
        # A replace may change the schema freely: a surviving spec whose
        # columns the new frame lacks degrades to unclustered instead of
        # crashing the repartition (the spec itself stays in metadata for
        # frames that do carry the columns).
        spec = [c for c in spec if c in df.columns]
        adds, stats = self._write_data(df, spec)
        return self.commit(
            adds=adds,
            removes=self.snapshot_files(),
            operation="create_or_replace",
            schema_json=df.schema.json(),
            app_txn_id=app_txn_id,
            read_version=rv,
            stats=stats,
            # A full rewrite replaces every file, so the column mapping and
            # the dropped-name tombstones reset (nothing old to resurrect).
            # The clustering spec survives but drops columns the new schema
            # no longer carries — a later append must never crash on a spec
            # naming a column the replace removed.
            colmap={},
            dropped=[],
            clustering=[
                c for c in cr_state["clustering"] if c in df.columns
            ],
        )

    def append(self, df: DataFrame, app_txn_id: str | None = None) -> int:
        """Blind append: retry-safe against file-set changes (no removes to
        conflict on), but NOT against constraint changes — rows validated
        against a pre-read constraint set must never publish past a
        concurrent ADD CONSTRAINT (set_constraint cannot see not-yet-
        committed adds, so the append side carries the check). The commit
        conflicts on intervening constraint commits; this loop re-reads,
        re-validates the same already-written files, and retries."""
        adds: list[str] | None = None
        stats: dict = {}
        # generated + defaults sets the on-disk files were computed under
        written_under: tuple | None = None
        while True:
            rv = self.version()
            a_state = self._state(rv)
            full = self._apply_generated(self._apply_defaults(df, a_state), a_state)
            self._enforce_constraints(full, a_state["constraints"])
            if adds is not None and written_under != (
                a_state["generated"],
                a_state["defaults"],
            ):
                # The files on disk were computed under a superseded
                # generated-rule set: publishing them would store values
                # that disagree with the now-active rules — rewrite.
                # (The orphaned first-attempt files are never referenced
                # by any commit; vacuum sweeps them.)
                adds = None
            if adds is None:
                adds, stats = self._write_data(
                    full,
                    cluster_by=a_state["clustering"],
                    colmap=a_state["colmap"],
                )
                written_under = (
                    dict(a_state["generated"]),
                    dict(a_state["defaults"]),
                )
            try:
                return self.commit(
                    adds=adds,
                    removes=[],
                    operation="append",
                    schema_json=full.schema.json(),
                    app_txn_id=app_txn_id,
                    read_version=rv,
                    stats=stats,
                )
            except CommitConflict:
                continue  # constraints moved: validate against the fresh set

    def merge_keep_latest(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: Sequence[str],
        order_by: Sequence[Column],
        app_txn_id: str | None = None,
    ) -> int:
        """Copy-on-write MERGE: rewrite ONLY the data files containing a
        matched key; every other active file carries over by reference.
        Matched rows resolve to the winner under ``order_by`` (keep-latest,
        the dbt merge semantics); unmatched source rows insert.

        Like SQL MERGE INTO, the target is assumed to hold ONE row per key
        (the invariant this operation itself maintains when the table is
        created from deduplicated data). A target with duplicate keys gets
        file-layout-dependent resolution: dup rows inside a rewritten file
        collapse to the winner, dup rows in untouched files carry over."""
        if not self.exists():
            return self.create_or_replace(source, app_txn_id=app_txn_id)
        rv = self.version()
        state = self._state(rv)
        schema = self.snapshot_schema(rv)
        files = list(state["active"])
        source = self._apply_defaults(source, state)
        source = self._apply_generated(source, state)
        self._enforce_constraints(source, state["constraints"])
        # Even with no matching target rows, the SOURCE may carry several
        # rows for one key: resolve them keep-latest before writing (an
        # empty-target merge_upsert), or a duplicate-keyed source would
        # land as duplicate table rows.
        src_only = lambda: merge_upsert(  # noqa: E731 - local shorthand
            source.filter(F.lit(False)), source, keys=list(keys), order_by=list(order_by)
        )
        if not files:
            adds, stats = self._write_data(src_only(), colmap=state["colmap"])
            return self.commit(
                adds, [], "merge", source.schema.json(), app_txn_id, rv, stats
            )
        # Data skipping: a file whose recorded [min, max] on every stat key
        # is disjoint from the source's key range cannot contain a match —
        # it is excluded from the scan entirely, not just from the rewrite.
        scan_files = self._prune_by_stats(files, source, keys, state)
        abs_of = {os.path.join(self.path, f): f for f in scan_files}
        if not abs_of:
            adds, stats = self._write_data(src_only(), colmap=state["colmap"])
            return self.commit(
                adds, [], "merge", source.schema.json(), app_txn_id, rv, stats
            )
        # _file is captured BEFORE the DV anti-join: input_file_name() only
        # resolves on the direct scan, not across the join. (_scan_logical
        # is a projection over the scan, so both still resolve through it.)
        tgt = self._apply_dvs(
            self._scan_logical(spark, state, schema, scan_files).withColumn(
                "_file", F.input_file_name()
            ),
            spark,
            state["dvs"],
            scan_files,
        )
        key_set = source.select(*keys).distinct()
        hit_abs = [
            r["_file"]
            for r in tgt.join(F.broadcast(key_set), list(keys), "left_semi")
            .select("_file")
            .distinct()
            .collect()  # one row per FILE — bounded by file count, not rows
        ]
        # Map URIs back to log-relative paths by BASENAME: part-file names
        # are globally unique (per-commit uuid dirs + Spark's task uuids),
        # and input_file_name() returns a percent-encoded URI whose scheme
        # and escaping (file://, s3a://, %20 for spaces) would break any
        # prefix-stripping comparison against raw filesystem paths.
        rel_by_base = {os.path.basename(rel): rel for rel in scan_files}
        # Structural guarantee, not just a documented argument: if two scan
        # files ever shared a basename across commit dirs, the URI→log-path
        # mapping would silently mis-attribute rewrites. Fail loudly instead.
        assert len(rel_by_base) == len(scan_files), (
            "duplicate parquet basename across commit directories; "
            "file attribution by basename is unsound for this table"
        )
        hit_rel = [rel_by_base[os.path.basename(p)] for p in hit_abs]
        affected = (
            tgt.filter(F.col("_file").isin(hit_abs)).drop("_file")
            if hit_abs
            else spark.createDataFrame([], schema)
        )
        merged = merge_upsert(affected, source, keys=list(keys), order_by=list(order_by))
        adds, stats = self._write_data(merged, colmap=state["colmap"])
        return self.commit(
            adds=adds,
            removes=hit_rel,
            operation="merge",
            schema_json=merged.schema.json(),
            app_txn_id=app_txn_id,
            read_version=rv,
            stats=stats,
        )

    def delete_where(
        self,
        spark: SparkSession,
        where: Sequence[tuple],
        app_txn_id: str | None = None,
    ) -> int:
        """File-granular copy-on-write DELETE (Delta ``DELETE WHERE``; the
        GDPR right-to-be-forgotten path): only files whose per-file stats
        say they COULD hold a matching row are read and rewritten without
        the matches; every other file carries over by reference. The same
        ``(col, op, value)`` predicate triples as :meth:`read`. At 100 TB
        with key-clustered files (OPTIMIZE + stats) a targeted delete
        touches a handful of files, not the table."""
        rv = self.version()
        state = self._state(rv)
        files = list(state["active"])
        schema = (
            StructType.fromJson(json.loads(state["schema"]))
            if state["schema"]
            else None
        )
        if schema is None:
            raise ValueError(f"no such table (empty log): {self.path}")
        candidates = _skip_by_stats(
            files, state["stats"], self._where_physical(state, where)
        )
        if not candidates:
            return rv  # provably nothing to delete
        kept_rows = self._apply_dvs(
            self._scan_logical(spark, state, schema, candidates),
            spark,
            state["dvs"],
            candidates,
        ).filter(~_predicate_expr(where))
        adds, stats = self._write_data(kept_rows, colmap=state["colmap"])
        return self.commit(
            adds=adds,
            removes=candidates,
            operation="delete",
            schema_json=None,
            app_txn_id=app_txn_id,
            read_version=rv,
            stats=stats,
        )

    def restore(self, version: int, app_txn_id: str | None = None) -> int:
        """Roll the table back to a historical version AS A NEW COMMIT
        (Delta RESTORE): the target version's file set becomes active
        again by reference — no data is copied or rewritten, history is
        preserved (the bad versions stay readable for forensics), and
        vacuum keeps every referenced file. The instant-undo for a bad
        merge/backfill."""
        t_state = self._state(version)
        c_state = self._state()
        target = set(t_state["active"])
        current = set(c_state["active"])
        # DV assignments roll back with the file set: files active in both
        # versions restore the TARGET's vector (null clears one added
        # since — un-deleting the rows, which is the point of RESTORE).
        dv_delta = {
            f: t_state["dvs"].get(f)
            for f in target
            if t_state["dvs"].get(f) != c_state["dvs"].get(f)
        }
        meta_same = (
            t_state["colmap"] == c_state["colmap"]
            and t_state["dropped"] == c_state["dropped"]
            and t_state["constraints"] == c_state["constraints"]
            and t_state["generated"] == c_state["generated"]
            and t_state["clustering"] == c_state["clustering"]
            and t_state["defaults"] == c_state["defaults"]
        )
        if target == current and not dv_delta and meta_same:
            return self.version()  # already there: no-op
        schema = t_state["schema"]
        stats = {f: s for f, s in t_state["stats"].items() if f in target}
        return self.commit(
            adds=sorted(target - current),
            removes=sorted(current - target),
            operation="restore",
            schema_json=schema,
            app_txn_id=app_txn_id,
            read_version=self.version(),
            stats=stats,
            dvs=dv_delta,
            # The column mapping (and its tombstones) are part of the
            # snapshot being restored: without them the restored logical
            # schema would resolve to physical names the files don't have.
            colmap=dict(t_state["colmap"]),
            dropped=list(t_state["dropped"]),
            # CHECK constraints restore with the snapshot as well (Delta
            # RESTORE rolls table metadata back alongside the file set):
            # keeping the CURRENT set would report a full restore while
            # re-activating rows that were never validated against it —
            # the target version's rows are valid under the target's own
            # constraints by construction. Generated-column rules and the
            # clustering spec are the same class of metadata.
            constraints=dict(t_state["constraints"]),
            generated=dict(t_state["generated"]),
            clustering=list(t_state["clustering"]),
            defaults=dict(t_state["defaults"]),
        )

    def clone_shallow(
        self,
        dest: str,
        version: int | None = None,
        app_txn_id: str | None = None,
    ) -> "TxnLogTable":
        """Zero-copy SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW
        CLONE``): the clone's first commit references the source's active
        files at ``version`` by ABSOLUTE path — no data moves, the clone of
        a 100 TB table is one metadata commit. Works because the log never
        requires files to live under the table root: ``os.path.join(root,
        f)`` passes an absolute ``f`` through untouched on every read path.

        Subsequent writes are the usual copy-on-write: files the clone
        rewrites land under the CLONE's root while untouched source files
        stay referenced, and neither table's commits ever alter the other's
        snapshot (the dev/test-fork + experiment-branch workflow). The
        clone's ``vacuum`` only ever deletes files under its own root, so
        it cannot damage the source. Shared Delta caveat, inherited
        deliberately: vacuuming the SOURCE can delete files a clone still
        references — clones must not outlive their source's retention.
        Re-cloning onto an existing destination replaces its file set (one
        "clone" commit, which conflicts with concurrent writers like any
        other key-resolving operation)."""
        if os.path.abspath(dest.rstrip("/")) == os.path.abspath(self.path):
            raise ValueError("clone destination must differ from the source table")
        state = self._state(version)
        if state["schema"] is None:
            raise ValueError(f"no such table (empty log): {self.path}")
        dest_t = TxnLogTable(
            dest,
            stat_cols=self.stat_cols,
            checkpoint_interval=self.checkpoint_interval,
        )
        adds = [os.path.join(self.path, f) for f in state["active"]]
        # Per-file min/max stats transfer with the files (immutable), so
        # stats-based skipping works on the clone from commit 0. Deletion
        # vectors transfer the same way — by absolute reference — so the
        # clone reads the same live rows as the source snapshot.
        stats = {os.path.join(self.path, f): s for f, s in state["stats"].items()}
        dvs = {
            os.path.join(self.path, f): (
                d if os.path.isabs(d) else os.path.join(self.path, d)
            )
            for f, d in state["dvs"].items()
        }
        dest_t.commit(
            adds=adds,
            removes=dest_t.snapshot_files(),
            operation="clone",
            schema_json=state["schema"],
            app_txn_id=app_txn_id,
            read_version=dest_t.version(),
            stats=stats,
            dvs=dvs,
            # The clone reads the source's physical files: it needs the
            # source's column mapping (and keeps its tombstones so the
            # same resurrection rules apply to writes into the clone).
            # CHECK constraints, generated rules, and the clustering spec
            # travel with the snapshot's other metadata.
            colmap=dict(state["colmap"]),
            dropped=list(state["dropped"]),
            constraints=dict(state["constraints"]),
            generated=dict(state["generated"]),
            clustering=list(state["clustering"]),
            defaults=dict(state["defaults"]),
        )
        return dest_t

    def replace_where(
        self,
        spark: SparkSession,
        where: Sequence[tuple],
        new_rows: DataFrame,
        app_txn_id: str | None = None,
    ) -> int:
        """Atomic partition/range overwrite (Delta's ``replaceWhere``): in
        ONE commit, rows matching ``where`` are deleted and ``new_rows``
        are inserted — the idempotent backfill/restatement primitive (no
        reader ever sees the region missing, unlike delete-then-append).
        Stats-pruned like DELETE: only files that could hold a match are
        rewritten; everything else carries over by reference.

        Every ``new_rows`` row must itself satisfy ``where`` (writing
        outside the declared region would silently corrupt neighboring
        partitions — rejected loudly, Delta's rule). Costs one validation
        action over the new rows."""
        rv = self.version()
        state = self._state(rv)
        # Generated columns fill in BEFORE the region check: the region
        # predicate may well be ON the generated column (partition-style
        # backfills usually are).
        new_rows = self._apply_defaults(new_rows, state)
        new_rows = self._apply_generated(new_rows, state)
        violating = new_rows.filter(~_predicate_expr(where))
        if not violating.isEmpty():
            raise ValueError(
                "replace_where: new rows fall outside the declared region; "
                "refusing to write beyond the predicate"
            )
        self._enforce_constraints(new_rows, state["constraints"])
        files = list(state["active"])
        schema = (
            StructType.fromJson(json.loads(state["schema"]))
            if state["schema"]
            else None
        )
        candidates = (
            _skip_by_stats(
                files, state["stats"], self._where_physical(state, where)
            )
            if schema is not None
            else []
        )
        if candidates:
            kept = self._apply_dvs(
                self._scan_logical(spark, state, schema, candidates),
                spark,
                state["dvs"],
                candidates,
            ).filter(~_predicate_expr(where))
            combined = kept.unionByName(new_rows.select(*kept.columns))
        else:
            combined = new_rows
        adds, stats = self._write_data(combined, colmap=state["colmap"])
        return self.commit(
            adds=adds,
            removes=candidates,
            operation="replace_where",
            schema_json=combined.schema.json(),
            app_txn_id=app_txn_id,
            read_version=rv,
            stats=stats,
        )

    def table_changes(
        self, spark: SparkSession, from_version: int, to_version: int
    ) -> DataFrame:
        """Row-level change feed between two versions (Delta CDF semantics,
        derived rather than stored): ``_change_type`` ∈ insert | delete; an
        update surfaces as a delete+insert pair.

        Scale story: only the files ADDED or REMOVED between the two
        versions are read — files carried over by reference (the vast
        majority under file-granular COW) are never scanned, so the cost
        tracks the delta, not the table. Within the touched file sets,
        row-level changes are the multiset differences (EXCEPT ALL both
        ways): rows merely rewritten into new files (COW carry-overs inside
        a touched file) cancel out and do not appear as changes."""
        if to_version < from_version:
            raise ValueError("to_version must be >= from_version")
        before_state = self._state(from_version)
        before = set(before_state["active"])
        after_state = self._state(to_version)
        after = set(after_state["active"])
        schema = (
            StructType.fromJson(json.loads(after_state["schema"]))
            if after_state["schema"]
            else None
        )
        if schema is None:
            raise ValueError(f"no such table (empty log): {self.path}")
        # A file whose DV ASSIGNMENT changed between the versions changed
        # row content without changing the file set — it is touched on both
        # sides (each side read under its own version's vector), and the
        # multiset difference surfaces exactly the vectored-out rows as
        # deletes. Untouched files still never scan.
        dv_changed = {
            f
            for f in before & after
            if before_state["dvs"].get(f) != after_state["dvs"].get(f)
        }

        def _read(files: set[str], state: dict) -> DataFrame:
            if not files:
                return spark.createDataFrame([], schema)
            # Column mapping: each side's files read under THAT side's
            # physical schema (the invariant "a version's mapping reads its
            # own files" — the after mapping is wrong for before-files once
            # a create_or_replace reset it). Columns then align across the
            # versions by PHYSICAL name — the stable identity renames
            # preserve; a physical name absent on this side (column added,
            # or replaced wholesale) backfills typed NULL, the same
            # semantics evolution gives a single-version read.
            side_logical = (
                StructType.fromJson(json.loads(state["schema"]))
                if state["schema"]
                else schema
            )
            side_phys = self._physical_schema(state, side_logical)
            side_phys_names = {f.name for f in side_phys.fields}
            df = spark.read.schema(side_phys).parquet(
                *[os.path.join(self.path, f) for f in sorted(files)]
            )
            after_cm = after_state["colmap"]
            # This side's existsDefaults, keyed by PHYSICAL name (defaults
            # follow renames, so the side's colmap translates them): a file
            # predating an ADD COLUMN ... DEFAULT must surface the default
            # in the change feed exactly as every read of that version did —
            # otherwise a pre-add row's delete emits NULL where reads said
            # DEFAULT, and a COW rewrite of a pre-add file would phantom-
            # diff against post-add files. The coalesce is total for the
            # same reason as _scan_logical's: write paths fill on omit/NULL.
            side_cm = state["colmap"]
            phys_defaults = {
                side_cm.get(n, n): sql for n, sql in state["defaults"].items()
            }
            cols = []
            for f in schema.fields:
                ph = after_cm.get(f.name, f.name)
                if ph in side_phys_names:
                    src = F.col(ph)
                    sql = phys_defaults.get(ph)
                    if sql is not None:
                        src = F.coalesce(src, F.expr(sql))
                    src = src.cast(f.dataType)
                else:
                    src = F.lit(None).cast(f.dataType)
                cols.append(src.alias(f.name))
            df = df.select(*cols)
            return self._apply_dvs(df, spark, state["dvs"], sorted(files))

        added_rows = _read((after - before) | dv_changed, after_state)
        removed_rows = _read((before - after) | dv_changed, before_state)
        inserts = added_rows.exceptAll(removed_rows).withColumn(
            "_change_type", F.lit("insert")
        )
        deletes = removed_rows.exceptAll(added_rows).withColumn(
            "_change_type", F.lit("delete")
        )
        return inserts.unionAll(deletes)

    def optimize(
        self,
        spark: SparkSession,
        target_files: int = 1,
        cluster_by: Sequence[str] = (),
        morton: bool = False,
    ) -> int:
        """Compact the active file set into ``target_files`` files — one
        add/remove commit; time travel to pre-compaction versions still
        resolves the old files.

        ``cluster_by`` composes compaction with linear z-order-style
        clustering (the reference's ``rewrite_data_files`` sort/zorder,
        ``bronze_compaction.py:141-151``): rows range-partition across the
        output files on the cluster keys and sort within each file. Because
        ``stat_cols`` min/max are re-collected on the rewritten files, each
        file's recorded range tightens to its slice of the key space — so
        post-OPTIMIZE, ``read(where=...)`` and MERGE data skipping prune
        MORE files for the same predicate. Compaction without ``cluster_by``
        preserves arrival order (coalesce, no shuffle)."""
        rv = self.version()
        opt_state = self._state(rv)
        files = list(opt_state["active"])
        # A table carrying deletion vectors is never "already optimal":
        # compaction is what materializes the DVs back into plain files.
        if not cluster_by and len(files) <= target_files and not opt_state["dvs"]:
            return rv
        df = self.read(spark, rv)
        if cluster_by and morton:
            # True z-order: interleaved-bit key localizes EVERY cluster
            # column, so single-dimension probes prune post-OPTIMIZE files
            # on any of them (Delta OPTIMIZE ZORDER semantics).
            from .writers import cluster_zorder_morton

            df = cluster_zorder_morton(df, cluster_by, target_files)
        elif cluster_by:
            cols = [F.col(c) for c in cluster_by]
            df = df.repartitionByRange(target_files, *cols).sortWithinPartitions(*cols)
        else:
            df = df.coalesce(target_files)
        adds, stats = self._write_data(df, colmap=opt_state["colmap"])
        return self.commit(
            adds=adds,
            removes=files,
            operation="optimize",
            schema_json=None,
            read_version=rv,
            stats=stats,
        )

    def maintenance_plan(
        self,
        target_file_bytes: int = 256 * 1024 * 1024,
        min_compaction_files: int = 4,
    ) -> list[dict]:
        """Advise which maintenance operations this table needs — the
        policy loop a table service runs per table (the reference schedules
        the equivalent Iceberg calls from its DAG,
        ``bronze_compaction.py``). Metadata-only: file sizes come from the
        filesystem (O(#files) stat calls), nothing is scanned. Returns a
        list of findings, each ``{action, reason, ...counts}``; callers
        map actions onto :meth:`optimize` / :meth:`expire_log` /
        :meth:`vacuum`."""
        plan: list[dict] = []
        files = self.snapshot_files()
        sizes = []
        for f in files:
            try:
                sizes.append(os.path.getsize(os.path.join(self.path, f)))
            except OSError:
                sizes.append(0)
        small = sum(1 for s in sizes if s < target_file_bytes // 2)
        if small >= min_compaction_files:
            plan.append(
                {
                    "action": "optimize",
                    "reason": f"{small} files under half the {target_file_bytes}-byte target",
                    "n_files": len(files),
                    "n_small": small,
                    "target_files": max(1, sum(sizes) // target_file_bytes + 1),
                }
            )
        cp = self._checkpoint_info()
        tail = [v for v in self._versions() if cp is None or v < cp[0]]
        if cp is not None and tail:
            plan.append(
                {
                    "action": "expire_log",
                    "reason": f"{len(tail)} commit files predate checkpoint v{cp[0]}",
                    "n_expirable": len(tail),
                }
            )
        referenced = {a for c in self._commits() for a in c.get("adds", [])}
        if cp is not None:
            referenced.update(self._load_checkpoint(cp[1])["active"])
        data_root = os.path.join(self.path, _DATA_DIR)
        orphans = 0
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                full = os.path.join(data_root, d)
                fs = {
                    os.path.join(_DATA_DIR, d, f)
                    for f in os.listdir(full)
                    if f.endswith(".parquet")
                }
                if fs and not (fs & referenced):
                    orphans += len(fs)
        if orphans:
            plan.append(
                {
                    "action": "vacuum",
                    "reason": f"{orphans} data files referenced by no commit",
                    "n_orphans": orphans,
                }
            )
        return plan

    def vacuum(self, retention_seconds: float = 3600.0) -> list[str]:
        """Delete data files no active OR historical version references
        (aborted writers' leftovers). Files referenced by any commit are
        kept so every version stays readable.

        ``retention_seconds`` (default 1 h, Delta's VACUUM retention model):
        a data directory younger than the threshold is never touched, even
        if unreferenced — a concurrent writer that has finished
        ``_write_data`` but not yet published its commit would otherwise
        have its files deleted out from under a commit that then wins the
        ``os.link`` race. Pass ``0`` only when no concurrent writers exist
        (tests, single-writer maintenance windows)."""
        referenced: set[str] = set()
        referenced_dv: set[str] = set()
        for c in self._commits():
            referenced.update(c.get("adds", []))
            referenced_dv.update(d for d in (c.get("dvs") or {}).values() if d)
        # After expire_log(), pre-checkpoint adds survive only via the
        # checkpoint's active list — those files must never be vacuumed.
        cp = self._checkpoint_info()
        if cp is not None:
            cp_state = self._load_checkpoint(cp[1])
            referenced.update(cp_state["active"])
            referenced_dv.update(cp_state["dvs"].values())
        removed = []
        data_root = os.path.join(self.path, _DATA_DIR)
        if not os.path.isdir(data_root):
            return removed
        cutoff = time.time() - retention_seconds
        for d in os.listdir(data_root):
            rel_dir = os.path.join(_DATA_DIR, d)
            full = os.path.join(data_root, d)
            try:
                if os.path.getmtime(full) > cutoff:
                    continue  # possibly an in-flight writer: retention guard
            except OSError:
                continue
            files = {
                os.path.join(rel_dir, f)
                for f in os.listdir(full)
                if f.endswith(".parquet")
            }
            if files and not (files & referenced):
                for f in sorted(files):
                    os.unlink(os.path.join(self.path, f))
                    removed.append(f)
        # Deletion-vector sidecars sweep the same way: a DV directory no
        # commit (or the checkpoint) references belongs to an aborted or
        # superseded-and-expired delete; same retention guard applies.
        dv_root = os.path.join(self.path, _DV_DIR)
        if os.path.isdir(dv_root):
            import shutil

            for d in os.listdir(dv_root):
                rel_dir = os.path.join(_DV_DIR, d)
                full = os.path.join(dv_root, d)
                try:
                    if os.path.getmtime(full) > cutoff:
                        continue
                except OSError:
                    continue
                if rel_dir not in referenced_dv:
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(rel_dir)
        return removed


class TxnLogSink(TableSink):
    """S7 ``TableSink`` backed by the transaction log — the real
    table-format implementation of the contract (``ParquetDirSink`` is the
    plain-directory fallback)."""

    def __init__(
        self,
        partition_by: Sequence[str] = (),
        stat_cols: Sequence[str] = (),
        merge_strategy: str = "cow",
    ) -> None:
        self.partition_by = tuple(partition_by)
        # Per-file min/max stats are the data-skipping story; without them a
        # MERGE through the sink contract scans every file. When the caller
        # doesn't name stat columns, the merge keys are derived as stats at
        # merge time (the columns pruning actually happens on).
        self.stat_cols = tuple(stat_cols)
        # "cow" rewrites matched files (right when merges touch a large row
        # fraction); "mor" vectors matches and appends winners (right for
        # trickle upserts over big files — pair with periodic OPTIMIZE).
        if merge_strategy not in ("cow", "mor"):
            raise ValueError(f"unknown merge_strategy: {merge_strategy!r}")
        self.merge_strategy = merge_strategy

    def create_or_replace(
        self, df: DataFrame, table: str, partition_by: Sequence[str] = ()
    ) -> None:
        TxnLogTable(table, stat_cols=self.stat_cols).create_or_replace(
            df, cluster_by=tuple(partition_by) or self.partition_by
        )

    def merge_keep_latest(
        self,
        spark: SparkSession,
        table: str,
        source: DataFrame,
        keys: Sequence[str],
        order_by: Sequence[Column],
    ) -> None:
        t = TxnLogTable(table, stat_cols=self.stat_cols or tuple(keys))
        if self.merge_strategy == "mor":
            t.merge_keep_latest_mor(spark, source, keys, order_by)
        else:
            t.merge_keep_latest(spark, source, keys, order_by)

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return TxnLogTable(table).read(spark)
