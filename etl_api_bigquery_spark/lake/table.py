"""LakeTable — a from-scratch transactional table format on parquet.

The reference persists silver data in BigQuery native tables (partitioned +
clustered, mutated via SQL MERGE/DELETE — see reference
src/features/nhanh/bills/components/loader.py:327-583 and
sql/schema_clean.sql:39-65) and bronze data as one-live-file-per-partition
parquet on GCS (src/shared/gcs/loader.py:173-224, 244-391). Neither Iceberg nor
Delta jars are available in this environment, so this module implements the
table-format layer those systems provide, from scratch, with the same core
guarantees:

* **Atomic commits / snapshot isolation** — every mutation is a JSON commit
  file in ``_log/`` created with O_EXCL (atomic on POSIX); readers replay the
  log to a consistent file set. Concurrent writers race on the commit file and
  the loser gets :class:`CommitConflictError` (optimistic concurrency, like
  Iceberg).
* **Bucket partition spec** — rows are assigned ``_bucket =
  pmod(xxhash64(*key_cols), num_buckets)``; data files are bucket-pure (one
  bucket per file), so keyed MERGE rewrites only the buckets a batch touches.
  This replaces BigQuery ``PARTITION BY date CLUSTER BY ...`` and defuses
  hot-key concentration at the file level (SURVEY.md §7.5 item 4).
* **File-level column stats** — per-file min/max/null-count harvested from
  parquet footers (metadata-only, no data scan) for data skipping, the same
  mechanism Iceberg manifests / Delta checkpoints use.
* **Schema evolution** — additive columns and int->long->double widening;
  old files are read with the schema they were written with, then cast/padded
  (reference analogue: NULL-padding at write, src/shared/gcs/loader.py:307-324,
  and forced widening, .../extractor.py:244-280).
* **Time travel** — ``read(version=N)`` replays the log to any retained commit.
* **Transaction fencing** — commit properties carry ``(txn_app, txn_batch)``;
  :meth:`LakeTable.last_txn` lets an idempotent sink skip replayed batches
  (strengthens the reference watermark commit, src/loaders/watermark.py:141-185,
  to exactly-once).

Scale notes (designed for 1000-executor / 100 TB, tested on local[32]):
data files are written and read by distributed Spark jobs; only the commit
log (KB-sized JSON) is touched driver-side. Parquet footer harvesting runs
in a driver thread pool for small commits and as a distributed Spark job on
executors above ``DISTRIBUTED_HARVEST_THRESHOLD`` files, so commit metadata
cost is never O(files) on one node.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG_DIR = "_log"
_DATA_DIR = "data"

# Columns the engine manages; not part of the user-visible schema.
BUCKET_COL = "_bucket"   # bucket id: pmod(xxhash64(keys), num_buckets)
LSN_COL = "_lsn"         # last-writer LSN of the row (0 for plain appends)
OP_COL = "_op"           # delta files only: I/U/D envelope op
MIXED_BUCKET = -1        # FileEntry.bucket for raw-append files spanning buckets

# int -> long -> double widening lattice (reference "Critical: always float64,
# never int64", src/shared/parquet/schemas.py:30-34).
_WIDEN_RANK = {
    "byte": 0, "short": 1, "integer": 2, "long": 3, "float": 4, "double": 5,
}


class CommitConflictError(RuntimeError):
    """Another writer committed this version first (optimistic concurrency)."""


@dataclass
class FileEntry:
    path: str                      # relative to table root
    bucket: int
    rows: int
    bytes: int
    schema_id: int
    stats: dict[str, list[Any]] = field(default_factory=dict)  # col -> [min, max, nulls]
    kind: str = "base"             # "base" | "delta" (merge-on-read change file)

    def to_json(self) -> dict[str, Any]:
        return {
            "path": self.path, "bucket": self.bucket, "rows": self.rows,
            "bytes": self.bytes, "schema_id": self.schema_id, "stats": self.stats,
            "kind": self.kind,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "FileEntry":
        return FileEntry(d["path"], d["bucket"], d["rows"], d["bytes"],
                         d["schema_id"], d.get("stats", {}), d.get("kind", "base"))


@dataclass
class Snapshot:
    version: int
    schema_id: int
    schema: T.StructType
    schemas: dict[int, T.StructType]         # schema_id -> schema (for old files)
    files: dict[str, FileEntry]              # rel path -> entry
    table_meta: dict[str, Any]
    properties: dict[str, Any]

    @property
    def num_rows(self) -> int:
        return sum(f.rows for f in self.files.values())

    def files_for_buckets(self, buckets: Iterable[int] | None) -> list[FileEntry]:
        if buckets is None:
            return list(self.files.values())
        bs = set(buckets)
        out = []
        for f in self.files.values():
            if f.bucket in bs:
                out.append(f)
            elif f.bucket == MIXED_BUCKET:
                # raw-append delta spanning many buckets: keep if its
                # _bucket min/max range intersects the requested set
                st = f.stats.get("_bucket")
                if st is None or any(st[0] <= b <= st[1] for b in bs):
                    out.append(f)
        return out


def _schema_with_engine_cols(schema: T.StructType, kind: str = "base") -> T.StructType:
    """All data files carry (_bucket, _lsn, _op). _op in BASE files encodes
    delete tombstones: a deleted key keeps a row with _op='D' and the
    delete's LSN, so an out-of-order OLDER event can never resurrect it
    (found by the hypothesis property suite). Public reads filter tombstones;
    expire_tombstones() GCs them once the feed's low-watermark passes."""
    extra = [T.StructField(BUCKET_COL, T.IntegerType()),
             T.StructField(LSN_COL, T.LongType()),
             T.StructField(OP_COL, T.StringType())]
    return T.StructType(list(schema.fields) + extra)


class LakeTable:
    """A transactional, bucket-partitioned parquet table with a JSON commit log."""

    def __init__(self, spark: SparkSession, location: str):
        self.spark = spark
        self.location = os.path.abspath(location)
        self._snap_cache: dict[int, Snapshot] = {}
        self._doc_cache: dict[int, dict[str, Any]] = {}  # commit log JSON docs
        # driver-serial phase timings of the LAST write (write job vs footer
        # harvest vs commit fsync) — telemetry for the scaling decomposition;
        # merge_cdc_batch copies it into MergeMetrics.extra
        self.last_write_phases: dict[str, float] = {}
        # incremental fence state (see last_txn)
        self._txn_best: dict[str, int] = {}
        self._txn_hwm: int = -1
        # reusable Column templates keyed by key_cols (see bucket_expr)
        self._bucket_expr_cache: dict[tuple[str, ...], Any] = {}
        # background maintenance (async compaction) — at most one in flight
        self._maint_pool = None
        self._maint_future = None
        # async commit finalizer (footer harvest + commit fsync pipelined
        # with the caller's next batch) — at most one in flight; the fence
        # props of the pending commit, visible to last_txn before it lands
        self._commit_pool = None
        self._commit_future = None
        self._commit_lock = threading.Lock()
        self._pending_txn: tuple[str, int] | None = None

    # ------------------------------------------------------------------ DDL

    @staticmethod
    def create(
        spark: SparkSession,
        location: str,
        schema: T.StructType,
        key_cols: list[str],
        num_buckets: int = 16,
        properties: dict[str, Any] | None = None,
    ) -> "LakeTable":
        """CREATE TABLE: writes commit 0 (no data files)."""
        t = LakeTable(spark, location)
        if t.exists():
            raise FileExistsError(f"LakeTable already exists at {location}")
        os.makedirs(os.path.join(t.location, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(t.location, _DATA_DIR), exist_ok=True)
        for k in key_cols:
            if k not in schema.fieldNames():
                raise ValueError(f"key column {k!r} not in schema")
        t._write_commit(
            version=0,
            action="create",
            schema=schema,
            schema_id=0,
            adds=[],
            removes=[],
            properties=properties or {},
            table_meta={"key_cols": list(key_cols), "num_buckets": int(num_buckets)},
        )
        return t

    @staticmethod
    def load(spark: SparkSession, location: str) -> "LakeTable":
        t = LakeTable(spark, location)
        if not t.exists():
            raise FileNotFoundError(f"no LakeTable at {location}")
        return t

    def exists(self) -> bool:
        return bool(self._commit_versions())

    # ------------------------------------------------------------ commit log

    def _log_path(self, version: int) -> str:
        return os.path.join(self.location, _LOG_DIR, f"{version:020d}.json")

    def _commit_versions(self) -> list[int]:
        pat = os.path.join(self.location, _LOG_DIR, "*.json")
        return sorted(int(os.path.basename(p)[:-5]) for p in glob.glob(pat))

    def current_version(self) -> int:
        vs = self._commit_versions()
        if not vs:
            raise FileNotFoundError(f"no LakeTable at {self.location}")
        return vs[-1]

    def _write_commit(
        self,
        version: int,
        action: str,
        schema: T.StructType,
        schema_id: int,
        adds: list[FileEntry],
        removes: list[str],
        properties: dict[str, Any],
        table_meta: dict[str, Any] | None = None,
        record_phases: bool = True,
    ) -> int:
        doc = {
            "version": version,
            "action": action,
            "schema_id": schema_id,
            "schema": json.loads(schema.json()),
            "adds": [a.to_json() for a in adds],
            "removes": list(removes),
            "properties": properties,
            "commit_ts_ms": int(time.time() * 1000),  # audit only, never in data
        }
        if table_meta is not None:
            doc["table"] = table_meta
        path = self._log_path(version)
        payload = json.dumps(doc, separators=(",", ":")).encode()
        _tc = time.monotonic()
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as e:
            raise CommitConflictError(f"version {version} already committed") from e
        try:
            os.write(fd, payload)
            os.fsync(fd)
        finally:
            os.close(fd)
        if record_phases:
            self.last_write_phases["commit_fsync_s"] = round(
                time.monotonic() - _tc, 4)
        self._snap_cache.pop(-1, None)
        self._maybe_write_checkpoint(version)
        return version

    def snapshot(self, version: int | None = None) -> Snapshot:
        vs = self._commit_versions()
        if not vs:
            raise FileNotFoundError(f"no LakeTable at {self.location}")
        v = vs[-1] if version is None else version
        if v not in vs:
            raise ValueError(f"version {v} not in log (have {vs[0]}..{vs[-1]})")
        if v in self._snap_cache:
            return self._snap_cache[v]
        # incremental build: extend the highest cached snapshot below v with
        # only the missing commit docs. The streaming merge path takes a new
        # snapshot every trigger, so the from-scratch replay would be
        # O(commits x files) per batch — quadratic over a long-running
        # ingest — while this is O(new commits + live files) driver time.
        base = max((bv for bv in self._snap_cache if bv < v), default=None)
        if base is not None:
            prev = self._snap_cache[base]
            files: dict[str, FileEntry] = dict(prev.files)
            schemas: dict[int, T.StructType] = dict(prev.schemas)
            schema_id = prev.schema_id
            schema: T.StructType | None = prev.schema
            table_meta: dict[str, Any] = prev.table_meta
            props: dict[str, Any] = prev.properties
            todo = [cv for cv in vs if base < cv <= v]
        else:
            # COLD path (fresh driver): seed from the newest manifest
            # checkpoint at or below v, then replay only the tail — without
            # this a restart after 10^5 ingest commits re-reads every commit
            # doc (the Delta/Iceberg checkpoint mechanism, from scratch)
            files = {}
            schemas = {}
            schema_id = 0
            schema = None
            table_meta = {}
            props = {}
            cp_from = -1
            cp = self._load_checkpoint(v)
            if cp is not None:
                files = {p: FileEntry.from_json(d)
                         for p, d in cp["files"].items()}
                schemas = {int(sid): T.StructType.fromJson(sj)
                           for sid, sj in cp["schemas"].items()}
                schema_id = cp["schema_id"]
                schema = schemas[schema_id]
                table_meta = cp["table"]
                props = cp.get("properties", {})
                cp_from = cp["version"]
            todo = [cv for cv in vs if cp_from < cv <= v]
        for cv in todo:
            doc = self._read_doc(cv)
            schema = T.StructType.fromJson(doc["schema"])
            schema_id = doc["schema_id"]
            schemas[schema_id] = schema
            if "table" in doc:
                table_meta = doc["table"]
            props = doc.get("properties", {})
            for rm in doc["removes"]:
                files.pop(rm, None)
            for a in doc["adds"]:
                e = FileEntry.from_json(a)
                files[e.path] = e
        snap = Snapshot(v, schema_id, schema, schemas, files, table_meta, props)
        self._snap_cache[v] = snap
        # bound driver memory on long ingests: keep the newest snapshots only
        # (older versions rebuild from scratch on the rare time-travel read)
        while len(self._snap_cache) > self.SNAP_CACHE_MAX:
            del self._snap_cache[min(self._snap_cache)]
        return snap

    SNAP_CACHE_MAX = 8
    # a manifest checkpoint is written every K commits; cold opens replay
    # checkpoint + <= K tail docs instead of the whole log
    CHECKPOINT_INTERVAL = int(os.environ.get("LAKE_CHECKPOINT_INTERVAL", "64"))

    # ------------------------------------------------------ log checkpoints

    def _checkpoint_dir(self) -> str:
        return os.path.join(self.location, _LOG_DIR, "_checkpoints")

    def _checkpoint_versions(self) -> list[int]:
        pat = os.path.join(self._checkpoint_dir(), "*.json")
        return sorted(int(os.path.basename(p)[:-5]) for p in glob.glob(pat))

    def _load_checkpoint(self, max_version: int) -> dict[str, Any] | None:
        """Newest checkpoint doc at or below max_version, or None."""
        cands = [c for c in self._checkpoint_versions() if c <= max_version]
        if not cands:
            return None
        path = os.path.join(self._checkpoint_dir(), f"{cands[-1]:020d}.json")
        try:
            with open(path) as fh:
                return json.load(fh)
        except (OSError, json.JSONDecodeError):
            return None      # torn/corrupt checkpoint: fall back to full replay

    def _maybe_write_checkpoint(self, version: int) -> None:
        """Every CHECKPOINT_INTERVAL commits, persist the full snapshot state
        (live files, all schemas, table meta, fence high-waters) so a cold
        driver's first snapshot()/last_txn() is O(interval), not O(commits).
        Best-effort and crash-safe: written to a temp file then atomically
        renamed; a missing/torn checkpoint only costs a longer replay."""
        if version <= 0 or version % self.CHECKPOINT_INTERVAL != 0:
            return
        snap = self.snapshot(version)
        self.last_txn("")            # refresh the fence scan to `version`
        doc = {
            "version": version,
            "schema_id": snap.schema_id,
            "schemas": {str(sid): json.loads(s.json())
                        for sid, s in snap.schemas.items()},
            "files": {p: e.to_json() for p, e in snap.files.items()},
            "table": snap.table_meta,
            "properties": snap.properties,
            "txn_best": dict(self._txn_best),
        }
        os.makedirs(self._checkpoint_dir(), exist_ok=True)
        path = os.path.join(self._checkpoint_dir(), f"{version:020d}.json")
        tmp = f"{path}.tmp.{os.getpid()}"
        try:
            with open(tmp, "w") as fh:
                json.dump(doc, fh, separators=(",", ":"))
            os.rename(tmp, path)
        except OSError:
            try:
                os.remove(tmp)
            except OSError:
                pass

    def _read_doc(self, version: int) -> dict[str, Any]:
        """Commit log docs are immutable once written — cache them so the
        per-batch fence check is O(new commits), not O(log size)."""
        if version not in self._doc_cache:
            with open(self._log_path(version)) as fh:
                self._doc_cache[version] = json.load(fh)
        return self._doc_cache[version]

    def history(self) -> list[dict[str, Any]]:
        self.join_pending_commit()
        out = []
        for cv in self._commit_versions():
            doc = self._read_doc(cv)
            out.append({k: doc[k] for k in
                        ("version", "action", "schema_id", "properties", "commit_ts_ms")})
        return out

    def last_txn(self, app_id: str) -> int | None:
        """Highest txn_batch committed for app_id — the exactly-once fence.

        Incremental: only commit docs newer than the last scan are read, so
        the per-trigger fence check is O(new commits) instead of O(log size)
        — the full-history rescan was a per-batch driver-serial cost that
        grew linearly with ingest age. Correct under concurrent writers
        because commit docs are immutable and versions are monotonic.
        A cold driver seeds the scan from the newest manifest checkpoint's
        fence high-waters instead of re-reading the whole log."""
        if self._txn_hwm < 0:
            cp = self._load_checkpoint(self.current_version())
            if cp is not None and "txn_best" in cp:
                self._txn_best = {k: int(b)
                                  for k, b in cp["txn_best"].items()}
                self._txn_hwm = int(cp["version"])
        for cv in self._commit_versions():
            if cv <= self._txn_hwm:
                continue
            p = self._read_doc(cv).get("properties", {})
            app = p.get("txn_app")
            if app is not None and p.get("txn_batch") is not None:
                b = int(p["txn_batch"])
                cur = self._txn_best.get(app)
                self._txn_best[app] = b if cur is None or b > cur else cur
            self._txn_hwm = cv
        best = self._txn_best.get(app_id)
        # an async commit finalizer in flight counts toward the fence (its
        # commit is ordered before any later batch's — see append_deltas)
        pend = self._pending_txn
        if pend is not None and pend[0] == app_id and (best is None
                                                       or pend[1] > best):
            best = pend[1]
        return best

    # --------------------------------------------------------------- buckets

    @property
    def key_cols(self) -> list[str]:
        return self.snapshot().table_meta["key_cols"]

    @property
    def num_buckets(self) -> int:
        return int(self.snapshot().table_meta["num_buckets"])

    def bucket_expr(self, key_cols: list[str] | None = None):
        """pmod(xxhash64(keys), N) — deterministic bucket assignment.

        NULL keys hash via coalesce-to-sentinel so they land in a stable bucket
        (the reference tolerates NULL-keyed legacy rows and repairs them in
        MERGE, loader.py:517-519).
        """
        kc = tuple(key_cols or self.key_cols)
        expr = self._bucket_expr_cache.get(kc)
        if expr is None:
            # Column templates are unresolved expressions — safe to reuse
            # across micro-batches; rebuilding them is ~10 py4j round trips
            # of per-trigger driver-serial time
            cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                    for c in kc]
            expr = F.pmod(F.xxhash64(*cols),
                          F.lit(self.num_buckets)).cast("int")
            self._bucket_expr_cache[kc] = expr
        return expr

    # ----------------------------------------------------------------- reads

    def _scan(self, snap: Snapshot, entries: list[FileEntry]) -> DataFrame:
        """Spark parquet scan of base files, grouped by schema_id so old files
        are read with the schema they were written with, then cast/padded to
        the current one (safe widening reads)."""
        cur_schema = _schema_with_engine_cols(snap.schema)
        if not entries:
            return self.spark.createDataFrame([], cur_schema)
        by_sid: dict[int, list[str]] = {}
        for e in entries:
            by_sid.setdefault(e.schema_id, []).append(
                os.path.join(self.location, e.path))
        parts: list[DataFrame] = []
        for sid, paths in sorted(by_sid.items()):
            written = _schema_with_engine_cols(snap.schemas[sid])
            part = self.spark.read.schema(written).parquet(*paths)
            parts.append(_conform(part, cur_schema))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def prune_files(self, entries: list[FileEntry],
                    predicates: list[tuple[str, str, Any]]) -> list[FileEntry]:
        """File-level data skipping on footer min/max stats (the manifest-side
        of what Iceberg manifests / Delta checkpoints provide). ``predicates``
        are conjunctive (col, op, value) with op in =, <, <=, >, >=.
        Files without stats for a column are conservatively kept."""
        def may_match(e: FileEntry) -> bool:
            for col, op, val in predicates:
                st = e.stats.get(col)
                if not st:
                    continue
                mn, mx = st[0], st[1]
                if op == "=" and not (mn <= val <= mx):
                    return False
                if op in ("<", "<=") and not (mn < val or (op == "<=" and mn <= val)):
                    return False
                if op in (">", ">=") and not (mx > val or (op == ">=" and mx >= val)):
                    return False
            return True
        return [e for e in entries if may_match(e)]

    def read(
        self,
        version: int | None = None,
        buckets: Iterable[int] | None = None,
        with_bucket: bool = False,
        skip_predicates: list[tuple[str, str, Any]] | None = None,
    ) -> DataFrame:
        """Snapshot read. ``buckets`` prunes to the given bucket ids using the
        manifest (no file even opened for pruned buckets).

        A snapshot whose selected files include delta (L0) files is resolved
        bucket-locally by :func:`_lww_kernel`: per key the max
        ``(_lsn, coalesce(_op, 'U'))`` row wins, with no shuffle and no Spark
        file listing. Without delta files the read is a plain Spark parquet
        scan. ``with_bucket=True`` returns the engine columns and keeps
        delete tombstones (rewrites and folds need both); a public read hides
        them."""
        self.join_pending_commit()        # read-your-writes under async commit
        snap = self.snapshot(version)
        entries = snap.files_for_buckets(buckets)
        if any(e.kind == "delta" for e in entries):
            if skip_predicates:
                # stats skipping is unsound over deltas: a delta can revive
                # or delete a key outside the base file's range
                raise ValueError("skip_predicates requires compacted buckets "
                                 "(run compact_deltas first)")
            return self._read_lww(snap, entries, buckets, with_bucket)
        if skip_predicates:
            entries = self.prune_files(entries, skip_predicates)
        df = self._scan(snap, entries)
        if not with_bucket:
            # public read: hide tombstones and engine columns
            df = (df.filter(F.coalesce(F.col(OP_COL), F.lit("U")) != "D")
                  .drop(BUCKET_COL, LSN_COL, OP_COL))
        return df

    def _read_lww(self, snap: Snapshot, entries: list[FileEntry],
                  buckets: Iterable[int] | None,
                  with_bucket: bool) -> DataFrame:
        """Plan :func:`_lww_kernel` over ``entries``: the selected buckets
        are split into ``min(#buckets, defaultParallelism)`` contiguous
        ranges, one task each. Files are assigned from the manifest: a
        bucket-pure file to the range holding its bucket, a mixed file to
        every range its footer ``_bucket`` span overlaps."""
        from functools import partial

        from pyspark.sql.pandas.types import to_arrow_schema

        nb = int(snap.table_meta["num_buckets"])
        want = sorted(set(buckets)) if buckets is not None else list(range(nb))
        n = max(1, min(len(want),
                       self.spark.sparkContext.defaultParallelism))
        ranges: list[tuple[list[int], list[tuple[str, bool]]]] = [
            (want[i * len(want) // n:(i + 1) * len(want) // n], [])
            for i in range(n)]
        for e in entries:
            mixed = e.bucket == MIXED_BUCKET
            lo, hi = (self._entry_bucket_range(e) if mixed
                      else (e.bucket, e.bucket))
            path = os.path.join(self.location, e.path)
            for rb, files in ranges:
                if rb[0] <= hi and lo <= rb[-1]:
                    files.append((path, mixed))
        full = _schema_with_engine_cols(snap.schema)
        kernel = partial(_lww_kernel, ranges=ranges,
                         target=to_arrow_schema(full),
                         key_cols=list(snap.table_meta["key_cols"]),
                         with_bucket=with_bucket)
        return self.spark.range(n, numPartitions=n).mapInArrow(
            kernel, full if with_bucket else snap.schema)

    def expire_tombstones(self, below_lsn: int,
                          properties: dict[str, Any] | None = None) -> int:
        """GC delete tombstones whose LSN is below the feed's low-watermark
        (no event with a lower LSN can still arrive). Copy-on-write rewrite
        of ONLY the buckets that may hold an expirable tombstone, found from
        the manifest's ``_op``/``_lsn`` footer stats: a file whose min(_op)
        sorts above 'D' has no tombstones at all, and one whose min(_lsn) is
        already >= the low-watermark has none old enough. At 100 TB this
        maintenance pass touches the few buckets with old deletes, not the
        table."""
        self.join_pending_commit()
        snap = self.snapshot()
        entries = list(snap.files.values())

        def may_have_expirable(e: FileEntry) -> bool:
            st_op = e.stats.get(OP_COL)
            if st_op is not None and st_op[0] > "D":
                return False                      # no 'D' rows in this file
            st_lsn = e.stats.get(LSN_COL)
            if st_lsn is not None and st_lsn[0] >= below_lsn:
                return False                      # every row too new
            return True                           # stats missing: conservative

        may = [e for e in entries if may_have_expirable(e)]
        if not may:
            return snap.version                   # nothing can expire: no-op
        buckets = self.expand_bucket_closure(
            snap, self.buckets_of_entries(may))
        victims = snap.files_for_buckets(buckets)
        full = self.read(buckets=buckets, with_bucket=True)
        keep = full.filter(~((F.coalesce(F.col(OP_COL), F.lit("U")) == "D")
                             & (F.col(LSN_COL) < below_lsn)))
        props = dict(properties or {})
        props["tombstones_expired_below"] = below_lsn
        props["expire_pruned_buckets"] = (
            buckets if buckets is not None else "all")
        return self.commit_rewrite(keep, victims, "expire_tombstones",
                                   snap.schema, snap.schema_id, props)

    def is_empty(self) -> bool:
        self.join_pending_commit()
        return self.snapshot().num_rows == 0

    # ---------------------------------------------------------------- writes

    def _write_data_files(
        self, df: DataFrame, version: int, schema: T.StructType, schema_id: int,
        repartition: bool = True, kind: str = "base", bucket_pure: bool = True,
        bucket_groups: int | None = None, record_phases: bool = True,
    ) -> list[FileEntry]:
        """Write df (must already carry BUCKET_COL) as parquet data files.

        ``bucket_pure=True`` (default): ``partitionBy`` on a duplicated
        ``_bkt`` column yields one directory per bucket; ``_bucket`` itself
        stays as a data column so snapshot reads need no basePath
        reconstruction. ``bucket_pure=False`` (raw-append deltas): files are
        written as-scanned with NO shuffle; per-file _bucket min/max stats
        still allow coarse pruning.

        ``bucket_groups=G`` (raw-append path, requires ``bucket_pure=False``):
        bucket-CLUSTERED L0 with no shuffle — each task's rows are split into
        G contiguous bucket ranges via ``partitionBy`` on a derived group
        column (Spark's dynamic-partition writer adds a task-local sort, no
        exchange). With G = num_buckets the L0 files are fully bucket-pure
        (labeled with real bucket ids via their footer stats), restoring
        MOR-grade compaction/read locality; smaller G trades file count
        (tasks x G per write) for locality. ``record_phases=False`` skips the
        telemetry side channel (background maintenance writes must not clobber
        the foreground merge's phase decomposition).

        Stats come from parquet footers only.
        """
        abs_dir, rel_dir, wjs = self._run_write_job(
            df, version, schema, kind=kind, repartition=repartition,
            bucket_pure=bucket_pure, bucket_groups=bucket_groups)
        _th = time.monotonic()
        entries = self._harvest_entries(abs_dir, rel_dir, schema_id, kind)
        if record_phases:
            self.last_write_phases = {
                "write_job_s": wjs,
                "harvest_s": round(time.monotonic() - _th, 4),
                "n_files": len(entries),
                "out_bytes": sum(e.bytes for e in entries),
            }
        return entries

    def _run_write_job(
        self, df: DataFrame, version: int, schema: T.StructType,
        kind: str = "base", repartition: bool = True,
        bucket_pure: bool = True, bucket_groups: int | None = None,
    ) -> tuple[str, str, float]:
        """The Spark-job half of :meth:`_write_data_files`: materialize the
        data files and return ``(abs_dir, rel_dir, write_job_seconds)``
        without touching the parquet footers — so an async finalizer can
        harvest + commit off the critical path (see ``append_deltas``)."""
        out = df
        if LSN_COL not in out.columns:
            out = out.withColumn(LSN_COL, F.lit(0).cast("long"))
        if OP_COL not in out.columns:
            out = out.withColumn(OP_COL, F.lit("U"))
        # conform column order/types to the table schema + engine cols
        target = _schema_with_engine_cols(schema, kind)
        out = _conform(out, target)
        rel_dir = f"{_DATA_DIR}/c{version:010d}-{uuid.uuid4().hex[:8]}"
        abs_dir = os.path.join(self.location, rel_dir)
        _tw = time.monotonic()
        if bucket_pure:
            if repartition:
                out = out.repartition(self.num_buckets, F.col(BUCKET_COL))
            out = out.withColumn("_bkt", F.col(BUCKET_COL))
            out.write.mode("overwrite").partitionBy("_bkt").parquet(abs_dir)
        elif bucket_groups and bucket_groups > 1:
            gsz = -(-self.num_buckets // int(bucket_groups))   # ceil
            out = out.withColumn(
                "_bgrp", (F.col(BUCKET_COL) / F.lit(gsz)).cast("int"))
            out.write.mode("overwrite").partitionBy("_bgrp").parquet(abs_dir)
        else:
            out.write.mode("overwrite").parquet(abs_dir)
        return abs_dir, rel_dir, round(time.monotonic() - _tw, 4)

    # above this file count the footer harvest runs as a Spark job on
    # executors instead of a driver thread pool (env-tunable for tests)
    DISTRIBUTED_HARVEST_THRESHOLD = int(
        os.environ.get("LAKE_DIST_HARVEST_THRESHOLD", "192"))

    def _harvest_entries(self, abs_dir: str, rel_dir: str, schema_id: int,
                         kind: str = "base") -> list[FileEntry]:
        from concurrent.futures import ThreadPoolExecutor

        paths = (glob.glob(os.path.join(abs_dir, "_bkt=*", "*.parquet"))
                 + glob.glob(os.path.join(abs_dir, "_bgrp=*", "*.parquet"))
                 + glob.glob(os.path.join(abs_dir, "*.parquet")))
        if not paths:
            return []
        if len(paths) >= self.DISTRIBUTED_HARVEST_THRESHOLD:
            # EXECUTOR-side harvest: the driver only collects the (small)
            # FileEntry dicts, so commit metadata cost stops being O(files)
            # on one node — the round-1 commit bottleneck at 100x file
            # counts. Executors read the same lake storage they just wrote.
            sc = self.spark.sparkContext
            n_slices = max(1, min(len(paths) // 8, sc.defaultParallelism))
            docs = (sc.parallelize(paths, n_slices)
                    .map(lambda fp: _harvest_footer(fp, abs_dir, rel_dir,
                                                    schema_id, kind))
                    .collect())
            return [FileEntry.from_json(d) for d in docs]
        # driver thread pool: footer reads release the GIL in pyarrow I/O,
        # dropping per-commit cost from O(files) serial to ~O(files/16)
        with ThreadPoolExecutor(max_workers=min(16, len(paths))) as pool:
            return [FileEntry.from_json(d) for d in pool.map(
                lambda fp: _harvest_footer(fp, abs_dir, rel_dir,
                                           schema_id, kind), paths)]

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        if BUCKET_COL in df.columns:
            return df
        return df.withColumn(BUCKET_COL, self.bucket_expr())

    def append(self, df: DataFrame, properties: dict[str, Any] | None = None) -> int:
        """Blind append (the reference's empty-table fast path M3 — a pure
        insert with no match scan, loader.py:347-378)."""
        self.join_pending_commit()
        snap = self.snapshot()
        version = snap.version + 1
        adds = self._write_data_files(self._with_bucket(df), version,
                                      snap.schema, snap.schema_id)
        return self._write_commit(version, "append", snap.schema, snap.schema_id,
                                  adds, [], properties or {})

    def overwrite(self, df: DataFrame, properties: dict[str, Any] | None = None) -> int:
        """Full-table replace (snapshot-atomic truncate + insert)."""
        self.join_pending_commit()
        snap = self.snapshot()
        version = snap.version + 1
        adds = self._write_data_files(self._with_bucket(df), version,
                                      snap.schema, snap.schema_id)
        removes = list(snap.files.keys())
        return self._write_commit(version, "overwrite", snap.schema, snap.schema_id,
                                  adds, removes, properties or {})

    def overwrite_buckets(self, df: DataFrame,
                          properties: dict[str, Any] | None = None) -> int:
        """Replace exactly the buckets present in df — the reference's
        partition-overwrite semantics (delete matching files then upload one
        fresh file, src/shared/gcs/loader.py:173-224 + 277-282) expressed as
        one atomic commit instead of delete-then-write."""
        self.join_pending_commit()
        snap = self.snapshot()
        version = snap.version + 1
        dfb = self._with_bucket(df)
        touched = [r[0] for r in dfb.select(BUCKET_COL).distinct().collect()]
        adds = self._write_data_files(dfb, version, snap.schema, snap.schema_id)
        removes = [e.path for e in snap.files_for_buckets(touched)]
        props = dict(properties or {})
        props["overwritten_buckets"] = sorted(touched)
        return self._write_commit(version, "overwrite_buckets", snap.schema,
                                  snap.schema_id, adds, removes, props)

    def delete_where(self, condition: str,
                     properties: dict[str, Any] | None = None,
                     prune_predicates: list[tuple[str, str, Any]] | None = None,
                     ) -> int:
        """DELETE FROM t WHERE cond — copy-on-write rewrite of affected
        BUCKETS only (reference: partition-pruned delete M5 loader.py:194-272
        and batched NULL-key delete M6 loader.py:945-974; no 1000-item
        IN-list chunking needed).

        ``prune_predicates`` — conjunctive ``(col, op, val)`` mirror of
        ``condition`` for manifest-stats file skipping: files that cannot
        match identify buckets that need no rewrite; those buckets' files
        ride through the commit untouched. Pruning is at bucket granularity
        (not file) because MOR delta resolution is per-bucket: rewriting one
        base file while its bucket's deltas survive would re-resolve
        against stale deltas. A may-match raw-append (mixed-bucket) file
        falls back to the full rewrite, same rule as the MERGE path. Without
        ``prune_predicates`` every file is conservatively rewritten.

        At 100 TB this is the difference between a maintenance delete
        costing O(matching buckets) and O(table)."""
        self.join_pending_commit()
        snap = self.snapshot()
        entries = list(snap.files.values())
        buckets: list[int] | None = None
        victims = entries
        if prune_predicates:
            may = self.prune_files(entries, prune_predicates)
            if not may:
                return snap.version          # nothing can match: no-op
            # mixed (raw/grouped-L0) may-files widen the rewrite to the
            # closure of their bucket spans, not the whole table
            buckets = self.expand_bucket_closure(
                snap, self.buckets_of_entries(may))
            victims = snap.files_for_buckets(buckets)
        cond = F.expr(condition)
        keep = (self.read(buckets=buckets, with_bucket=True)
                .filter(~cond | cond.isNull()))
        props = dict(properties or {})
        props["delete_pruned_buckets"] = (
            buckets if buckets is not None else "all")
        props["delete_files_rewritten"] = len(victims)
        props["delete_files_total"] = len(entries)
        return self.commit_rewrite(keep, victims, "delete", snap.schema,
                                   snap.schema_id, props)

    def commit_rewrite(
        self,
        new_data: DataFrame,
        remove_entries: list[FileEntry],
        action: str,
        schema: T.StructType,
        schema_id: int,
        properties: dict[str, Any] | None = None,
        repartition: bool = True,
        props_fn: Any = None,
        record_phases: bool = True,
        retry_conflicts: bool = False,
    ) -> int:
        """Low-level: atomically swap ``remove_entries`` for the files of
        ``new_data`` (used by MERGE and compaction). ``props_fn(adds)`` (if
        given) runs after the write job but before the commit doc, so
        write-inclusive lineage (e.g. events/sec) lands in the same atomic
        commit.

        ``retry_conflicts=True``: a lost optimistic-concurrency race (another
        writer took our version number) is retried at the next version AFTER
        re-validating every victim is still live in the new snapshot — sound
        when the concurrent writers only ADD files (delta appends vs
        background compaction); a concurrent REMOVE of a victim is a true
        conflict and still raises."""
        snap = self.snapshot()
        version = snap.version + 1
        adds = self._write_data_files(self._with_bucket(new_data), version,
                                      schema, schema_id,
                                      repartition=repartition,
                                      record_phases=record_phases)
        props = dict(properties or {})
        if props_fn is not None:
            props.update(props_fn(adds))
        removes = [e.path for e in remove_entries]
        while True:
            try:
                return self._write_commit(version, action, schema, schema_id,
                                          adds, removes, props,
                                          record_phases=record_phases)
            except CommitConflictError:
                if not retry_conflicts:
                    raise
                latest = self.snapshot()
                if any(p not in latest.files for p in removes):
                    raise
                version = latest.version + 1

    def append_deltas(self, df: DataFrame,
                      properties: dict[str, Any] | None = None,
                      repartition: bool = True,
                      bucket_pure: bool = True,
                      bucket_groups: int | None = None,
                      props_fn: Any = None,
                      async_finalize: bool = False,
                      post_commit: Any = None) -> int:
        """Delta (L0) write path of the raw and mor merge modes: append
        LWW-resolvable change files (rows carry BUCKET_COL, LSN_COL,
        OP_COL). O(batch) cost — no target read, no rewrite; reads resolve
        them bucket-locally (:func:`_lww_kernel`) and :meth:`compact_deltas`
        folds them into base files. Pass
        ``repartition=False`` when df is already bucket-partitioned (the
        merge path) to skip the extra shuffle.

        ``props_fn(adds) -> dict`` (optional) is called after the data files
        are written but before the commit doc: lineage derived from the write
        itself (Observation metrics, per-bucket file stats) lands in the SAME
        atomic commit with no extra Spark job.

        ``bucket_groups`` (with ``bucket_pure=False``): bucket-clustered L0 —
        see :meth:`_write_data_files`. Pure appends always retry a lost
        commit race (adds only — nothing to re-validate), so delta writes are
        safe concurrent with background compaction.

        ``async_finalize=True``: the Spark write job still runs inline (the
        parallel part), but the DRIVER-SERIAL tail — parquet footer harvest,
        lineage ``props_fn``, commit-log write + fsync — runs on a background
        driver thread so it overlaps the caller's next trigger (scan of batch
        N+1, streaming wrapper). Returns ``-1`` (version pending); the real
        version reaches the optional ``post_commit(version)`` hook on the
        finalizer thread after the commit lands. Ordering invariant: at most
        one finalize is in flight and the previous one is joined before this
        one may commit, so commit order equals batch order and fence N always
        lands before data N+1 commits. Readers (:meth:`read`), maintenance
        and destructive ops join the pending commit first (read-your-writes).
        Durability note: between the caller's return and the background
        fsync, the batch is NOT yet in the log — a crash in that window
        loses it from the table while an outer offset tracker (e.g. a
        streaming checkpoint) may already count it done; pair with a
        replayable source + fence-vs-checkpoint gap repair
        (:meth:`~..streaming.CdcStreamRunner.repair_fence_gap`)."""
        if not async_finalize:
            # a sync append must not overtake an in-flight async commit
            # (commit order == call order keeps fences monotonic)
            self.join_pending_commit()
        snap = self.snapshot()
        version = snap.version + 1
        if not async_finalize:
            adds = self._write_data_files(df, version, snap.schema,
                                          snap.schema_id,
                                          kind="delta", repartition=repartition,
                                          bucket_pure=bucket_pure,
                                          bucket_groups=bucket_groups)
            props = dict(properties or {})
            if props_fn is not None:
                props.update(props_fn(adds))
            while True:
                try:
                    v = self._write_commit(version, "merge_mor", snap.schema,
                                           snap.schema_id, adds, [], props)
                    break
                except CommitConflictError:
                    version = self.snapshot().version + 1
            if post_commit is not None:
                post_commit(v)
            return v
        # run the parallel part now; defer the driver-serial tail
        abs_dir, rel_dir, wjs = self._run_write_job(
            df, version, snap.schema, kind="delta", repartition=repartition,
            bucket_pure=bucket_pure, bucket_groups=bucket_groups)
        # ordering: the previous async commit must be fully on disk before
        # this one may land (also bounds in-flight finalizers to one)
        self.join_pending_commit()
        props0 = dict(properties or {})
        if "txn_app" in props0 and props0.get("txn_batch") is not None:
            self._pending_txn = (str(props0["txn_app"]),
                                 int(props0["txn_batch"]))

        def _commit() -> int:
            _th = time.monotonic()
            entries = self._harvest_entries(abs_dir, rel_dir,
                                            snap.schema_id, "delta")
            self.last_write_phases = {
                "write_job_s": wjs,
                "harvest_s": round(time.monotonic() - _th, 4),
                "n_files": len(entries),
                "out_bytes": sum(e.bytes for e in entries),
            }
            props = dict(props0)
            if props_fn is not None:
                props.update(props_fn(entries))
            v = version
            while True:
                try:
                    return self._write_commit(v, "merge_mor", snap.schema,
                                              snap.schema_id, entries, [],
                                              props)
                except CommitConflictError:
                    v = self.snapshot().version + 1

        def _finalize() -> int:
            try:
                v = _commit()
            finally:
                # committed: the log itself now carries the fence; failed:
                # the batch is lost and must not stay fenced
                self._pending_txn = None
            if post_commit is not None:
                post_commit(v)
            return v

        if self._commit_pool is None:
            from concurrent.futures import ThreadPoolExecutor
            self._commit_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="lake-commit")
        with self._commit_lock:
            self._commit_future = self._commit_pool.submit(_finalize)
        return -1

    def join_pending_commit(self) -> int | None:
        """Block until an in-flight async commit finalizer (see
        ``append_deltas(async_finalize=True)``) lands; re-raise its failure
        (a silently lost commit would drop a batch). Returns the committed
        version, or None if nothing was pending. No-op when called from the
        finalizer thread itself (post_commit hooks may reach table APIs)."""
        f = self._commit_future
        if f is None:
            return None
        if threading.current_thread().name.startswith("lake-commit"):
            return None
        try:
            return f.result()
        finally:
            # compare-and-clear: a maintenance thread that waited on this
            # finalizer must not drop the next batch's
            with self._commit_lock:
                if self._commit_future is f:
                    self._commit_future = None

    # ------------------------------------------------------- maintenance

    def compact_deltas_async(self, buckets: Iterable[int],
                             properties: dict[str, Any] | None = None):
        """Schedule :meth:`compact_deltas` on a background driver thread so
        its (distributed) fold job overlaps the NEXT trigger's scan and the
        streaming wrapper's driver-serial phases instead of extending the
        current batch's critical path.

        At most one maintenance job is in flight per table — if one is
        already running the call is a no-op (the next trigger re-evaluates
        the per-bucket counts). Correctness under the overlap: the fold reads
        a PINNED snapshot version and only removes that snapshot's files;
        concurrent delta appends land at later versions and win LWW
        resolution over the compacted base; commit races are retried with
        victim re-validation. NOT safe concurrent with COW rewrites (a COW
        merge derived from a pre-compaction snapshot would duplicate rows) —
        callers gate this on delta-append modes (mor/raw), which is also why
        :class:`~..streaming.CdcStreamRunner` joins maintenance before
        returning. Returns the Future, or None if one was already running."""
        if self._maint_future is not None and not self._maint_future.done():
            return None
        from concurrent.futures import ThreadPoolExecutor
        if self._maint_pool is None:
            self._maint_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="lake-maint")
        self._maint_future = self._maint_pool.submit(
            self.compact_deltas, buckets=list(buckets),
            properties=properties, record_phases=False)
        return self._maint_future

    def join_maintenance(self) -> None:
        """Block until any in-flight background maintenance commit lands and
        re-raise its failure (a silently failed compaction would leave read
        amplification growing unbounded)."""
        f = self._maint_future
        if f is not None:
            f.result()
            self._maint_future = None

    def delta_file_counts(self) -> dict[int, int]:
        """Delta files per bucket; key MIXED_BUCKET counts raw-append files."""
        counts: dict[int, int] = {}
        for e in self.snapshot().files.values():
            if e.kind == "delta":
                counts[e.bucket] = counts.get(e.bucket, 0) + 1
        return counts

    def _entry_bucket_range(self, e: FileEntry) -> tuple[int, int]:
        """Conservative [min, max] bucket range a mixed file may span."""
        st = e.stats.get(BUCKET_COL)
        if st is None:
            return (0, self.num_buckets - 1)
        return (int(st[0]), int(st[1]))

    def bucket_read_amplification(self) -> dict[int, int]:
        """Per-bucket DELTA-file read amplification: how many delta files a
        read of bucket b must open. Unlike :meth:`delta_file_counts`, a
        mixed (multi-bucket) file counts toward EVERY bucket in its footer
        ``_bucket`` range — the number that actually drives read cost and
        the auto-compaction trigger."""
        counts: dict[int, int] = {}
        for e in self.snapshot().files.values():
            if e.kind != "delta":
                continue
            if e.bucket != MIXED_BUCKET:
                counts[e.bucket] = counts.get(e.bucket, 0) + 1
            else:
                lo, hi = self._entry_bucket_range(e)
                for b in range(lo, hi + 1):
                    counts[b] = counts.get(b, 0) + 1
        return counts

    def expand_bucket_closure(self, snap: Snapshot,
                              buckets: Iterable[int]) -> list[int] | None:
        """Smallest superset of ``buckets`` closed under mixed-file spans.

        A rewrite of bucket set B must also rewrite every bucket that shares
        a (raw-append / grouped-L0) file with B — otherwise the shared file's
        foreign-bucket rows would be duplicated by the swap. Ranges can
        chain, so iterate to a fixed point. Returns ``None`` when the closure
        covers the whole table (callers treat None as "all buckets", the old
        full-fold fallback — now the worst case instead of the only case)."""
        want = set(buckets)
        spans = [self._entry_bucket_range(e) for e in snap.files.values()
                 if e.bucket == MIXED_BUCKET]
        grew = True
        while grew:
            grew = False
            for lo, hi in spans:
                if any(lo <= b <= hi for b in want) \
                        and not want.issuperset(range(lo, hi + 1)):
                    want.update(range(lo, hi + 1))
                    grew = True
        if len(want) >= self.num_buckets:
            return None
        return sorted(want)

    def buckets_of_entries(self, entries: Iterable[FileEntry]) -> set[int]:
        """Every bucket the given file entries may contain rows of (mixed
        files contribute their full footer ``_bucket`` range)."""
        out: set[int] = set()
        for e in entries:
            if e.bucket != MIXED_BUCKET:
                out.add(e.bucket)
            else:
                lo, hi = self._entry_bucket_range(e)
                out.update(range(lo, hi + 1))
        return out

    def compact_deltas(self, max_delta_files: int = 8,
                       buckets: Iterable[int] | None = None,
                       properties: dict[str, Any] | None = None,
                       record_phases: bool = True) -> int | None:
        """Fold delta files into base files for buckets whose delta count
        reached ``max_delta_files`` (or an explicit bucket list). Content
        preserving: the state :meth:`read` resolves (``with_bucket=True``,
        so winning tombstones are kept and keep guarding their keys) is
        rewritten as base files. The analogue of Iceberg rewrite_data_files /
        Hudi compaction.

        Raw-append (mixed-bucket) delta files span buckets, so removing one
        requires compacting every bucket it covers — the target set expands
        to the CLOSURE of the victims' footer bucket ranges
        (:meth:`expand_bucket_closure`): grouped L0 folds per group, and only
        ungrouped raw L0 (full-span files) degrades to the full fold.

        ``record_phases=False`` + the conflict retry make this safe to run
        from a background maintenance thread concurrent with delta appends:
        the read is pinned to the entry snapshot (later deltas are neither
        folded nor removed — LWW resolution keeps them winning over the
        compacted base), and a losing commit race is retried after
        re-validating the victims are still live."""
        self.join_pending_commit()
        snap = self.snapshot()
        if buckets is None:
            counts = self.bucket_read_amplification()
            targets = [b for b, c in counts.items() if c >= max_delta_files]
        else:
            targets = list(buckets)
        if not targets:
            return None
        victims = snap.files_for_buckets(targets)
        if any(e.bucket == MIXED_BUCKET for e in victims):
            targets = self.expand_bucket_closure(snap, targets)
            victims = snap.files_for_buckets(targets)
        resolved = self.read(version=snap.version, buckets=targets,
                             with_bucket=True)
        props = dict(properties or {})
        props["compacted_delta_buckets"] = sorted(targets) if targets else "all"
        # an L0 read is already split by bucket range, one task per range:
        # writing it as-is gives one file per bucket with no exchange
        l0 = any(e.kind == "delta" for e in victims)
        return self.commit_rewrite(resolved, victims, "compact_deltas",
                                   snap.schema, snap.schema_id, props,
                                   repartition=not l0,
                                   record_phases=record_phases,
                                   retry_conflicts=True)

    def evolve_schema(self, new_schema: T.StructType,
                      properties: dict[str, Any] | None = None) -> int:
        """Metadata-only schema change (additive columns / widening). Existing
        files stay as-is; reads conform them (NULL backfill / upcast).
        Reference analogue: ALTER TABLE ... ADD COLUMN IF NOT EXISTS + MERGE
        backfill (backfill_products_partition.py:59-96)."""
        self.join_pending_commit()
        snap = self.snapshot()
        version = snap.version + 1
        return self._write_commit(version, "evolve_schema", new_schema,
                                  snap.schema_id + 1, [], [], properties or {})

    def compact(self, min_files_per_bucket: int = 2,
                properties: dict[str, Any] | None = None) -> int | None:
        """Rewrite buckets fragmented across many files into one file each
        (reference analogue: single-file-per-partition compaction,
        gcs/loader.py:173-224; Iceberg rewrite_data_files). A mixed file
        counts toward every bucket of its span, and the rewrite covers the
        closure of those spans (:meth:`expand_bucket_closure`)."""
        self.join_pending_commit()
        snap = self.snapshot()
        counts: dict[int, int] = {}
        for e in snap.files.values():
            for b in self.buckets_of_entries([e]):
                counts[b] = counts.get(b, 0) + 1
        frag = [b for b, c in counts.items() if c >= min_files_per_bucket]
        if not frag:
            return None
        targets = self.expand_bucket_closure(snap, frag)
        victims = snap.files_for_buckets(targets)
        df = self.read(buckets=targets, with_bucket=True)
        props = dict(properties or {})
        props["compacted_buckets"] = targets if targets is not None else "all"
        return self.commit_rewrite(df, victims, "compact", snap.schema,
                                   snap.schema_id, props)

    def vacuum(self, keep_versions: int = 2) -> int:
        """Physically delete data files not referenced by the newest
        ``keep_versions`` snapshots. Returns #files removed."""
        self.join_pending_commit()
        vs = self._commit_versions()
        keep = set()
        for v in vs[-keep_versions:]:
            keep.update(self.snapshot(v).files.keys())
        removed = 0
        for fp in glob.glob(os.path.join(self.location, _DATA_DIR, "**", "*.parquet"),
                            recursive=True):
            rel = os.path.relpath(fp, self.location)
            if rel not in keep:
                os.remove(fp)
                removed += 1
        return removed


# ------------------------------------------------------------------ helpers

def _harvest_footer(fp: str, abs_dir: str, rel_dir: str, schema_id: int,
                    kind: str) -> dict[str, Any]:
    """Read one parquet footer into a FileEntry JSON dict. Module-level and
    dict-returning so it pickles cleanly into executor tasks (the
    distributed-harvest path) as well as driver threads."""
    import pyarrow.parquet as pq

    parent = os.path.basename(os.path.dirname(fp))
    bucket = (int(parent.split("=", 1)[1]) if parent.startswith("_bkt=")
              else MIXED_BUCKET)
    md = pq.read_metadata(fp)
    stats: dict[str, list[Any]] = {}
    sch = md.schema
    for ci in range(md.num_columns):
        name = sch.column(ci).name
        mn = mx = None
        nulls = 0
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            nulls += st.null_count or 0
            mn = st.min if mn is None or st.min < mn else mn
            mx = st.max if mx is None or st.max > mx else mx
        if ok and mn is not None and _json_safe(mn) and _json_safe(mx):
            stats[name] = [mn, mx, nulls]
    if bucket == MIXED_BUCKET:
        # a no-shuffle group write ("_bgrp=" dirs) can still be bucket-PURE
        # (group size 1, or a task that only saw one bucket): label such
        # files with their real bucket id from the footer stats so they are
        # first-class citizens of manifest pruning / per-bucket compaction
        bst = stats.get(BUCKET_COL)
        if bst is not None and bst[0] == bst[1]:
            bucket = int(bst[0])
    rel = os.path.join(rel_dir, os.path.relpath(fp, abs_dir))
    return FileEntry(rel, bucket, md.num_rows, os.path.getsize(fp),
                     schema_id, stats, kind).to_json()


def _lww_kernel(batches, ranges: list[tuple[list[int], list[tuple[str, bool]]]],
                target, key_cols: list[str], with_bucket: bool):
    """``mapInArrow`` body of an L0 read: each input row is a range index;
    the task reads that range's files with pyarrow, conforms each to the
    snapshot schema ``target`` (missing column -> NULL, narrower type
    widened, the :func:`_conform` rule) and keeps per key the max
    ``(_lsn, coalesce(_op, 'U'))`` row. Keys group by the
    NULL -> ``"\\x00null"`` string rule of ``bucket_expr``. Winning ``D``
    rows are kept as tombstones for ``with_bucket=True`` (they guard against
    resurrection by out-of-order older events); otherwise they and the
    engine columns are dropped.

    A mixed (multi-bucket) file is read once per range its ``_bucket`` span
    overlaps and filtered to that range's buckets. That re-read happens
    only at small per-task volumes, where ``_l0_groups_for`` already gives
    up bucket purity. Module-level so it pickles by reference into executor
    tasks, like :func:`_harvest_footer`."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for batch in batches:
        for i in batch.column(0).to_pylist():
            rb, files = ranges[i]
            parts = []
            for path, mixed in files:
                t = pq.ParquetFile(path, coerce_int96_timestamp_unit="us"
                                   ).read(use_threads=False)
                if mixed:
                    t = t.filter(pc.is_in(t[BUCKET_COL],
                                          value_set=pa.array(rb, pa.int32())))
                parts.append(_conform_arrow(t, target))
            if not parts:
                continue
            out = _lww_winners(pa.concat_tables(parts), key_cols)
            if not with_bucket:
                live = pc.not_equal(pc.fill_null(out[OP_COL], "U"), "D")
                out = out.filter(live).drop_columns(
                    [BUCKET_COL, LSN_COL, OP_COL])
            yield from out.to_batches()


def _conform_arrow(t, target):
    """Arrow twin of :func:`_conform`: project ``t`` onto ``target`` by
    column name."""
    import pyarrow as pa

    cols = []
    for f in target:
        if f.name not in t.column_names:
            cols.append(pa.nulls(t.num_rows, f.type))
        elif t.schema.field(f.name).type != f.type:
            cols.append(t[f.name].cast(f.type, safe=False))
        else:
            cols.append(t[f.name])
    return pa.Table.from_arrays(cols, schema=target)


def _lww_winners(t, key_cols: list[str]):
    """The max-``(_lsn, coalesce(_op, 'U'))`` row of each key of ``t``: one
    sort by (keys, _lsn desc, op desc), then the first row of each run of
    equal keys."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = t.num_rows
    if n == 0:
        return t
    order = {f"k{i}": pc.fill_null(pc.cast(t[k], pa.string()), "\x00null")
             for i, k in enumerate(key_cols)}
    order["lsn"] = t[LSN_COL]
    order["op"] = pc.fill_null(t[OP_COL], "U")
    idx = pc.sort_indices(
        pa.table(order),
        sort_keys=[(f"k{i}", "ascending") for i in range(len(key_cols))]
        + [("lsn", "descending"), ("op", "descending")])
    first = None
    for i in range(len(key_cols)):
        k = pc.take(order[f"k{i}"], idx)
        step = pc.not_equal(k.slice(1), k.slice(0, n - 1))
        first = step if first is None else pc.or_(first, step)
    head = pa.chunked_array([pa.array([True])] + first.chunks, pa.bool_())
    return t.take(pc.filter(idx, head))


def _json_safe(v: Any) -> bool:
    try:
        json.dumps(v)
        return True
    except TypeError:
        return False


def widen_type(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """Least common widened numeric type, or None if incompatible.
    Implements the reference's INT64->FLOAT64 widening rule
    (src/shared/parquet/schemas.py:30-34) generalized to the
    byte<short<int<long<float<double lattice."""
    if a == b:
        return a
    ra, rb = _WIDEN_RANK.get(a.typeName()), _WIDEN_RANK.get(b.typeName())
    if ra is None or rb is None:
        return None
    return a if ra >= rb else b


def session_expr_cache(spark: SparkSession) -> dict:
    """Per-session cache of reusable Column expression templates.

    Column objects are unresolved expression trees bound only to the JVM
    gateway, not to any DataFrame — rebuilding the same projection lists on
    every micro-batch costs hundreds of py4j round trips of driver-serial
    time per trigger. Stored ON the session object so templates die with the
    session (a Column from a stopped SparkContext must never be reused)."""
    c = getattr(spark, "_graft_expr_cache", None)
    if c is None:
        c = {}
        try:
            spark._graft_expr_cache = c
        except Exception:  # unattachable session proxy: degrade to no cache
            pass
    return c


def _conform(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project df onto target schema: missing columns -> NULL (reference
    NULL-padding, gcs/loader.py:307-324), present columns cast to target type
    (widening), extras dropped (gcs/loader.py:329-345)."""
    have = {f.name: f for f in df.schema.fields}
    if all(f.name in have and have[f.name].dataType == f.dataType
           for f in target.fields) and len(have) == len(target.fields) \
            and [f.name for f in df.schema.fields] == [f.name for f in target.fields]:
        return df  # already conformant: skip the no-op projection
    cache = session_expr_cache(df.sparkSession)
    key = ("conform",
           tuple((f.name, f.dataType) for f in df.schema.fields),
           tuple((f.name, f.dataType) for f in target.fields))
    cols = cache.get(key)
    if cols is None:
        cols = []
        for f in target.fields:
            if f.name in have:
                src = have[f.name]
                if src.dataType == f.dataType:
                    cols.append(F.col(f.name))
                else:
                    cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        cache[key] = cols
    return df.select(*cols)
