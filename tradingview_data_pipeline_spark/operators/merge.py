"""Keyed-table maintenance: MERGE upsert, overwrite, append-with-dedup
(SURVEY K1-K5).

The reference upserts via PostgREST ``upsert(batch, on_conflict=key)`` in
hand-chunked batches with per-row retry (uploadtodb.py:159-198). In this
engine a table is a parquet directory (production target: Delta/Iceberg,
where ``merge_upsert`` maps 1:1 onto ``MERGE INTO``) and maintenance ops
are set-based:

- ``merge_upsert``  = MERGE: matched rows take the source's non-null
  column values (column-wise coalesce — the technical and fundamental
  pipelines update disjoint column subsets of the same row, K1/J5),
  unmatched source rows are inserted.
- ``overwrite``     = truncate-and-load (K3).
- ``append_dedup``  = insert only keys not already present (K5/J4).

Scale design — bucket-pruned maintenance with MANIFEST COMMITS: with
``buckets=N`` the table is a set of immutable bucket directories plus
one ``_manifest.json`` mapping bucket id -> live directory name
(B = pmod(hash(key), N), Spark's deterministic murmur3) — the same
commit-log idea Delta/Iceberg implement, reduced to one atomic file
replace. Every maintenance op

  1. computes the source's touched buckets (<= N distinct values —
     a bounded collect),
  2. reads ONLY the touched buckets' directories (file pruning by
     manifest lookup — untouched buckets' files are never opened),
  3. writes each merged bucket to a NEW directory, then commits the
     updated mapping via ``os.replace`` of the manifest — the single
     atomic visibility point — and only then deletes replaced dirs.

Readers resolve the manifest once at plan time, so every read is a
consistent SNAPSHOT: a crash at any point of a maintenance op leaves
either the old manifest (new dirs are invisible orphans, GC'd by the
next op) or the new one (stale dirs are orphans likewise) — never a
mixed-version or half-visible table. Single-writer is assumed (as in
the reference's cron serialization); the one residual race is a reader
that resolved the OLD manifest and is still scanning while the writer
GCs those directories post-commit — solved the way Delta/Iceberg solve
it: ``retain_versions=N`` keeps the last N snapshots' directories
through GC (manifest history files ``_manifest_vNNNNNN.json``), which
both shields in-flight readers and enables time travel
(``read(version=...)``, ``versions()``, ``vacuum()``). What a real
table format still adds is multi-writer log coordination beyond this
class's loud-failure optimistic check (the call sites are MERGE-shaped
either way).

A daily upsert touching K symbols costs O(K/N * table), not O(table).
At 100 TB: size N so a bucket ~ a few GB (e.g. N=8192 for symbol
keys); the merge join shuffles only the touched slice, and both sides
hash on the same key so AQE plans a co-located join. The manifest
itself stays O(N) bytes — list-free planning, no directory walks on
the read path.

Pre-manifest tables (hive-style ``path/__bucket=B/`` layout, including
its historical crash states) are migrated in place by the first
maintenance op; manifest-less reads fall back to the legacy resolution
(read-only).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

_BUCKET_COL = "__bucket"
_MANIFEST = "_manifest.json"
_NEWDIR_RE = re.compile(r"^b\d+-[0-9a-f]{8}$")   # manifest-era bucket dirs


def _fsync_dir(path: str) -> None:
    """Make a rename/replace durable across power loss: POSIX persists a
    rename only once the CONTAINING directory's entry is fsynced — an
    ``os.replace`` alone survives a process crash but not necessarily a
    power cut. Best-effort (some filesystems refuse O_RDONLY dir fsync)."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def parquet_footer_rows(paths: list[str]) -> int:
    """EXACT row count from parquet footers — driver-side metadata reads
    only, no Spark job (each footer is a few KB; cost O(files), the same
    listing a scan plan does anyway). The statistics source for mode
    gates that must not spend a cluster action (e.g. the fundamental
    job's percentile-mode pick)."""
    import pyarrow.parquet as pq
    total = 0
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                for n in names:
                    if n.endswith(".parquet"):
                        total += pq.ParquetFile(
                            os.path.join(root, n)).metadata.num_rows
        elif os.path.isfile(p):
            total += pq.ParquetFile(p).metadata.num_rows
    return total


def align_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project onto the declared schema: missing columns -> typed NULLs,
    extra columns dropped, types cast (tolerant sink alignment,
    sectormerged_improved.py:655-680).

    Built as ONE selectExpr (r12, guide §7.3): the per-column
    ``Column.try_cast(DataType)`` form pays a getActiveSession +
    parseDataType py4j round trip per column (~19 ms each on this
    container — 2.6 s per merge on the 137-column stock schema); the
    TryCast expressions the parser builds here are identical."""
    cols = set(df.columns)
    exprs = []
    for f in schema.fields:
        nq = f.name.replace("`", "``")
        if f.name in cols:
            exprs.append(f"try_cast(`{nq}` AS {f.dataType.simpleString()})"
                         f" AS `{nq}`")
        else:
            exprs.append(f"CAST(NULL AS {f.dataType.simpleString()})"
                         f" AS `{nq}`")
    return df.selectExpr(*exprs)


class ParquetTable:
    """A keyed table stored as parquet with atomic replace-on-write.

    ``buckets=N`` switches to the hash-bucketed layout with bucket-pruned
    maintenance (see module docstring)."""

    # _insert_only_fastpath engages only above this footer row count:
    # its collision probe costs one extra source evaluation + a
    # key-column scan, which pays for itself only when the avoided
    # bucket rewrite is large. Small tables (the scoring pipelines'
    # reference-sized stores) always take the plain rewrite. Tests
    # lower this to exercise the path on toy tables.
    INSERT_FASTPATH_MIN_ROWS = 1_000_000

    def __init__(self, spark: SparkSession, path: str, schema: T.StructType,
                 key: str, *, buckets: int | None = None,
                 retain_versions: int | None = None):
        self.spark = spark
        self.path = path
        self.schema = schema
        self.key = key
        self.buckets = buckets
        # Time travel / reader retention (bucketed tables): how many
        # committed versions' data directories survive GC. 1 = current
        # only (the original behavior); N > 1 keeps the last N snapshots
        # readable via read(version=...) — the reader-retention window a
        # real table format provides. Retention is a TABLE property
        # persisted in the manifest (like n_buckets): None here means
        # "use the table's stored window" (default 1), so a default
        # handle — a cron job, the CLI — can never silently GC the
        # snapshots a retention-configured handle asked to keep. Passing
        # a value updates the stored window at this handle's next
        # commit. overwrite() (K3 truncate) resets the table INCLUDING
        # its history to version 1 by design — the retention shield
        # covers maintenance commits, not explicit truncation.
        if retain_versions is not None and retain_versions < 1:
            raise ValueError("retain_versions must be >= 1")
        self.retain_versions = retain_versions

    def _retention(self, m: dict | None) -> int:
        """Effective window: the handle's explicit value, else the
        table's stored one, else 1."""
        if self.retain_versions is not None:
            return self.retain_versions
        if m is not None:
            return int(m.get("retain_versions", 1))
        return 1

    # -- read ---------------------------------------------------------------

    def exists(self) -> bool:
        if not os.path.isdir(self.path):
            return False
        names = os.listdir(self.path)
        return (_MANIFEST in names
                or "_SUCCESS" in names
                or any(n.endswith(".parquet") for n in names)
                or any(n.startswith(f"{_BUCKET_COL}=") for n in names))

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read: resolves the manifest once at plan time, so the
        frame sees exactly one committed version regardless of concurrent
        maintenance. Read-only — crash housekeeping lives on the write
        path (``repair``).

        ``version=N`` time-travels to an earlier committed snapshot
        (bucketed tables with ``retain_versions > 1``): the manifest
        history names that version's directories, which GC keeps for the
        last ``retain_versions`` commits. Raises ValueError when the
        version's manifest or any of its directories is gone."""
        if not self.exists():
            if version is not None:
                raise ValueError(f"version {version}: table {self.path} "
                                 f"does not exist")
            return self.spark.createDataFrame([], self.schema)
        if not self.buckets:
            if version is not None:
                raise ValueError("time travel requires a bucketed table "
                                 "(manifest commits carry the history)")
            return self.spark.read.schema(self.schema).parquet(self.path)
        m = self._load_manifest() if version is None             else self._load_version(version)
        if m is None:                          # pre-manifest legacy layout
            return self._read_raw().drop(_BUCKET_COL)
        dirs = [os.path.join(self.path, d) for d in m["buckets"].values()]
        if version is not None:
            missing = [d for d in dirs if not os.path.isdir(d)]
            if missing:
                raise ValueError(
                    f"version {version} of {self.path} is no longer "
                    f"readable: {len(missing)} directories were GC'd "
                    f"(outside the retain_versions="
                    f"{self._retention(m)} window)")
        if not dirs:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(*dirs)

    def read_key(self, value) -> DataFrame:
        """Point lookup: rows whose key equals ``value``, scanning ONLY
        that key's bucket directory (same murmur3 bucket expr evaluated
        on the literal, then a manifest lookup) — O(bucket) instead of
        O(table) for key-equality reads. Falls back to a filtered full
        read for unbucketed or pre-manifest tables."""
        key_type = self.schema[self.key].dataType
        pred = F.col(self.key) == F.lit(value).cast(key_type)
        m = self._load_manifest() if self.buckets else None
        if m is None:
            return self.read().where(pred)
        b = self.spark.range(1).select(
            F.pmod(F.hash(F.lit(value).cast(key_type)),
                   F.lit(self.buckets)).cast("int").alias("b")
        ).collect()[0]["b"]
        return self._read_slice(m["buckets"], [b]).where(pred)

    def read_matching(self, keys: DataFrame,
                      key_col: str | None = None) -> DataFrame:
        """Bucket-pruned SUPERSET read for key-join workloads: rows from
        only the bucket directories that any key in ``keys`` hashes to —
        the join / semi-join / anti-join itself stays with the caller
        (every key-equality match is guaranteed to be inside the
        returned slice; non-matching rows from touched buckets ride
        along). One tiny job collects the distinct touched BUCKET IDS
        (bounded by the bucket count, never O(keys)), so a batch that
        touches b of N buckets reads b/N of the table instead of all of
        it. Falls back to a full read for unbucketed or pre-manifest
        tables, where no pruning is possible."""
        key_col = key_col or self.key
        key_type = self.schema[self.key].dataType
        m = self._load_manifest() if self.buckets else None
        if m is None:
            return self.read()
        bs = sorted(r["b"] for r in keys.select(
            F.pmod(F.hash(F.col(key_col).cast(key_type)),
                   F.lit(self.buckets)).cast("int").alias("b"))
            .distinct().collect())
        return self._read_slice(m["buckets"], bs)

    def row_count(self) -> int:
        """Exact table row count — no Spark job. Manifest-committed
        tables read the per-bucket counts recorded at commit time (one
        JSON read, O(1) in file count — the insert-fastpath gate calls
        this every trigger); legacy manifests without counts, and
        unbucketed tables, fall back to the parquet-footer walk."""
        if not self.exists():
            return 0
        m = self._load_manifest() if self.buckets else None
        if m is not None:
            br = m.get("bucket_rows")
            live = list(m["buckets"].values())
            if br is not None and all(d in br for d in live):
                return sum(int(br[d]) for d in live)
            dirs = [os.path.join(self.path, d) for d in live]
        else:
            dirs = [self.path]
        return parquet_footer_rows(dirs)

    def status(self) -> dict:
        """Table metadata from filesystem + manifest only — no Spark job.
        Feeds ops reports (``notify``) and the jobs CLI."""
        if not os.path.isdir(self.path):
            return {"exists": False, "path": self.path}
        m = self._load_manifest() if self.buckets else None
        out: dict = {
            "exists": self.exists(), "path": self.path,
            "layout": ("manifest" if m is not None
                       else "bucketed-legacy" if self.buckets else "plain"),
        }
        if m is not None:
            out["version"] = int(m["version"])
            out["buckets_live"] = len(m["buckets"])
            out["versions_readable"] = self.versions()
            dirs = [os.path.join(self.path, d) for d in m["buckets"].values()]
        else:
            dirs = [self.path]
        files = total = 0
        for d in dirs:
            for root, _, names in os.walk(d):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        total += os.path.getsize(os.path.join(root, n))
        out["parquet_files"], out["bytes"] = files, total
        return out

    # -- manifest (the commit log, one atomic file) --------------------------

    def _manifest_file(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _history_file(self, version: int) -> str:
        return os.path.join(self.path, f"_manifest_v{int(version):06d}.json")

    def _load_manifest(self) -> dict | None:
        try:
            with open(self._manifest_file()) as fh:
                m = json.load(fh)
        except (FileNotFoundError, NotADirectoryError):
            return None
        declared = m.get("n_buckets")
        if declared is not None and declared != self.buckets:
            # a handle with the wrong bucket count would route keys to the
            # wrong buckets on write and mis-prune on read — fail loudly
            raise RuntimeError(
                f"bucket-count mismatch on {self.path}: table layout has "
                f"{declared} buckets, handle was opened with {self.buckets}")
        return m

    def _commit_manifest(self, buckets: dict[str, str], version: int,
                         bucket_rows: dict[str, int] | None = None) -> dict:
        """THE atomic visibility point: fsync a temp manifest, then
        ``os.replace`` it over the live one. Every directory change
        before this call is invisible to readers; everything after it
        (deleting replaced dirs) is garbage collection.

        Optimistic concurrency check (Delta's commit protocol in
        miniature): the on-disk version must still be the one this op
        planned against (``version - 1``); another writer's interleaved
        commit raises instead of silently losing its update. Version 1
        commits (seed/migration) assert no manifest exists yet.

        Per-bucket row counts are recorded in the manifest (Delta's
        numRecords in miniature) so ``row_count()`` — the insert-fastpath
        gate that runs EVERY trigger — reads one JSON instead of
        re-walking every parquet footer in every live bucket (hardlink
        appends grow file counts per trigger until compact(), so the
        walk itself was becoming O(total files) driver work per trigger,
        round-11 advisor catch). Counts carry forward by directory name
        (dirs are immutable once committed); new dirs are footer-walked
        once here unless the caller passes exact ``bucket_rows``
        overrides (the fastpath does — its new dirs are mostly hardlinks
        whose rows it already knows)."""
        cur = self._load_manifest()
        cur_version = 0 if cur is None else int(cur["version"])
        if cur_version != version - 1:
            raise RuntimeError(
                f"concurrent commit detected on {self.path}: planned "
                f"against version {version - 1}, found {cur_version} — "
                f"re-run the maintenance op (MERGE is idempotent)")
        retain = self.retain_versions if self.retain_versions is not None \
            else (int(cur.get("retain_versions", 1)) if cur else 1)
        prior_rows = (cur or {}).get("bucket_rows", {})
        rows: dict[str, int] = {}
        for d in buckets.values():
            if bucket_rows is not None and d in bucket_rows:
                rows[d] = int(bucket_rows[d])
            elif d in prior_rows:
                rows[d] = int(prior_rows[d])
            else:
                rows[d] = parquet_footer_rows([os.path.join(self.path, d)])
        m = {"format": 2, "version": version, "n_buckets": self.buckets,
             "retain_versions": retain, "buckets": buckets,
             "bucket_rows": rows}
        tmp = os.path.join(self.path, f"_manifest_tmp_{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            json.dump(m, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._manifest_file())
        _fsync_dir(self.path)          # persist the replace itself
        # immutable history copy (time travel metadata). Written AFTER
        # the live replace: a crash in between costs only this version's
        # history entry (read(version=...) falls back to the live
        # manifest for the current version), never snapshot atomicity.
        hist = self._history_file(version)
        htmp = os.path.join(self.path, f"_manifest_tmp_{uuid.uuid4().hex[:8]}")
        with open(htmp, "w") as fh:
            json.dump(m, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(htmp, hist)
        _fsync_dir(self.path)
        # bound history metadata: manifests older than the stored window
        # protect nothing and read nothing — prune them here so a table
        # committed daily for years keeps O(retain) history files, not
        # O(commits)
        for n in os.listdir(self.path):
            if n.startswith("_manifest_v") and n.endswith(".json"):
                hv = int(n[len("_manifest_v"):-len(".json")])
                if hv <= version - retain:
                    try:
                        os.remove(os.path.join(self.path, n))
                    except OSError:
                        pass
        return m

    def _protected_dirs(self, live: dict, retain: int | None = None) -> set:
        """Directory names GC must keep: the live mapping plus every
        mapping of the previous ``retain - 1`` history manifests
        (missing history entries protect nothing). ``retain`` defaults
        to the TABLE's effective window (stored in the manifest)."""
        if retain is None:
            retain = self._retention(live)
        keep = set(live["buckets"].values())
        v = int(live["version"])
        for old in range(max(1, v - retain + 1), v):
            try:
                with open(self._history_file(old)) as fh:
                    keep |= set(json.load(fh)["buckets"].values())
            except FileNotFoundError:
                pass
        return keep

    def _gc_unprotected(self, protected: set) -> None:
        """Delete every bucket directory no retained snapshot references
        (the single GC sweep shared by repair, post-commit GC, vacuum)."""
        for n in os.listdir(self.path):
            full = os.path.join(self.path, n)
            if n not in protected and os.path.isdir(full) and (
                    n.startswith(f"{_BUCKET_COL}=") or _NEWDIR_RE.match(n)):
                shutil.rmtree(full, ignore_errors=True)

    def _load_version(self, version: int) -> dict:
        live = self._load_manifest()
        if live is not None and int(live["version"]) == int(version):
            return live
        try:
            with open(self._history_file(version)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            raise ValueError(
                f"version {version} of {self.path} is not available "
                f"(never committed, vacuumed, or pre-history)") from None

    def versions(self) -> list[int]:
        """Committed versions still fully readable: their manifest is
        retained AND every directory it references still exists."""
        if not os.path.isdir(self.path):
            return []
        out = []
        live = self._load_manifest()
        mans = {}
        if live is not None:
            mans[int(live["version"])] = live
        for n in os.listdir(self.path):
            if n.startswith("_manifest_v") and n.endswith(".json"):
                v = int(n[len("_manifest_v"):-len(".json")])
                if v not in mans:
                    try:
                        with open(os.path.join(self.path, n)) as fh:
                            mans[v] = json.load(fh)
                    except (OSError, ValueError):
                        continue
        for v in sorted(mans):
            if all(os.path.isdir(os.path.join(self.path, d))
                   for d in mans[v]["buckets"].values()):
                out.append(v)
        return out

    def rollback(self, version: int) -> None:
        """Restore a retained snapshot as the NEW live version (audit /
        bad-load recovery). Not an undo of the commit log: rolling back
        v5 to v3 commits a v6 whose mapping equals v3's, so history
        stays append-only, the OCC check still guards concurrent
        writers, and the botched versions remain readable until they
        roll out of the window."""
        m = self._load_version(version)
        missing = [d for d in m["buckets"].values()
                   if not os.path.isdir(os.path.join(self.path, d))]
        if missing:
            raise ValueError(
                f"cannot roll back {self.path} to version {version}: "
                f"{len(missing)} directories were GC'd")
        live = self._load_manifest()
        self._commit_manifest(dict(m["buckets"]), int(live["version"]) + 1)

    def vacuum(self, keep: int | None = None) -> None:
        """Drop history older than ``keep`` versions (default: the
        table's effective window) and GC directories no retained
        manifest references. Explicitly destructive below the stored
        window; does NOT change the stored window. Single-writer
        context, like repair()."""
        live = self._load_manifest()
        if live is None:
            return
        keep = self._retention(live) if keep is None else max(1, int(keep))
        v = int(live["version"])
        for n in os.listdir(self.path):
            if n.startswith("_manifest_v") and n.endswith(".json"):
                hv = int(n[len("_manifest_v"):-len(".json")])
                if hv <= v - keep:
                    os.remove(os.path.join(self.path, n))
        self._gc_unprotected(self._protected_dirs(live, retain=keep))

    def repair(self) -> None:
        """Write-path housekeeping, run at the start of every bucketed
        maintenance op (single-writer context) and callable explicitly:

        - no manifest yet: migrate a legacy hive layout in place —
          resolve its historical crash states (``__old_`` strays), then
          commit a version-1 manifest referencing the existing dirs;
        - with a manifest: delete orphan bucket directories nothing
          references (the leftovers of a maintenance op that crashed
          before or after its commit — invisible to readers either way).

        Never called from ``read()``: reads are snapshot-consistent by
        manifest resolution alone and must not mutate the directory."""
        if not self.buckets or not os.path.isdir(self.path):
            return
        m = self._load_manifest()
        if m is None:
            self._repair_legacy()
            names = os.listdir(self.path)
            has_bucket_dirs = any(n.startswith(f"{_BUCKET_COL}=")
                                  for n in names)
            has_root_files = any(n.endswith(".parquet") for n in names)
            if has_root_files and has_bucket_dirs:
                # half-hive mystery layout — migrating either way could
                # double- or zero-count rows; loud failure over data loss
                raise RuntimeError(
                    f"mixed legacy layout at {self.path}: both root-level "
                    f"parquet files and {_BUCKET_COL}= directories exist — "
                    f"resolve manually before bucketed maintenance")
            if has_root_files:
                # legacy PLAIN layout opened with buckets=N: committing a
                # manifest built from (absent) bucket dirs would be an
                # EMPTY mapping that silently orphans every row — rewrite
                # the data through the bucketed layout instead.
                # _replace_with writes the new tree to a sibling tmp dir
                # while the source files are still in place, swaps the
                # directory, and commits the v1 manifest.
                self._replace_with(
                    self.spark.read.schema(self.schema).parquet(self.path))
                m = self._load_manifest()
                assert m is not None
            else:
                mapping = {n.split("=", 1)[1]: n for n in names
                           if n.startswith(f"{_BUCKET_COL}=")}
                m = self._commit_manifest(mapping, 1)
        for n in os.listdir(self.path):
            full = os.path.join(self.path, n)
            if n.startswith("_manifest_tmp_") and os.path.isfile(full):
                os.remove(full)                # crashed pre-replace commit
        self._gc_unprotected(self._protected_dirs(m))

    def _repair_legacy(self) -> None:
        """Resolve pre-manifest crash states (the old rename-pair swap
        left ``__bucket=B__old_x`` strays): restore a moved-away bucket
        whose live dir is missing, drop a superseded old copy."""
        for name in os.listdir(self.path):
            if not name.startswith(f"{_BUCKET_COL}=") or "__old_" not in name:
                continue
            live = os.path.join(self.path, name.split("__old_")[0])
            old = os.path.join(self.path, name)
            if os.path.isdir(live):
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.rename(old, live)

    def _read_raw(self) -> DataFrame:
        """LEGACY (pre-manifest) bucketed read, keeping the ``__bucket``
        directory column. Read-only; old-layout crash leftovers are
        RESOLVED without touching disk: a live ``__bucket=B`` dir always
        wins, and a stray ``__bucket=B__old_x`` dir is read only when its
        live dir is missing (it then carries the bucket's pre-merge
        rows), so every key reads exactly once in every crash state."""
        names = os.listdir(self.path) if os.path.isdir(self.path) else []
        stray = [n for n in names
                 if n.startswith(f"{_BUCKET_COL}=") and "__old_" in n]
        if not stray:
            try:
                df = self.spark.read.parquet(self.path)
            except Exception:                  # empty dir (just _SUCCESS)
                return self.spark.createDataFrame([], self._bucketed_schema())
            if _BUCKET_COL not in df.columns:  # legacy unbucketed layout
                df = df.withColumn(_BUCKET_COL, self._bucket_expr())
            return align_to_schema(df, self._bucketed_schema())
        live = [n for n in names
                if n.startswith(f"{_BUCKET_COL}=") and "__old_" not in n]
        parts = []
        if live:
            parts.append(self.spark.read.option("basePath", self.path)
                         .parquet(*[os.path.join(self.path, n) for n in live]))
        live_set = set(live)
        for n in stray:
            if n.split("__old_")[0] in live_set:
                continue                       # superseded — new dir is live
            parts.append(self.spark.read
                         .parquet(os.path.join(self.path, n))
                         .withColumn(_BUCKET_COL, self._bucket_expr()))
        if not parts:
            return self.spark.createDataFrame([], self._bucketed_schema())
        out = align_to_schema(parts[0], self._bucketed_schema())
        for p in parts[1:]:
            out = out.unionByName(align_to_schema(p, self._bucketed_schema()))
        return out

    def _bucketed_schema(self) -> T.StructType:
        return T.StructType(list(self.schema.fields)
                            + [T.StructField(_BUCKET_COL, T.IntegerType())])

    def _bucket_expr(self):
        return F.pmod(F.hash(F.col(self.key)), F.lit(self.buckets)).cast("int")

    # -- write primitives ---------------------------------------------------

    def _replace_with(self, df: DataFrame) -> None:
        tmp = f"{self.path}__tmp_{uuid.uuid4().hex[:8]}"
        out = align_to_schema(df, self.schema)
        if self.buckets:
            out.withColumn(_BUCKET_COL, self._bucket_expr()) \
               .write.partitionBy(_BUCKET_COL).mode("overwrite").parquet(tmp)
        else:
            out.write.mode("overwrite").parquet(tmp)
        old = f"{self.path}__old_{uuid.uuid4().hex[:8]}"
        if os.path.exists(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)
        _fsync_dir(os.path.dirname(os.path.abspath(self.path)))
        if os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)
        if self.buckets:
            # seed the manifest from the fresh hive layout; a crash before
            # this point leaves a manifest-less dir that reads via the
            # legacy fallback and migrates on the next maintenance op
            mapping = {n.split("=", 1)[1]: n for n in os.listdir(self.path)
                       if n.startswith(f"{_BUCKET_COL}=")}
            self._commit_manifest(mapping, 1)

    def _read_slice(self, mapping: dict[str, str],
                    bucket_ids: list[int]) -> DataFrame:
        """Read only the named buckets' directories — file pruning by
        manifest lookup, no directory listing or partition discovery."""
        dirs = [os.path.join(self.path, mapping[str(b)])
                for b in bucket_ids if str(b) in mapping]
        if not dirs:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(*dirs)

    def _rewrite_touched_buckets(self, src: DataFrame, combine) -> None:
        """Bucket-pruned maintenance: read only the buckets the source
        touches, apply ``combine(tgt_slice, src)``, write each merged
        bucket to a NEW directory, then publish every change at once by
        committing the updated manifest. Untouched buckets are never
        read or rewritten; replaced directories are deleted only AFTER
        the commit (a crash anywhere leaves orphans, never a torn
        table)."""
        self.repair()        # migrate legacy layout / GC prior-crash orphans
        m = self._load_manifest()
        mapping, version = dict(m["buckets"]), int(m["version"])
        src = src.withColumn(_BUCKET_COL, self._bucket_expr())
        touched = sorted(r[0] for r in
                         src.select(_BUCKET_COL).distinct().collect())
        if not touched:
            return
        tgt = self._read_slice(mapping, [int(b) for b in touched])
        merged = combine(tgt, src.drop(_BUCKET_COL))
        tmp = f"{self.path}__tmp_{uuid.uuid4().hex[:8]}"
        align_to_schema(merged, self.schema) \
            .withColumn(_BUCKET_COL, self._bucket_expr()) \
            .write.partitionBy(_BUCKET_COL).mode("overwrite").parquet(tmp)
        try:
            for b in touched:
                new_dir = os.path.join(tmp, f"{_BUCKET_COL}={b}")
                key = str(b)
                if os.path.isdir(new_dir):
                    name = f"b{b}-{uuid.uuid4().hex[:8]}"
                    os.rename(new_dir, os.path.join(self.path, name))
                    mapping[key] = name
                elif key in mapping:
                    # combine produced no rows for this bucket: it is now
                    # empty — unmap it (keeping the old dir would resurrect
                    # rows the merged frame deleted)
                    mapping.pop(key)
            _fsync_dir(self.path)      # persist bucket-dir renames first
            new_m = self._commit_manifest(mapping, version + 1)  # publish
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        # post-commit GC (a crash here leaves orphans, never a torn
        # table): delete every bucket directory no retained snapshot
        # references — this op's replaced dirs once they leave the
        # retention window, and the dirs of versions that just rolled
        # out of it.
        self._gc_unprotected(self._protected_dirs(new_m))

    def _insert_only_fastpath(self, src: DataFrame) -> bool:
        """Hardlink append: commit ``src`` as pure inserts WITHOUT
        rewriting any bucket, iff no source key already exists in the
        store. Returns True when it committed (caller skips the rewrite
        path), False to fall back.

        Why: a batch-cadence writer upserts mostly-fresh keys every
        trigger, and ``_rewrite_touched_buckets`` copy-on-writes
        every touched bucket — at 5M stored rows that is a
        full-store rewrite per 500-doc batch (measured 6.9 s of a 15 s
        trigger, round 10). For a no-collision batch the merged result
        is exactly old-rows + new-rows, so each touched bucket's new
        directory can HARDLINK the old directory's immutable files and
        add only the batch's freshly-written ones: per-trigger write
        cost drops to O(batch + touched-bucket key-column scan), and
        the LSM-ish file accumulation is what ``compact()`` exists for.

        The collision probe reads ONLY the key column of the touched
        buckets (columnar scan, ~40 MB at 5M longs). Crash protocol is
        unchanged: new dirs + links land before the manifest commit (a
        crash leaves orphans, never a torn table); old dirs stay live
        for retained history versions — hardlinks make the overlap
        nearly free — and the same post-commit GC reaps them when they
        roll out of retention. Falls back (False) on any collision, a
        manifest-less/unbucketed table, or a filesystem that refuses
        the links.
        """
        if not self.buckets:
            return False
        self.repair()
        m = self._load_manifest()
        if m is None:
            return False
        if self.row_count() < self.INSERT_FASTPATH_MIN_ROWS:
            return False               # rewrite is cheap; probe is not
        mapping, version = dict(m["buckets"]), int(m["version"])
        touched = sorted(r[0] for r in
                         src.withColumn(_BUCKET_COL, self._bucket_expr())
                         .select(_BUCKET_COL).distinct().collect())
        if not touched:
            return True                     # nothing to insert
        stored_keys = self._read_slice(mapping, [int(b) for b in touched]) \
            .select(self.key)
        if not stored_keys.join(src.select(self.key), self.key,
                                "left_semi").isEmpty():
            return False
        tmp = f"{self.path}__tmp_{uuid.uuid4().hex[:8]}"
        align_to_schema(src, self.schema) \
            .withColumn(_BUCKET_COL, self._bucket_expr()) \
            .write.partitionBy(_BUCKET_COL).mode("overwrite").parquet(tmp)
        prior_rows = m.get("bucket_rows", {})
        new_rows: dict[str, int] = {}
        try:
            for b in touched:
                new_part = os.path.join(tmp, f"{_BUCKET_COL}={b}")
                if not os.path.isdir(new_part):
                    continue
                key = str(b)
                name = f"b{b}-{uuid.uuid4().hex[:8]}"
                new_dir = os.path.join(self.path, name)
                os.makedirs(new_dir)
                base = 0
                if key in mapping:
                    old_name = mapping[key]
                    old_dir = os.path.join(self.path, old_name)
                    base = int(prior_rows[old_name]) \
                        if old_name in prior_rows \
                        else parquet_footer_rows([old_dir])
                    for fn in os.listdir(old_dir):
                        if fn.endswith(".parquet"):
                            try:
                                os.link(os.path.join(old_dir, fn),
                                        os.path.join(new_dir, fn))
                            except OSError:
                                shutil.copy2(os.path.join(old_dir, fn),
                                             os.path.join(new_dir, fn))
                fresh = 0
                for fn in os.listdir(new_part):
                    if fn.endswith(".parquet"):
                        f_src = os.path.join(new_part, fn)
                        fresh += parquet_footer_rows([f_src])
                        os.rename(f_src, os.path.join(new_dir, fn))
                # exact count for the commit record: hardlinked base +
                # fresh file footers — O(batch files), never a walk of
                # the accumulated hardlink set
                new_rows[name] = base + fresh
                mapping[key] = name
            _fsync_dir(self.path)
            new_m = self._commit_manifest(mapping, version + 1,
                                          bucket_rows=new_rows)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        self._gc_unprotected(self._protected_dirs(new_m))
        return True

    def overwrite(self, df: DataFrame) -> None:
        """K3 truncate-and-load. Explicit truncation DESTROYS history:
        the table (and its manifest/history) resets to version 1, and
        the retention shield does not apply — an in-flight reader of the
        old snapshot can fail mid-scan. Use merge/update maintenance ops
        when readers or time travel must survive the write."""
        self._replace_with(df)

    def compact(self) -> None:
        """Small-file maintenance: rewrite every live bucket down to one
        file (repartition on the bucket expression → one task per
        bucket, partitionBy splits the dirs). Batch-cadence upserts
        write a file per shuffle task per touched bucket, so a table fed
        by frequent small batches accumulates files; compaction is the
        standard table-format answer (Delta OPTIMIZE / Iceberg rewrite).

        Rides ``_rewrite_touched_buckets``, so visibility is the same
        single manifest commit as any maintenance op: a crash anywhere
        leaves readers on exactly the old or exactly the new snapshot,
        and the interrupted attempt's dirs are GC'd as orphans. Results
        are byte-for-byte the same rows; only file layout changes."""
        if not self.exists():
            return
        if not self.buckets:
            self._replace_with(self.read().coalesce(1))
            return
        self._rewrite_touched_buckets(
            self.read(),
            lambda tgt, s: s.repartition(self.buckets, self._bucket_expr()))

    # -- merge frames (shared by whole-table and bucket-pruned paths) -------

    def _merge_frames(self, tgt: DataFrame, src: DataFrame,
                      source_cols: set, update_only: bool) -> DataFrame:
        # join on the key name (USING semantics): Spark emits one coalesced
        # key column for full-outer, exactly the J1 key-coalesce behavior
        joined = tgt.alias("t").join(src.alias("s"), on=self.key, how="full_outer")
        out_cols = [F.col(self.key)]
        for f in self.schema.fields:
            if f.name == self.key:
                continue
            t_c, s_c = F.col(f"t.{f.name}"), F.col(f"s.{f.name}")
            if update_only and f.name not in source_cols:
                out_cols.append(t_c.alias(f.name))
            else:
                out_cols.append(F.coalesce(s_c, t_c).alias(f.name))
        return joined.select(*out_cols)

    def _update_frames(self, tgt: DataFrame, src: DataFrame,
                       src_cols: set) -> DataFrame:
        joined = tgt.alias("t").join(
            src.alias("s").select(self.key,
                                  *[c for c in src_cols if c != self.key]),
            on=self.key, how="left")
        out_cols = [F.col(self.key)]
        for f in self.schema.fields:
            if f.name == self.key:
                continue
            if f.name in src_cols:
                out_cols.append(F.coalesce(F.col(f"s.{f.name}"), F.col(f"t.{f.name}"))
                                .cast(f.dataType).alias(f.name))
            else:
                out_cols.append(F.col(f"t.{f.name}").alias(f.name))
        return joined.select(*out_cols)

    # -- maintenance ops -----------------------------------------------------

    def merge_upsert(self, source: DataFrame, *,
                     update_only_source_columns: bool = True) -> None:
        """K1/K2 MERGE on the key.

        Matched rows: for every non-key column, take the source value when
        the source actually carries that column and it is non-null,
        else keep the target's (so a technical-only upsert never nulls out
        fundamental columns — the reference achieves the same by sending
        only its own column subset per request).
        Unmatched: insert (with NULLs for columns the source lacks).
        Source rows with NULL key are dropped (P4, uploadtodb.py:171-174).
        """
        source_cols = set(source.columns)
        src = align_to_schema(source, self.schema) \
            .where(F.col(self.key).isNotNull()) \
            .dropDuplicates([self.key])
        if not self.exists():
            self._replace_with(src)
            return
        combine = lambda tgt, s: self._merge_frames(
            tgt, s, source_cols, update_only_source_columns)
        if self.buckets:
            src = self._pin_batch(src)
            if self._insert_only_fastpath(src):
                return                     # pure inserts: hardlink append
            self._rewrite_touched_buckets(src, combine)
        else:
            self._replace_with(combine(self.read(), src))

    def _pin_batch(self, src: DataFrame) -> DataFrame:
        """One evaluation for the fastpath probe, the commit write, and
        the rewrite fallback: ``dropDuplicates`` over conflicting
        duplicate-key rows is non-deterministic, so an unpinned source
        could commit payloads that differ from what the collision probe
        saw (and every fallback would pay the probe's evaluation as pure
        overhead). Checkpoint semantics (not persist) because this is a
        CORRECTNESS pin — a retried task must not re-draw the
        duplicate-key lottery. DISK_ONLY per the addendum-27 rule:
        job-scale merges push decade-size frames through here, and
        memory-backed checkpoint blocks are a hidden heap tax on the
        single-JVM deployment."""
        return src.localCheckpoint(eager=True,
                                   storageLevel=StorageLevel.DISK_ONLY)

    def append_dedup(self, source: DataFrame) -> None:
        """K5: insert only rows whose key is not already present
        (left-anti join — the set-based form of the reference's
        fetch-all-URLs-then-skip loop, newsflow_scraper.py:243-293).
        Bucketed: the anti-join probes only the source's buckets (a key
        can only collide inside its own hash bucket)."""
        src = align_to_schema(source, self.schema) \
            .where(F.col(self.key).isNotNull()) \
            .dropDuplicates([self.key])
        if not self.exists():
            self._replace_with(src)
            return

        def combine(tgt: DataFrame, s: DataFrame) -> DataFrame:
            fresh = s.join(tgt.select(self.key), on=self.key, how="left_anti")
            return tgt.unionByName(fresh)

        if self.buckets:
            src = self._pin_batch(src)
            if self._insert_only_fastpath(src):
                return                     # no collisions: append == insert
            self._rewrite_touched_buckets(src, combine)
        else:
            self._replace_with(combine(self.read(), src))

    def merge_with(self, source: DataFrame, combine) -> None:
        """General MERGE with a caller-supplied ``combine(tgt_slice,
        src) -> DataFrame`` (e.g. additive aggregate-state merging, or
        replacing matched rows verbatim).  Bucketed tables
        rewrite only the buckets the source touches — the combine sees
        exactly the target rows that can interact with the source keys."""
        src = align_to_schema(source, self.schema) \
            .where(F.col(self.key).isNotNull())
        if not self.exists():
            self._replace_with(combine(self.spark.createDataFrame([], self.schema), src))
            return
        if self.buckets:
            self._rewrite_touched_buckets(src, combine)
        else:
            self._replace_with(combine(self.read(), src))

    def update_where(self, updates: DataFrame) -> None:
        """K4 as MERGE (matched-update only): never per-row round trips."""
        src = align_to_schema(updates, self.schema).dropDuplicates([self.key]) \
            .where(F.col(self.key).isNotNull())
        src_cols = set(updates.columns)
        if self.buckets and self.exists():
            self._rewrite_touched_buckets(
                src, lambda tgt, s: self._update_frames(tgt, s, src_cols))
        else:
            self._replace_with(self._update_frames(self.read(), src, src_cols))
