"""Snapshot-table format over parquet — the from-scratch stand-in for the
Iceberg table layer BASELINE.json names (the Iceberg runtime jar is absent
from this environment). This module implements the SEMANTICS the pipeline
needs from it — atomic commits, snapshot isolation for readers, time
travel, copy-on-write MERGE/DELETE and safe file GC — and is the engine's
only commit protocol.

Re-derived from the publicly documented Iceberg spec concepts (spec v2:
table metadata + snapshot list + manifest-tracked immutable data files),
not ported: the realization is deliberately minimal —

  <table>/data/<uuid>/part-*.parquet   immutable data-file directories
                                       (one per commit, never rewritten)
  <table>/data/<uuid>/bucket=N/        the same, written partitionBy
                                       bucket by a MERGE/DELETE commit
  <table>/_meta/v{N:012d}.metadata.json  FULL metadata for version N; the
                                       commit point is its CREATE-EXCLUSIVE
  <table>/_meta/VERSION                latest version, a reader cache
                                       updated by atomic rename after the
                                       commit (may lag; readers probe past)

Each metadata version embeds the COMPLETE snapshot history, and every
snapshot lists its complete set of data entries (Iceberg's manifest-list
indirection flattened — O(commits) metadata per version is the documented
trade-off; fine up to thousands of commits, which is the lineage-bucket
regime this engine writes). An entry is a whole commit dir `data/<uuid>`
(operations create/append/overwrite/compact) or one bucket's leaf dir
`data/<uuid>/bucket=N` (operations merge/delete: `commit_buckets` swaps
the touched buckets' leaves and keeps every other entry as it was).

Guarantees (tested in tests/test_snaptable.py, tests/test_merge_upsert.py):
  * readers NEVER see a partial commit — data and metadata are invisible
    until the metadata file lands;
  * a crash between data write and commit leaves only orphan files that
    `vacuum` removes (never referenced, never read) once they are older
    than `_ORPHAN_MIN_AGE_S` — a younger one may be a commit in flight;
  * time travel: `read(version=K)` reproduces any retained version
    byte-identically (data files are immutable); a version with no
    entries (every row deleted) reads as 0 rows with its schema;
  * `vacuum(keep_versions=k)` deletes data dirs referenced, whole or by a
    leaf, by NO retained metadata version — concurrent readers of
    retained versions are safe;
  * `read_incremental` is an append-only change feed: a range that
    crosses an overwrite, compact, merge or delete commit is rejected.

Concurrent WRITERS are fenced: each commit claims its version file by
CREATE-EXCLUSIVE (posix link(2) locally; HDFS create-no-overwrite
elsewhere; a metastore CAS is the object-store swap), so of N racing
committers exactly one wins each version and the rest rebase and retry —
every commit survives as a distinct version (tested:
tests/test_snaptable.py two-writer race). `compact`, merge and delete
conflict-fail instead of rebasing: they rewrite rows they read, and a
rebase could drop a concurrent commit's rows. `write(base_version=...)`
conflict-fails the same way, for an append derived from what it read.

Committers: `extract_job --snapshot` appends each run's buckets
(plans/lineage.snapshot_extracted); the incremental clean job appends
each cleaned delta with `cleaned_through` in its props and its base
version pinned (jobs/clean_job.run_incremental); MERGE and DELETE swap
bucket leaves (sources/merge.py via `commit_buckets`).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_FORMAT = "no-ocr-snaptable/1"

# A data dir that no committed snapshot has ever named may belong to a
# write whose commit is still in flight; vacuum deletes it only once it is
# older than this (Iceberg's remove_orphan_files default).
_ORPHAN_MIN_AGE_S = 3 * 24 * 3600


class _Fs:
    """Thin Hadoop FileSystem wrapper: works for file://, hdfs://, etc."""

    def __init__(self, spark: SparkSession, path: str):
        jvm = spark.sparkContext._jvm
        self._jvm = jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(path).getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._Path(path))

    def delete(self, path: str) -> None:
        """Recursive delete; raises if the FS reports failure on an
        existing path (no ignore_errors — a failed drop must surface)."""
        p = self._Path(path)
        if self._fs.exists(p) and not self._fs.delete(p, True):
            raise IOError(f"failed to delete {path}")

    def listdir(self, path: str) -> list[str]:
        p = self._Path(path)
        if not self._fs.exists(p):
            return []
        return [s.getPath().getName() for s in self._fs.listStatus(p)]

    def age_s(self, path: str) -> float:
        """Seconds since `path` was last modified, by its FS's clock."""
        mtime = self._fs.getFileStatus(self._Path(path)).getModificationTime()
        return time.time() - mtime / 1000

    def _local(self, path: str) -> str | None:
        """The posix path behind `path` when its FS is file://, else None."""
        if self._fs.getScheme() != "file":
            return None
        return self._fs.pathToFile(self._Path(path)).getPath()

    def write_atomic(self, path: str, text: str) -> None:
        """Write via temp + rename. Its one caller is the `VERSION` reader
        cache in `_commit`. A local path is replaced by one posix rename(2),
        so a reader or a crash sees the old or the new text. Other FSs
        delete, then rename (HDFS rename never overwrites): a crash in
        between leaves no `VERSION`, which `_version_of` survives by
        probing the metadata files from version 0."""
        local = self._local(path)
        if local is not None:
            os.makedirs(os.path.dirname(local), exist_ok=True)
            tmp = f"{local}.tmp-{uuid.uuid4().hex}"
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(text)
            os.replace(tmp, local)
            return
        tmp = self._Path(path + ".tmp")
        out = self._fs.create(tmp, True)
        out.write(bytearray(text.encode("utf-8")))
        out.close()
        dst = self._Path(path)
        if self._fs.exists(dst):
            self._fs.delete(dst, False)
        if not self._fs.rename(tmp, dst):
            raise IOError(f"failed to commit {path}")

    def create_exclusive(self, path: str, text: str) -> bool:
        """Atomic create-if-absent with the FULL content — the snapshot
        table's commit fence (two concurrent committers race for the same
        version file; exactly one wins). Local file:// paths hard-link a
        fully-written temp (posix link(2) is atomic and fails with EEXIST;
        content is complete at link time so readers never see a partial
        file). Other FSs use HDFS-style create(overwrite=false), atomic on
        HDFS; object stores swap this single call for a metastore CAS —
        the same catalog contract Iceberg documents."""
        local = self._local(path)
        if local is not None:
            os.makedirs(os.path.dirname(local), exist_ok=True)
            tmp = f"{local}.claim-{uuid.uuid4().hex}"
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(text)
            try:
                os.link(tmp, local)
                return True
            except FileExistsError:
                return False
            finally:
                os.unlink(tmp)
        # non-local: write a UNIQUE temp fully, then rename — HDFS rename
        # is atomic and FAILS if the destination exists, so the claim can
        # never be observed half-written (create-then-write let a racing
        # loser read a truncated claim, treat it as a dead corpse, delete
        # it, and retake the version)
        tmp = self._Path(f"{path}.claim-{uuid.uuid4().hex}")
        try:
            out = self._fs.create(tmp, True)
            out.write(bytearray(text.encode("utf-8")))
            out.close()
            dst = self._Path(path)
            if self._fs.exists(dst) or not self._fs.rename(tmp, dst):
                self._fs.delete(tmp, False)
                return False
            return True
        except Exception:
            # transient FS failure mid-claim: drop the temp (it
            # would leak into _meta/ forever) and report the
            # claim lost — the caller's retry loop handles it
            try:
                self._fs.delete(tmp, False)
            except Exception:
                pass
            return False

    def read_text(self, path: str) -> str:
        local = self._local(path)
        if local is not None:
            # control files are parsed on read; a hand edit (e.g. resetting
            # VERSION) would leave a `.crc` sidecar stale, which Hadoop's
            # checksummed open rejects
            with open(local, encoding="utf-8") as f:
                return f.read()
        inp = self._fs.open(self._Path(path))
        try:
            # py4j does not write back into Python bytearrays, so use the
            # JVM-side reader (commons-io ships with Spark)
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                inp, "UTF-8"
            )
        finally:
            inp.close()


def _meta_dir(path: str) -> str:
    return path.rstrip("/") + "/_meta"


def _version_of(fs: _Fs, path: str) -> int:
    """Latest COMMITTED version. The commit point is the create-exclusive
    metadata file (see _commit); VERSION is a reader cache that can lag —
    after a crash between metadata create and pointer update, or a lost
    pointer race between two fenced writers — so probe forward from it.
    An unparseable probe target is a half-written claim on a
    non-atomic-create FS, i.e. NOT committed: stop there."""
    vfile = f"{_meta_dir(path)}/VERSION"
    v = int(fs.read_text(vfile).strip()) if fs.exists(vfile) else 0
    while True:
        nxt = f"{_meta_dir(path)}/v{v + 1:012d}.metadata.json"
        if not fs.exists(nxt):
            return v
        try:
            if json.loads(fs.read_text(nxt)).get("version") != v + 1:
                return v
        except (ValueError, OSError):
            return v
        v += 1


def _commit(fs: _Fs, path: str, schema_json: dict, make_snap) -> int:
    """Fenced optimistic commit: build metadata against the latest version
    and claim v+1 by CREATE-EXCLUSIVE of its metadata file. Exactly one of
    N concurrent writers wins each version; losers rebase on the new
    latest and retry, so every commit survives as a distinct version (no
    last-rename-wins lost updates). `make_snap(v, snapshots)` returns the
    new snapshot entry (id must be v+1)."""
    for _ in range(16):
        v = _version_of(fs, path)
        snapshots = _load_meta(fs, path, v)["snapshots"] if v else []
        snap = make_snap(v, snapshots)
        meta = {
            "format": _FORMAT,
            "version": v + 1,
            "schema": schema_json,
            "snapshots": snapshots + [snap],
        }
        mp = f"{_meta_dir(path)}/v{v + 1:012d}.metadata.json"
        if fs.create_exclusive(mp, json.dumps(meta)):
            # pointer update is a best-effort reader cache — a crash here
            # loses nothing (_version_of probes past a stale pointer)
            fs.write_atomic(f"{_meta_dir(path)}/VERSION", str(v + 1))
            return v + 1
        # Lost the race — or a dead claim (half-written file from a crash
        # on a non-atomic-create FS) occupies the slot. Readable occupant:
        # rebase and retry. Unreadable: remove the corpse and retake.
        try:
            json.loads(fs.read_text(mp))
        except (ValueError, OSError):
            fs.delete(mp)
    raise IOError(f"snapshot commit contention at {path}: "
                  f"gave up after 16 attempts")


def _load_meta(fs: _Fs, path: str, version: int) -> dict:
    return json.loads(fs.read_text(
        f"{_meta_dir(path)}/v{version:012d}.metadata.json"
    ))


def current_version(spark: SparkSession, path: str) -> int:
    return _version_of(_Fs(spark, path), path)


def write(spark: SparkSession, path: str, df: DataFrame,
          mode: str = "append", props: dict | None = None,
          base_version: int | None = None) -> int:
    """Commit df as a new snapshot; returns the new version number.

    mode='append'    new snapshot = previous file set + this commit's files
    mode='overwrite' new snapshot = this commit's files only (previous
                     versions stay readable until vacuumed — that IS the
                     snapshot-isolation contract)
    props            arbitrary JSON recorded on the snapshot entry
                     (Iceberg's snapshot summary) — e.g. the lineage
                     bucket list the extract pipeline uses to reconcile
                     snapshot contents against its ledger.
    base_version     None: rebase onto whatever version is latest. An int:
                     the version `df` was derived from (0 = no table
                     yet); conflict-fail, like `compact`, if another
                     commit landed after it.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown mode {mode!r}")
    fs = _Fs(spark, path)
    data_dir = f"data/{uuid.uuid4().hex}"
    df.write.parquet(f"{path.rstrip('/')}/{data_dir}")

    def make_snap(v: int, snapshots: list[dict]) -> dict:
        if base_version is not None and v != base_version:
            raise IOError(f"concurrent commit (v{base_version}->v{v}) during "
                          f"{mode} of {path}; re-run the {mode}")
        prev = snapshots[-1]["files"] if (snapshots and mode == "append") \
            else []
        snap = {
            "id": v + 1,
            "ts_ms": int(time.time() * 1000),
            "operation": mode if v else "create",
            "files": prev + [data_dir],
        }
        if props:
            snap["props"] = props
        return snap

    return _commit(fs, path, df.schema.jsonValue(), make_snap)


def read(spark: SparkSession, path: str,
         version: int | None = None) -> DataFrame:
    """Snapshot read: latest by default, any retained version for time
    travel. The file set is resolved ONCE, driver-side, from that
    version's metadata — concurrent commits cannot shift the rows this
    DataFrame yields (data files are immutable)."""
    fs = _Fs(spark, path)
    v = version if version is not None else _version_of(fs, path)
    if v < 1:
        raise ValueError(f"no committed version at {path}")
    meta = _load_meta(fs, path, v)
    snap = meta["snapshots"][-1]
    if not snap["files"]:
        return spark.createDataFrame([], StructType.fromJson(meta["schema"]))
    base = path.rstrip("/")
    return spark.read.parquet(*[f"{base}/{d}" for d in snap["files"]])


def history(spark: SparkSession, path: str) -> list[dict]:
    """Snapshot log of the current version (id, ts_ms, operation, files)."""
    fs = _Fs(spark, path)
    v = _version_of(fs, path)
    return _load_meta(fs, path, v)["snapshots"] if v else []


def read_incremental(spark: SparkSession, path: str, from_version: int,
                     to_version: int | None = None) -> DataFrame:
    """CHANGE FEED: rows added strictly AFTER `from_version`, up to
    `to_version` (default: current) — Iceberg's incremental append scan.
    `from_version=0` yields the full table. Correct because data files
    are immutable and append commits only ADD directories: the delta is
    exactly (to's file set) minus (from's file set). An overwrite commit
    inside the range breaks the append-only premise — rejected rather
    than silently misread (Iceberg's incremental scan has the same
    restriction), and so is a merge or delete commit, which replaces
    rows in place. This is what lets a downstream job consume a snapshot
    table produced by repeated `extract_job --snapshot` runs without
    ever rescanning already-processed versions."""
    fs = _Fs(spark, path)
    to_v = to_version if to_version is not None else _version_of(fs, path)
    if to_v < 1 or from_version > to_v:
        raise ValueError(f"bad version range {from_version}..{to_v}")
    meta = _load_meta(fs, path, to_v)
    snaps = {s["id"]: s for s in meta["snapshots"]}
    # from_version=0 is the bootstrap read: the old file set is empty, so
    # the set difference equals the full current table and is correct
    # regardless of overwrite history — only ranges STARTING at a real
    # version need the append-only premise
    if from_version >= 1:
        for k in range(from_version + 1, to_v + 1):
            if k in snaps and snaps[k]["operation"] in (
                    "overwrite", "compact", "merge", "delete"):
                raise ValueError(
                    f"version {k} is a {snaps[k]['operation']} commit — "
                    f"incremental append scan undefined across it "
                    f"(read(version=...) for full-snapshot semantics)"
                )
    old: set[str] = set()
    if from_version >= 1:
        old = set(_load_meta(fs, path, from_version)["snapshots"][-1]["files"])
    new_files = [d for d in snaps[to_v]["files"] if d not in old]
    base = path.rstrip("/")
    if not new_files:
        return read(spark, path, version=to_v).limit(0)
    return spark.read.parquet(*[f"{base}/{d}" for d in new_files])


def compact(spark: SparkSession, path: str,
            target_partitions: int = 1) -> int:
    """Rewrite the CURRENT snapshot's rows into one fresh data directory
    with `target_partitions` files and commit it as a new version
    (operation 'compact') — the small-files remedy (Iceberg's
    rewrite_data_files): repeated small append commits otherwise leave
    one directory per commit and scan planning degrades. Rows are
    unchanged; older versions stay readable until vacuumed; incremental
    scans crossing a compact commit are rejected by read_incremental
    (file-set diffing cannot see that the rows are identical — the same
    caveat Iceberg's incremental read has for replace snapshots)."""
    fs = _Fs(spark, path)
    v0 = _version_of(fs, path)
    df = read(spark, path, version=v0).repartition(target_partitions)
    data_dir = f"data/{uuid.uuid4().hex}"
    df.write.parquet(f"{path.rstrip('/')}/{data_dir}")

    def make_snap(v: int, _snapshots: list[dict]) -> dict:
        if v != v0:
            # compact claims row preservation; a commit that landed since
            # our snapshot read would be silently dropped — conflict-fail
            # instead (Iceberg rewrite_data_files does the same)
            raise IOError(f"concurrent commit (v{v0}->v{v}) during "
                          f"compact of {path}; re-run compact")
        return {
            "id": v + 1,
            "ts_ms": int(time.time() * 1000),
            "operation": "compact",
            "files": [data_dir],
        }

    return _commit(fs, path, df.schema.jsonValue(), make_snap)


def _bucket_of(entry: str) -> int | None:
    """Bucket of a `data/<uuid>/bucket=N` leaf entry; None for a whole
    commit dir."""
    leaf = entry.rsplit("/", 1)[-1]
    return int(leaf[len("bucket="):]) if leaf.startswith("bucket=") else None


def read_buckets(spark: SparkSession, path: str,
                 buckets: list[int]) -> tuple[int, DataFrame | None]:
    """Read side of a copy-on-write commit: the current version and the
    rows of its leaf entries for `buckets` (None when no entry holds
    them, or no version exists). The rows carry no `bucket` column.
    Every entry must be a bucket leaf: a whole commit dir (written by
    `write` or `compact`) may hold rows of any bucket."""
    fs = _Fs(spark, path)
    v = _version_of(fs, path)
    files = _load_meta(fs, path, v)["snapshots"][-1]["files"] if v else []
    if any(_bucket_of(f) is None for f in files):
        raise ValueError(f"{path} holds entries not split by bucket; "
                         f"merge/delete need a table they wrote")
    base = path.rstrip("/")
    hit = [f"{base}/{f}" for f in files if _bucket_of(f) in buckets]
    return v, (spark.read.parquet(*hit) if hit else None)


def commit_buckets(spark: SparkSession, path: str, base_version: int,
                   buckets: list[int], df: DataFrame, operation: str) -> int:
    """Copy-on-write commit of `buckets` (Iceberg's MERGE/DELETE): write
    `df` — the buckets' new rows, with a `bucket` column — once,
    partitionBy bucket, into a fresh data dir, and commit a version whose
    file list is `base_version`'s with the entries of `buckets` swapped
    for the new leaf dirs. A bucket left with no rows drops out of the
    list; every other entry is kept as it was. Conflict-fails, like
    `compact`, if another commit landed after `base_version`."""
    fs = _Fs(spark, path)
    base = path.rstrip("/")
    data_dir = f"data/{uuid.uuid4().hex}"
    (
        df.repartition(len(buckets), "bucket")
        .write.partitionBy("bucket").parquet(f"{base}/{data_dir}")
    )
    leaves = sorted((f"{data_dir}/{n}" for n in fs.listdir(f"{base}/{data_dir}")
                     if n.startswith("bucket=")), key=_bucket_of)
    stray = {_bucket_of(f) for f in leaves} - set(buckets)
    if stray:
        # a non-deterministic input yielded rows in buckets it was not
        # read for: committing would shadow those buckets' live rows
        raise ValueError(f"rows written to unread buckets {sorted(stray)} "
                         f"of {path}")

    def make_snap(v: int, snapshots: list[dict]) -> dict:
        if v != base_version:
            raise IOError(f"concurrent commit (v{base_version}->v{v}) during "
                          f"{operation} of {path}; re-run the {operation}")
        files = snapshots[-1]["files"] if snapshots else []
        return {
            "id": v + 1,
            "ts_ms": int(time.time() * 1000),
            "operation": operation,
            "files": [f for f in files if _bucket_of(f) not in buckets]
            + leaves,
        }

    return _commit(fs, path, df.drop("bucket").schema.jsonValue(), make_snap)


def _dirs(files: list[str]) -> set[str]:
    """The `data/<uuid>` dirs of a file list: a `data/<uuid>/bucket=N`
    leaf entry keeps its whole dir alive."""
    return {"/".join(f.split("/")[:2]) for f in files}


def vacuum(spark: SparkSession, path: str, keep_versions: int = 2) -> dict:
    """Delete data directories referenced by NO retained metadata version
    (the last `keep_versions`), plus orphans from crashed commits, plus
    expired metadata files. Readers of retained versions are unaffected —
    their file sets stay intact. A dir that no snapshot in the history
    ever named is a crashed write or one still committing: it goes only
    once older than `_ORPHAN_MIN_AGE_S`."""
    fs = _Fs(spark, path)
    v = _version_of(fs, path)
    base = path.rstrip("/")
    keep = range(max(1, v - keep_versions + 1), v + 1)
    # the current metadata embeds the complete snapshot history, and
    # version k's file set is snapshot k's
    snaps = _load_meta(fs, path, v)["snapshots"] if v else []
    referenced = set().union(*(_dirs(s["files"]) for s in snaps
                               if s["id"] in keep))
    named = set().union(*(_dirs(s["files"]) for s in snaps))
    removed_data = []
    for d in fs.listdir(f"{base}/data"):
        entry = f"data/{d}"
        if entry not in referenced and (
                entry in named
                or fs.age_s(f"{base}/{entry}") > _ORPHAN_MIN_AGE_S):
            fs.delete(f"{base}/{entry}")
            removed_data.append(entry)
    removed_meta = []
    for name in fs.listdir(_meta_dir(path)):
        if name.startswith("v") and name.endswith(".metadata.json"):
            k = int(name[1:13])
            if k not in keep:
                fs.delete(f"{_meta_dir(path)}/{name}")
                removed_meta.append(name)
        elif ".metadata.json.claim-" in name:
            # claim corpse from a crashed committer. Only claims for
            # versions <= current are certainly dead (an IN-FLIGHT claim
            # targets v+1 > current); leave newer ones alone.
            k = int(name[1:13])
            if k <= v:
                fs.delete(f"{_meta_dir(path)}/{name}")
                removed_meta.append(name)
    return {"removed_data_dirs": sorted(removed_data),
            "removed_meta": sorted(removed_meta),
            "retained_versions": list(keep)}
