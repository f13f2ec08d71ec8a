"""Keyed MERGE/upsert + targeted DELETE over bucketed parquet (SURVEY.md
§2.9 W5/W6), with a crash-safe journaled commit protocol.

Reference analogue: the case-status upsert — write-or-replace of a case's
JSON sidecar (`no-ocr-api/np_ocr/api.py:86-99, 241-252`). The engine-grade
generalization is MERGE INTO; without the Iceberg runtime jar (absent from
this environment — the swap point is sources/tables.py) the idiomatic
pre-Iceberg realization is PARTITION-LEVEL COPY-ON-WRITE:

  * the table is partitioned by a stable key-hash bucket
    (pmod(xxhash64(key), n_buckets) — same scheme as the lineage ledger);
  * an upsert computes the DISTINCT buckets its update keys touch (an
    aggregation over the updates only — never a scan of the table);
  * only those partition directories are read, merged (updates win on key
    collision), and atomically replaced via dynamic partition overwrite;
  * untouched buckets' files are never opened, let alone rewritten.

Crash safety: dynamic overwrite is atomic PER BUCKET but a multi-bucket
merge is several such replacements — a crash mid-write leaves some buckets
merged and others not (and a delete could crash between the overwrite and
dropping emptied bucket directories, resurrecting deleted rows). So every
operation is JOURNALED, mirroring run_with_lineage's ledger discipline
(plans/lineage.py):

  1. the deduped updates / delete keys are staged as parquet under
     `<table>/_journal/<op_id>/data`;
  2. a MANIFEST file is renamed into place — the commit point (rename is
     atomic on HDFS/posix; on S3 use an Iceberg/metastore commit instead);
  3. the bucket overwrites (and, for deletes, emptied-directory drops) run;
  4. the journal entry is deleted — completion.

Both entry points first REPLAY any journal entry left by a crash; replay is
idempotent because upsert/delete against a partially-committed table with
the same journaled inputs converges to the same final state (anti-join +
union per bucket is deterministic given (table_bucket, inputs)). All file
ops go through the Hadoop FileSystem API — the same code path works on
hdfs:// and local paths; nothing silently no-ops off the local disk.
Spark's file index skips `_`-prefixed directories, so the journal is
invisible to readers of the table.

At 10^12 rows with u updates per batch, cost is O(u + u/n_buckets *
table_rows/n_buckets * touched_buckets) ~ proportional to the touched
fraction — the same asymptotic as Iceberg's copy-on-write MERGE, minus its
row-group-level granularity. Swapping to Iceberg turns merge_upsert's body
into a single MERGE INTO statement (and the journal into Iceberg's own
snapshot commit); every caller keeps its signature.
"""

from __future__ import annotations

import itertools
import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.plans.partitioning import with_bucket


# ------------------------------------------------------ Hadoop FS helpers
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

    def write_atomic(self, path: str, text: str) -> None:
        """Write via temp + rename — the journal's commit point."""
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
        import os as _os
        import uuid as _uuid

        uri = self._Path(path).toUri()
        if uri.getScheme() in (None, "file"):
            local = uri.getPath()
            _os.makedirs(_os.path.dirname(local), exist_ok=True)
            tmp = f"{local}.claim-{_uuid.uuid4().hex}"
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(text)
            try:
                _os.link(tmp, local)
                return True
            except FileExistsError:
                return False
            finally:
                _os.unlink(tmp)
        # non-local: write a UNIQUE temp fully, then rename — HDFS rename
        # is atomic and FAILS if the destination exists, so the claim can
        # never be observed half-written (review finding: create-then-
        # write let a racing loser read a truncated claim, treat it as a
        # dead corpse, delete it, and retake the version)
        tmp = self._Path(f"{path}.claim-{_uuid.uuid4().hex}")
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
            # transient FS failure mid-claim: drop the temp (review
            # finding: it leaked into _meta/ forever) and report the
            # claim lost — the caller's retry loop handles it
            try:
                self._fs.delete(tmp, False)
            except Exception:
                pass
            return False

    def read_text(self, path: str) -> str:
        inp = self._fs.open(self._Path(path))
        try:
            # py4j does not write back into Python bytearrays, so use the
            # JVM-side reader (commons-io ships with Spark)
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                inp, "UTF-8"
            )
        finally:
            inp.close()


def _journal_root(table_path: str) -> str:
    return table_path.rstrip("/") + "/_journal"


def _pending_ops(fs: _Fs, table_path: str) -> list[str]:
    """Journal entries whose MANIFEST committed (crash after step 2)."""
    root = _journal_root(table_path)
    out = []
    for name in sorted(fs.listdir(root)):
        entry = f"{root}/{name}"
        if fs.exists(f"{entry}/MANIFEST.json"):
            out.append(entry)
        else:
            fs.delete(entry)  # staged but never committed: discard
    return out


def _recover(spark: SparkSession, table_path: str) -> list[dict]:
    """Replay every committed-but-unfinished journal entry. Called on
    entry to merge_upsert/delete_keys; also callable directly (e.g. at
    job start). Returns the manifests replayed."""
    fs = _Fs(spark, table_path)
    replayed = []
    for entry in _pending_ops(fs, table_path):
        man = json.loads(fs.read_text(f"{entry}/MANIFEST.json"))
        data = spark.read.parquet(f"{entry}/data")
        if man["op"] == "upsert":
            _apply_upsert(spark, table_path, data, man)
        else:
            _apply_delete(spark, table_path, data, man)
        fs.delete(entry)
        replayed.append(man)
    return replayed


# ----------------------------------------------------------- apply steps
def _apply_upsert(spark: SparkSession, table_path: str, upd: DataFrame,
                  man: dict) -> None:
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    key, touched = man["key"], man["touched_buckets"]
    fs = _Fs(spark, table_path)
    has_data = any(b.startswith("bucket=") for b in fs.listdir(table_path))
    if not has_data:
        upd.write.mode("overwrite").partitionBy("bucket").parquet(table_path)
        return
    existing = (
        spark.read.parquet(table_path)
        # bucket is a partition column => directory pruning; untouched
        # buckets are never opened
        .filter(F.col("bucket").isin(touched))
    )
    survivors = existing.join(upd.select(key), key, "left_anti")
    merged = survivors.unionByName(upd)
    # one file per touched bucket; dynamic overwrite replaces exactly the
    # touched directories, atomically per partition
    (
        merged.repartition(len(touched), "bucket")
        .write.mode("overwrite").partitionBy("bucket").parquet(table_path)
    )


def _apply_delete(spark: SparkSession, table_path: str, keys: DataFrame,
                  man: dict) -> dict:
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    key, touched = man["key"], man["touched_buckets"]
    fs = _Fs(spark, table_path)
    # a prior delete may have emptied EVERY bucket (all bucket dirs
    # dropped, only _journal left) — spark.read.parquet on that dir would
    # die on schema inference; guard exactly as _apply_upsert does, and
    # keep the guard here (not only in delete_keys) so a journaled REPLAY
    # hitting the same state recovers instead of crashing
    has_data = any(b.startswith("bucket=") for b in fs.listdir(table_path))
    if not has_data:
        return {"n_before": 0, "n_after": 0}
    existing = spark.read.parquet(table_path).filter(
        F.col("bucket").isin(touched)
    )
    n_before = existing.count()
    survivors = existing.join(keys.select(key), key, "left_anti")
    n_after = survivors.count()
    surv_buckets = {
        r.bucket for r in survivors.select("bucket").distinct().collect()
    }
    (
        survivors.repartition(len(touched), "bucket")
        .write.mode("overwrite").partitionBy("bucket").parquet(table_path)
    )
    # dynamic overwrite only replaces partitions PRESENT in the write: a
    # bucket whose every row was deleted writes nothing and its old
    # directory would survive — drop emptied buckets through the FS API
    # (raises on failure; the journal entry outlives a crash here, and
    # replay recomputes the emptied set and drops again — idempotent)
    for b in set(touched) - surv_buckets:
        fs.delete(f"{table_path.rstrip('/')}/bucket={b}")
    return {"n_before": n_before, "n_after": n_after}


# ---------------------------------------------------------- public API
_STAGE_SEQ = itertools.count()


def _stage(spark: SparkSession, table_path: str, data: DataFrame,
           op: str, key: str, touched: list[int]) -> str:
    fs = _Fs(spark, table_path)
    # Entry names must (a) be UNIQUE — ms-timestamp alone is not: two ops
    # staged within the same millisecond would share a directory and the
    # second _stage would clobber the first's data+manifest — and (b)
    # sort lexicographically in STAGING ORDER, because _pending_ops
    # replays sorted-by-name: an op-first name ('delete-…' < 'upsert-…')
    # would replay a pending delete before the upsert it followed,
    # resurrecting rows. Hence zero-padded ms, then a process-monotonic
    # counter (breaks same-ms ties in true order within one writer), then
    # a uuid (uniqueness across concurrent writers; cross-process
    # same-ms order is arbitrary — multi-writer coordination is the
    # Iceberg/metastore commit's job, same caveat as the rest of this
    # module), with the op name LAST for humans.
    entry = (f"{_journal_root(table_path)}/{int(time.time() * 1000):016d}"
             f"-{next(_STAGE_SEQ):06d}-{uuid.uuid4().hex[:8]}-{op}")
    data.write.mode("overwrite").parquet(f"{entry}/data")
    fs.write_atomic(f"{entry}/MANIFEST.json", json.dumps({
        "op": op, "key": key, "touched_buckets": touched,
    }))
    return entry


def merge_upsert(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    key: str,
    n_buckets: int = 32,
) -> dict:
    """MERGE updates INTO table_path ON key (updates win; last write per key
    within `updates` is resolved by a deterministic max-struct rule).

    Returns {"touched_buckets": [...], "n_updates": int, "replayed": int}.
    """
    replayed = _recover(spark, table_path)
    # dedupe updates on key deterministically (greatest full row wins) so a
    # batch containing the same key twice cannot produce two output rows
    data_cols = [c for c in updates.columns if c != key]
    upd = (
        updates.groupBy(key)
        .agg(F.max(F.struct(*data_cols)).alias("_r"))
        .select(key, *[F.col(f"_r.{c}").alias(c) for c in data_cols])
    )
    upd = with_bucket(upd, n_buckets, url_col=key)
    touched = sorted(
        r.bucket for r in upd.select("bucket").distinct().collect()
    )
    if not touched:  # empty update batch: nothing to journal or write
        return {"touched_buckets": [], "n_updates": 0,
                "replayed": len(replayed)}
    man = {"op": "upsert", "key": key, "touched_buckets": touched}
    entry = _stage(spark, table_path, upd, "upsert", key, touched)
    staged = spark.read.parquet(f"{entry}/data")  # re-read: stable input
    _apply_upsert(spark, table_path, staged, man)
    n_updates = staged.count()
    _Fs(spark, table_path).delete(entry)
    return {"touched_buckets": touched, "n_updates": n_updates,
            "replayed": len(replayed)}


def delete_keys(
    spark: SparkSession,
    table_path: str,
    keys: DataFrame,
    key: str,
    n_buckets: int = 32,
) -> dict:
    """Targeted row deletion (the GDPR/right-to-erasure shape): DELETE FROM
    table WHERE key IN (keys). Same partition-level copy-on-write as
    merge_upsert — only the buckets containing requested keys are read,
    anti-joined, and atomically replaced; every other file is untouched.
    Journaled like merge_upsert: a crash between the bucket overwrite and
    the emptied-directory drop replays on the next call, so deleted rows
    cannot resurrect. Iceberg swap point: DELETE FROM ... WHERE key IN."""
    replayed = _recover(spark, table_path)
    fs = _Fs(spark, table_path)
    k = with_bucket(keys.select(key).distinct(), n_buckets, url_col=key)
    touched = sorted(r.bucket for r in k.select("bucket").distinct().collect())
    if not touched or not fs.exists(table_path):
        return {"touched_buckets": [], "n_deleted": 0,
                "replayed": len(replayed)}
    man = {"op": "delete", "key": key, "touched_buckets": touched}
    entry = _stage(spark, table_path, k, "delete", key, touched)
    staged = spark.read.parquet(f"{entry}/data")
    counts = _apply_delete(spark, table_path, staged, man)
    fs.delete(entry)
    return {"touched_buckets": touched,
            "n_deleted": counts["n_before"] - counts["n_after"],
            "replayed": len(replayed)}


def read_merged(spark: SparkSession, table_path: str) -> DataFrame:
    return spark.read.parquet(table_path).drop("bucket")
