"""Per-partition lineage + checkpoint-resume (SURVEY.md §2.9 W5, §4 item 2).

Reference analogue: the CaseInfo status machine — `processing` -> `done`
JSON sidecar (`no-ocr-api/np_ocr/api.py:86-99, 241-252`) — generalized to a
per-bucket ledger so a 10^12-document job that dies mid-run re-processes
ONLY the missing buckets.

Design:
  * Work unit = stable url-hash bucket (plans/partitioning.with_bucket).
  * Outputs are written `partitionBy("bucket")` with dynamic partition
    overwrite, so re-running a bucket atomically replaces exactly its
    directory — idempotent resume.
  * Lineage row per bucket: (bucket, n_docs, n_bytes, checksum, status,
    wall_ms). Checksum = order-independent bit_xor of xxhash64(url, text):
    identical data => identical checksum regardless of row order or
    parallelism — this is how two runs at different cluster sizes are
    proven byte-identical.
  * Resume = all buckets minus the ledger's done set (one column-pruned
    read); only pending buckets are scanned (bucket predicate pushdown).
  * Write tasks follow data volume, not bucket count: the extraction
    result is a `rebalance` on bucket (AQE coalesces small partitions and
    splits big ones, so a bucket dir may hold several files); the ledger
    is one task, one file per run.
  * One shuffle feeds all three sinks: the rebalanced result is persisted
    once, the `extracted` and `spans` writes read it concurrently from two
    driver threads, and the ledger rollup reads it after both; nothing the
    run wrote is read back. The ledger is appended last, so a crash before
    it leaves the run's buckets pending.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.operators.extract_udf import extract, spans_table
from no_ocr_spark.plans.partitioning import with_bucket
from no_ocr_spark.sources import snaptable

LINEAGE_SCHEMA = (
    "bucket int, n_docs bigint, n_bytes bigint, checksum string, "
    "status string, wall_ms bigint"
)

JOB_DESCRIPTION = "spark.job.description"
# Off by default: a cached plan then loses AQE's final-stage coalesce and
# skew split, and the rebalance becomes spark.sql.shuffle.partitions
# fixed partitions. Read when the cache entry is created.
CACHED_PLAN_REPARTITION = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def lineage_rollup(extracted: DataFrame) -> DataFrame:
    """Per-bucket lineage aggregate (SURVEY.md §2.5 A4): partial+final hash
    agg, order-independent checksum. `n_bytes` is the UTF-8 size of the
    extracted text (`n_chars` counts code points)."""
    return extracted.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length("text")).alias("n_bytes"),
        F.lower(F.hex(F.bit_xor(F.xxhash64("url", "text")))).alias("checksum"),
        F.lit("done").alias("status"),
    )


def _done_buckets(spark: SparkSession, lineage_path: str) -> set[int]:
    """Buckets marked done in the lineage ledger (empty if none exists).
    Existence is asked of the path's Hadoop FileSystem, so a file://,
    hdfs:// or s3a:// out_dir resumes like a plain local path."""
    if not snaptable._Fs(spark, lineage_path).exists(lineage_path):
        return set()
    return {
        r.bucket for r in spark.read.parquet(lineage_path)
        .filter(F.col("status") == "done").select("bucket").collect()
    }


def pending_buckets(spark: SparkSession, n_buckets: int, lineage_path: str) -> list[int]:
    """All buckets minus those marked done in the lineage table."""
    done = _done_buckets(spark, lineage_path)
    return [b for b in range(n_buckets) if b not in done]


def _described(spark: SparkSession, description: str, action: Callable[[], None]) -> None:
    """Run `action` with its Spark jobs described as `description`, then
    restore the calling thread's description."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty(JOB_DESCRIPTION)
    sc.setJobDescription(description)
    try:
        action()
    finally:
        sc.setLocalProperty(JOB_DESCRIPTION, prev)


def _run_concurrently(spark: SparkSession,
                      actions: list[tuple[str, Callable[[], None]]]) -> None:
    """Run each (description, action) in its own driver thread, join them
    all, then re-raise the first action's error. InheritableThread carries
    the caller's local properties (job group, scheduler pool) over."""
    errors: list[Exception | None] = [None] * len(actions)

    def run(i: int, description: str, action: Callable[[], None]) -> None:
        try:
            _described(spark, description, action)
        except Exception as e:  # handed to the caller below
            errors[i] = e

    threads = [InheritableThread(target=run, args=(i, d, a))
               for i, (d, a) in enumerate(actions)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e


def run_with_lineage(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
) -> dict:
    """The extraction job with checkpoint-resume.

    Returns {"processed_buckets": [...], "wall_ms": int}. Re-invoking after
    a partial failure processes only buckets absent from the lineage table.
    """
    t0 = time.time()
    # Resume SAFETY depends on dynamic partition overwrite: with the default
    # ("static"), mode('overwrite').partitionBy('bucket') on a partial bucket
    # list would wipe the already-done buckets' directories. Set it here so
    # correctness never hinges on which session factory built `spark`.
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    lineage_path = os.path.join(out_dir, "lineage")
    todo = pending_buckets(spark, n_buckets, lineage_path)
    if not todo:
        return {"processed_buckets": [], "wall_ms": 0}

    bucketed = with_bucket(pages, n_buckets)
    if len(todo) < n_buckets:
        bucketed = bucketed.filter(F.col("bucket").isin(todo))

    # Extraction runs directly on the scan splits (max parallelism, zero
    # shuffle of raw html); the url-hash bucket shuffle (SURVEY §4 item 1)
    # moves only the ~10x smaller extracted rows. That shuffle's output is
    # persisted and feeds every sink: `extracted` (the nested spans column
    # included, schema superset of FIXTURES.md A2), the `spans` table and
    # the ledger. It holds only the pending buckets, so a resume needs no
    # filter, and nothing written here is read back.
    prev = spark.conf.get(CACHED_PLAN_REPARTITION, None)
    spark.conf.set(CACHED_PLAN_REPARTITION, "true")
    try:
        staged = (
            with_bucket(extract(bucketed), n_buckets)  # bucket recomputed from url
            .hint("rebalance", "bucket")
            .persist()
        )
    finally:
        if prev is None:
            spark.conf.unset(CACHED_PLAN_REPARTITION)
        else:
            spark.conf.set(CACHED_PLAN_REPARTITION, prev)
    try:
        # Whichever writer reaches the cache first runs the extraction,
        # under its own job description; the cache's block locks keep the
        # other from computing any partition twice.
        _run_concurrently(spark, [
            ("lineage: extract + write extracted", lambda: (
                staged.write.mode("overwrite").partitionBy("bucket")
                .parquet(os.path.join(out_dir, "extracted")))),
            ("lineage: write spans", lambda: (
                with_bucket(spans_table(staged), n_buckets)
                .write.mode("overwrite").partitionBy("bucket")
                .parquet(os.path.join(out_dir, "spans")))),
        ])
        # the ledger is appended last: a crash before it leaves this run's
        # buckets pending, and the resume rewrites their directories
        wall_ms = int((time.time() - t0) * 1000)
        _described(spark, "lineage: append ledger", lambda: (
            lineage_rollup(staged.select("bucket", "url", "text"))
            .withColumn("wall_ms", F.lit(wall_ms))
            .coalesce(1)
            .write.mode("append")
            .parquet(lineage_path)))
    finally:
        staged.unpersist()
    return {"processed_buckets": todo, "wall_ms": wall_ms}


def snapshot_buckets(spark: SparkSession, snap_path: str) -> set[int]:
    """Buckets present in the CURRENT snapshot version, reconstructed from
    the per-commit `props['buckets']` summaries (metadata-only — no data
    scan). snapshot_extracted is the table's only writer, and every
    commit it makes carries the summary."""
    if snaptable.current_version(spark, snap_path) < 1:
        return set()
    have: set[int] = set()
    for s in snaptable.history(spark, snap_path):
        op = s.get("operation")
        if op == "compact":
            continue  # row-preserving: bucket set unchanged
        b = set(s["props"]["buckets"])
        have = b if op == "overwrite" else have | b
    return have


def snapshot_extracted(spark: SparkSession, out_dir: str, snap_path: str,
                       processed_buckets: list[int]) -> int | None:
    """Commit one snapshot-table version per JOB RUN containing the
    buckets that run actually processed (the north rule's "write
    extracted tables back to Iceberg" leg, on the from-scratch
    Iceberg-semantics format in sources/snaptable.py).

    * fresh run        -> version with all buckets
    * resumed run      -> append-commit of ONLY the recovered buckets
      (time travel then shows ingest progress run by run)
    * resume no-op run -> NO commit (returns the current version, or
      None for an empty table) — idempotent like the lineage ledger.

    The commit set is RECONCILED against the lineage ledger, not trusted
    from the caller: lineage is appended before this commit, so a crash
    in between leaves buckets done-in-ledger but absent-from-snapshot —
    the resumed run's run_with_lineage then reports no pending work, and
    without reconciliation those buckets would be permanently invisible
    to every read_incremental consumer. Diffing ledger-done against the
    snapshot's own per-commit bucket summaries (and committing the
    difference) makes the snapshot self-healing AND idempotent: buckets
    already committed are never re-appended. The bucket predicate prunes
    partition directories on the re-read, so the commit never rescans
    already-snapshotted buckets' data."""
    done = _done_buckets(spark, os.path.join(out_dir, "lineage"))
    have = snapshot_buckets(spark, snap_path)
    missing = sorted((set(processed_buckets) | done) - have)
    if not missing:
        return snaptable.current_version(spark, snap_path) or None
    df = spark.read.parquet(os.path.join(out_dir, "extracted")).filter(
        F.col("bucket").isin(missing)
    )
    return snaptable.write(spark, snap_path, df, mode="append",
                           props={"buckets": missing})
