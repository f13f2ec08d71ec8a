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
  * Write tasks follow data volume, not bucket count: the extracted write
    is a `rebalance` on bucket (AQE coalesces small partitions and splits
    big ones, so a bucket dir may hold several files); the ledger is one
    task, one file per run.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.operators.extract_udf import extract, spans_table
from no_ocr_spark.plans.partitioning import with_bucket

LINEAGE_SCHEMA = (
    "bucket int, n_docs bigint, n_bytes bigint, checksum string, "
    "status string, wall_ms bigint"
)


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
    """Buckets marked done in the lineage ledger (empty if none exists)."""
    if not os.path.exists(lineage_path):
        return set()
    return {
        r.bucket for r in spark.read.parquet(lineage_path)
        .filter(F.col("status") == "done").select("bucket").collect()
    }


def pending_buckets(spark: SparkSession, n_buckets: int, lineage_path: str) -> list[int]:
    """All buckets minus those marked done in the lineage table."""
    done = _done_buckets(spark, lineage_path)
    return [b for b in range(n_buckets) if b not in done]


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
    # moves only the ~10x smaller extracted rows. Write-once,
    # project-on-read: `extracted` carries the nested spans column (schema
    # superset of FIXTURES.md A2); the `spans` table and the ledger derive
    # from column-pruned re-reads, run serially (concurrent jobs over
    # nested-struct scans measured 3x slower at high core counts).
    result = extract(bucketed)  # bucket recomputed from url (pure fn)
    extracted_path = os.path.join(out_dir, "extracted")
    (
        with_bucket(result, n_buckets)
        .hint("rebalance", "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(extracted_path)
    )
    st = spark.read.parquet(extracted_path)
    if len(todo) < n_buckets:
        # resume: derive spans/lineage only for the buckets just written
        # (bucket is a partition column -> directory pruning, no data read
        # for the already-done buckets)
        st = st.filter(F.col("bucket").isin(todo))

    with_bucket(spans_table(st), n_buckets).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(os.path.join(out_dir, "spans"))

    # the ledger is appended last: a crash before it leaves this run's
    # buckets pending, and the resume rewrites their directories
    wall_ms = int((time.time() - t0) * 1000)
    (
        lineage_rollup(st.select("bucket", "url", "text"))
        .withColumn("wall_ms", F.lit(wall_ms))
        .coalesce(1)
        .write.mode("append")
        .parquet(lineage_path)
    )
    return {"processed_buckets": todo, "wall_ms": wall_ms}


def snapshot_buckets(spark: SparkSession, snap_path: str) -> set[int]:
    """Buckets present in the CURRENT snapshot version, reconstructed from
    the per-commit `props['buckets']` summaries snapshot_extracted writes
    (metadata-only — no data scan). A non-compact commit written without
    the summary (foreign writer) falls back to a column-pruned distinct
    scan of the bucket column."""
    from no_ocr_spark.sources import snaptable

    if snaptable.current_version(spark, snap_path) < 1:
        return set()
    have: set[int] = set()
    for s in snaptable.history(spark, snap_path):
        op = s.get("operation")
        b = (s.get("props") or {}).get("buckets")
        if op == "compact":
            continue  # row-preserving: bucket set unchanged
        if b is None:
            return {
                r.bucket for r in snaptable.read(spark, snap_path)
                .select("bucket").distinct().collect()
            }
        have = set(b) if op == "overwrite" else have | set(b)
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
    from no_ocr_spark.sources import snaptable

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
