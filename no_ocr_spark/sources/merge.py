"""Keyed MERGE/upsert + targeted DELETE (SURVEY.md §2.9 W5/W6) as
copy-on-write commits of a snapshot table (sources/snaptable.py).

Reference analogue: the case-status upsert — write-or-replace of a case's
JSON sidecar (`no-ocr-api/np_ocr/api.py:86-99, 241-252`). The engine-grade
generalization is MERGE INTO; without the Iceberg runtime jar (absent from
this environment) it is realized the way Iceberg's copy-on-write MERGE is,
at bucket granularity:

  * rows are bucketed by a stable key hash (pmod(xxhash64(key),
    n_buckets) — `with_bucket`, the lineage ledger's scheme), and each
    snapshot entry is one bucket's leaf dir `data/<uuid>/bucket=N`;
  * an operation computes the DISTINCT buckets its keys touch (an
    aggregation over the updates/keys only — never a scan of the table);
  * only those buckets' entries of the current version are read and
    merged (updates win on key collision) or anti-joined;
  * the new rows are written once and committed as a new version that
    swaps the touched buckets' entries (`snaptable.commit_buckets`);
    untouched buckets' files are never opened, let alone rewritten.

Crash safety is the snapshot table's: the one fenced metadata commit
makes a multi-bucket operation visible all at once or not at all. A crash
before it leaves the previous version intact plus an orphan data dir
that `snaptable.vacuum` removes; a commit that lands between the read and
the commit makes the operation conflict-fail rather than drop it. Older
versions stay readable (time travel) until vacuumed.

At 10^12 rows with u updates per batch, cost is O(u + touched_buckets *
table_rows/n_buckets) ~ proportional to the touched fraction — the same
asymptotic as Iceberg's copy-on-write MERGE, minus its row-group-level
granularity. Swapping to Iceberg turns merge_upsert's body into a single
MERGE INTO statement (and delete_keys' into DELETE FROM); every caller
keeps its signature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.plans.partitioning import with_bucket
from no_ocr_spark.sources import snaptable as st


def merge_upsert(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    key: str,
    n_buckets: int = 32,
) -> dict:
    """MERGE updates INTO table_path ON key (updates win; last write per key
    within `updates` is resolved by a deterministic max-struct rule).
    `updates` is evaluated twice (bucket probe, then write), so it must be
    deterministic.

    Returns {"touched_buckets": [...], "n_updates": int}.
    """
    # dedupe updates on key deterministically (greatest full row wins) so a
    # batch containing the same key twice cannot produce two output rows
    data_cols = [c for c in updates.columns if c != key]
    upd = (
        updates.groupBy(key)
        .agg(F.max(F.struct(*data_cols)).alias("_r"))
        .select(key, *[F.col(f"_r.{c}").alias(c) for c in data_cols])
    )
    upd = with_bucket(upd, n_buckets, url_col=key)
    per_bucket = {r.bucket: r["count"]
                  for r in upd.groupBy("bucket").count().collect()}
    touched = sorted(per_bucket)
    if not touched:  # empty update batch: nothing to write or commit
        return {"touched_buckets": [], "n_updates": 0}
    v, existing = st.read_buckets(spark, table_path, touched)
    if existing is not None:
        survivors = with_bucket(existing, n_buckets, url_col=key).join(
            upd.select(key), key, "left_anti")
        upd = survivors.unionByName(upd)
    st.commit_buckets(spark, table_path, v, touched, upd, "merge")
    return {"touched_buckets": touched,
            "n_updates": sum(per_bucket.values())}


def delete_keys(
    spark: SparkSession,
    table_path: str,
    keys: DataFrame,
    key: str,
    n_buckets: int = 32,
) -> dict:
    """Targeted row deletion (the GDPR/right-to-erasure shape): DELETE FROM
    table WHERE key IN (keys). Same bucket-level copy-on-write commit as
    merge_upsert — only the buckets containing requested keys are read,
    anti-joined and replaced; a bucket left empty drops out of the table;
    every other file is untouched. Iceberg swap point: DELETE FROM ...
    WHERE key IN."""
    k = with_bucket(keys.select(key).distinct(), n_buckets, url_col=key)
    touched = sorted(r.bucket for r in k.select("bucket").distinct().collect())
    v, existing = st.read_buckets(spark, table_path, touched)
    n_deleted = 0 if existing is None else (
        existing.join(k.select(key), key, "left_semi").count())
    if not n_deleted:  # no table yet, or no key present: commit nothing
        return {"touched_buckets": [], "n_deleted": 0}
    survivors = with_bucket(existing, n_buckets, url_col=key).join(
        k.select(key), key, "left_anti")
    st.commit_buckets(spark, table_path, v, touched, survivors, "delete")
    return {"touched_buckets": touched, "n_deleted": n_deleted}


def read_merged(spark: SparkSession, table_path: str) -> DataFrame:
    return st.read(spark, table_path)
