"""Snapshot-table (Iceberg stand-in) as an oracle-checked query:
overwrite-commit a base set, append-commit an extension, then
read BOTH versions back (latest + time travel) and vacuum. The DuckDB
oracle pins the exact row sets each version must yield — a red row means a
broken commit, a leaking snapshot, or time travel returning the wrong file
set. Like merge_upsert_read, the query deliberately RUNS the writes at
compose time (it exercises a writer) against a per-session, per-sf dir;
the trailing vacuum(keep_versions=2) bounds on-disk growth across repeated
invocations AND exercises the GC path under the parity bar."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.session import scratch_dir
from no_ocr_spark.sources import snaptable as st
from no_ocr_spark.sources.tables import load_table


def q_snapshot_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    base = docs.filter(F.col("doc_id") % 4 == 0)
    extra = docs.filter(F.col("doc_id") % 4 == 1)
    path = scratch_dir(spark, "no_ocr_snap_gate",
                       os.path.basename(sf_dir.rstrip("/")), "t")
    v1 = st.write(spark, path, base, mode="overwrite")
    v2 = st.write(spark, path, extra, mode="append")
    st.vacuum(spark, path, keep_versions=2)
    old = st.read(spark, path, version=v1).withColumn(
        "at_version", F.lit(1).cast("long"))
    new = st.read(spark, path, version=v2).withColumn(
        "at_version", F.lit(2).cast("long"))
    return old.unionByName(new).select("doc_id", "lang", "at_version")


QUERIES = {"snapshot_table": q_snapshot_table}

ORACLES = {
    # version 1 = the overwrite-committed base; version 2 = base + append
    "snapshot_table": """
        SELECT doc_id, lang, 1::BIGINT AS at_version
        FROM documents WHERE doc_id % 4 = 0
        UNION ALL
        SELECT doc_id, lang, 2::BIGINT AS at_version
        FROM documents WHERE doc_id % 4 IN (0, 1)
    """,
}
