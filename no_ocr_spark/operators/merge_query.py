"""Gate-graded query over the copy-on-write merge writer (SURVEY.md §2.9
W5/W6) — VERDICT r3 §Next #8: `merge_upsert`/`delete_keys` were unit-proven
but invisible to the CORRECTNESS gate; this query routes a deterministic
upsert → upsert → targeted-delete → read sequence through the bucket-level
copy-on-write commits (`sources/merge.py` over `sources/snaptable.py`) and
exposes the final table state as a DataFrame the gate hashes against
plain-SQL merge semantics.

Reference analogue: the case-status sidecar write-or-replace
(`no-ocr-api/np_ocr/api.py:86-99, 241-252`) generalized to MERGE INTO.

Determinism: base rows are documents with even doc_id; updates rewrite
every doc_id % 3 == 0 row (lang -> 'xx', n_chars + 1000) — overlapping the
base on doc_id % 6 == 0 and inserting the odd multiples of 3; the delete
then removes doc_id % 10 == 0. Each of the three ops is one snapshot
commit (read touched buckets → write their new rows once → fenced
metadata commit), so the graded row-hash covers the full W5+W6 path, not
just the happy read.

Scale note (100 TB): the query itself is gate-sized by design, but the
path it exercises is the scale path — bucket-level copy-on-write where
only key-touched buckets are read/rewritten (never a table scan) and one
metadata commit swaps their entries.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.session import scratch_dir
from no_ocr_spark.sources.merge import delete_keys, merge_upsert, read_merged
from no_ocr_spark.sources.tables import load_table

_N_BUCKETS = 8


def q_merge_upsert_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    base = docs.filter(F.col("doc_id") % 2 == 0)
    upd = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(
            "doc_id",
            F.lit("xx").alias("lang"),
            (F.col("n_chars") + F.lit(1000)).alias("n_chars"),
        )
    )
    dels = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")

    # A fresh table per compose, so every compose runs the same three
    # commits. An earlier compose's table is left in place: the DataFrame
    # it returned reads its dir lazily. session.scratch_dir removes them
    # all when the process exits.
    path = scratch_dir(spark, "no_ocr_merge_gate",
                       os.path.basename(sf_dir.rstrip("/")),
                       uuid.uuid4().hex)
    merge_upsert(spark, path, base, key="doc_id", n_buckets=_N_BUCKETS)
    merge_upsert(spark, path, upd, key="doc_id", n_buckets=_N_BUCKETS)
    delete_keys(spark, path, dels, key="doc_id", n_buckets=_N_BUCKETS)
    return read_merged(spark, path).select("doc_id", "lang", "n_chars")


QUERIES = {"merge_upsert_read": q_merge_upsert_read}

ORACLES = {
    # plain-SQL MERGE semantics: updates win on key, then targeted delete
    "merge_upsert_read": """
        WITH base AS (
            SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0),
        upd AS (
            SELECT doc_id, 'xx' AS lang, n_chars + 1000 AS n_chars
            FROM documents WHERE doc_id % 3 = 0),
        merged AS (
            SELECT * FROM upd
            UNION ALL
            SELECT b.* FROM base b
            WHERE b.doc_id NOT IN (SELECT doc_id FROM upd))
        SELECT doc_id, lang, n_chars::BIGINT AS n_chars
        FROM merged WHERE doc_id % 10 <> 0
    """,
}
