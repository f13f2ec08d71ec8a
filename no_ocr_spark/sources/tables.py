"""Loaders for the driver-provided parquet tables (TESTDATA.md) and the
synthesized `pages` table.

Catalog note (SURVEY.md §7 M3): the Iceberg runtime jar is not in this
environment, so tables are plain Parquet with identical schemas; the write
path goes through `write_table` below so swapping in
`df.writeTo("catalog.db.t")` (Iceberg) is a one-line change. Semantics
first, format second.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count from parquet FOOTERS, driver-side — the table stat
    that sizes adaptive operators (e.g. the simhash band-width rule)
    without firing a Spark job at query-compose time (the in-DAG rule
    from extraction_queries' heavy-host detection, applied to a scalar
    the plan's SHAPE depends on: band width changes the expression tree,
    so it must be known before compose; footers are metadata, reading
    them is milliseconds at any corpus size)."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return pq.read_metadata(path).num_rows
    return sum(
        pq.read_metadata(os.path.join(root, f)).num_rows
        for root, _dirs, files in os.walk(path)
        for f in files if f.endswith(".parquet")
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}


def write_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Single write chokepoint — Parquet today, Iceberg when the runtime jar
    is on the classpath (`df.writeTo(...).createOrReplace()`)."""
    df.write.mode(mode).parquet(path)
