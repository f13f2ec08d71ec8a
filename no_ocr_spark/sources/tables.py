"""Loaders for the provided parquet tables (TESTDATA.md).

Catalog note (SURVEY.md §7 M3): the Iceberg runtime jar is not in this
environment, so these tables are read as plain Parquet with identical
schemas. The table semantics the engine writes with — atomic commits,
time travel, copy-on-write MERGE/DELETE — live in `sources/snaptable.py`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

