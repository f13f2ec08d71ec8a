"""Second relational batch: multi-dimensional aggregation (cube),
percentiles, as-of join, and a grouped-map pandas operator — capabilities
beyond the reference's inventory that a training-data pipeline needs (and
that show the engine's breadth at the same oracle-exact bar).

Scale notes inline; FP discipline identical to relational.py (exact
DECIMAL/int math; no order-dependent double sums).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from no_ocr_spark.sources.tables import load_table

_DEC = "decimal(18,4)"


def q_cube_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (lang, source-group): all 4 grouping combinations in one
    pass (partial aggs reused across grouping sets — one shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.substring("source", 1, 4).alias("src4"),
        "n_chars",
    )
    return (
        d.cube("lang", "src4")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("src4", F.lit("ALL")).alias("src4"),
            "n",
            "chars",
        )
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one — SURVEY §2.4 notes none in the
    reference either): for each event, the latest order of that customer at
    or before the event time.

    Realization: union-tag + window (the scalable pattern): tag streams,
    union, window last(...ignorenulls) over (key, time) partitions — ONE
    shuffle on the key, no range-join explosion. The DuckDB oracle uses its
    native ASOF JOIN — two independent formulations agreeing exactly.
    """
    # dedupe the build side per (customer, date): keep min o_orderkey, so
    # exact-timestamp ties resolve identically in both formulations
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.min("o_orderkey").alias("o_orderkey"))
    )
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    left = events.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
        F.lit(1).alias("is_probe"),
    )
    right = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
        "o_orderdate",
        F.lit(0).alias("is_probe"),
    )
    # probe rows sort AFTER build rows at identical t (is_probe=1 > 0), so
    # "at or before" includes same-instant orders; o_orderkey desc ties.
    w = (
        Window.partitionBy("k")
        .orderBy(F.asc("t"), F.asc("is_probe"), F.desc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = left.unionByName(right).withColumn(
        "last_ord",
        F.last(
            F.when(F.col("is_probe") == 0,
                   F.struct("o_orderkey", "o_orderdate")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        tagged.filter(F.col("is_probe") == 1)
        .select(
            "event_id",
            F.col("last_ord.o_orderkey").alias("o_orderkey"),
            F.col("last_ord.o_orderdate").alias("o_orderdate"),
        )
        .filter(F.col("o_orderkey").isNotNull())
    )


_GSTATS_SCHEMA = (
    "user_id bigint, n bigint, sum_cents bigint, min_cents bigint, max_cents bigint"
)


def _gstats(pdf: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    # floor(v*100 + 0.5): half-AWAY-from-zero for positives, matching
    # DuckDB's round(); pandas Series.round is banker's half-even and
    # diverges on exact binary .5 values (e.g. 0.125)
    cents = np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).astype("int64")
    return pd.DataFrame(
        {
            "user_id": [pdf["user_id"].iloc[0]],
            "n": [len(pdf)],
            "sum_cents": [int(cents.sum())],
            "min_cents": [int(cents.min())],
            "max_cents": [int(cents.max())],
        }
    )


def q_grouped_stats_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas operator (SURVEY §2.12 surface): per-user stats
    via applyInPandas. Integer-cent arithmetic => exact oracle parity (the
    point is the Arrow grouped-map plumbing, not the math). Scale: one
    shuffle on the group key; each group is one Arrow batch."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    return ev.groupBy("user_id").applyInPandas(_gstats, schema=_GSTATS_SCHEMA)


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per key (Spark `percentile` == SQL-standard
    percentile_cont linear interpolation; verified bit-equal vs DuckDB
    under round(6)). Scale: exact percentiles need the full sorted group —
    one shuffle on the key; when groups outgrow executors, swap to
    approx_percentile (t-digest) and accept the documented error bound."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


QUERIES = {
    "percentiles": q_percentiles,
    "cube_stats": q_cube_stats,
    "asof_join": q_asof_join,
    "grouped_stats_pandas": q_grouped_stats_pandas,
}

ORACLES = {
    "percentiles": """
        SELECT event_type, count(*) AS n,
               round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6) AS p50,
               round(percentile_cont(0.9) WITHIN GROUP (ORDER BY value), 6) AS p90,
               round(percentile_cont(0.99) WITHIN GROUP (ORDER BY value), 6) AS p99
        FROM events GROUP BY event_type
    """,
    "cube_stats": """
        SELECT coalesce(lang, 'ALL') AS lang,
               coalesce(src4, 'ALL') AS src4,
               count(*) AS n, sum(n_chars)::BIGINT AS chars
        FROM (SELECT lang, substring(source, 1, 4) AS src4, n_chars
              FROM documents)
        GROUP BY CUBE (lang, src4)
    """,
    "asof_join": """
        WITH o AS (
            -- same tie resolution as the Spark side: min orderkey per (cust, date)
            SELECT o_custkey, o_orderdate, min(o_orderkey) AS o_orderkey
            FROM orders GROUP BY o_custkey, o_orderdate)
        SELECT e.event_id, o.o_orderkey, o.o_orderdate
        FROM events e
        ASOF JOIN o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    "grouped_stats_pandas": """
        -- floor(v*100 + 0.5): the exact formula the pandas UDF computes,
        -- so both engines share one tie-breaking rule
        SELECT user_id, count(*) AS n,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS sum_cents,
               min(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS min_cents,
               max(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS max_cents
        FROM events GROUP BY user_id
    """,
}
