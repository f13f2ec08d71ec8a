"""Relational operator parity with the reference (SURVEY.md §2.3-2.9):
point lookups (P3), joins (J1-J2 + resume anti-join), aggregation, top-k,
the fallback lookup (U2), windows, sessionize.

Each query returns a DataFrame and has a DuckDB oracle string in ORACLES.
FP discipline: money sums go through exact DECIMAL accumulation and are cast
to DOUBLE at the end — bit-identical across engines and row orders. Counts
stay integer.

Scale notes are inline per query (what shuffles, what broadcasts, what the
plan must look like at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from no_ocr_spark.sources.tables import load_table

# exact money arithmetic: DECIMAL accumulate -> DOUBLE at the edge
_DEC = "decimal(18,4)"


def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-class aggregation (TPC-H Q1 shape; reference analogue A1/A2).

    Scale: partial (map-side) + final hash agg on 2 low-cardinality keys —
    the shuffle moves only |groups| x |aggs| rows. Safe at any SF.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = (
        F.col("l_extendedprice").cast(_DEC)
        * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
    )
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_topk_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1-analogue top-k: revenue per order -> global top 10 -> lookup join
    back to orders + customer (J1 shape: tiny top-k side broadcasts).

    Scale: groupBy(l_orderkey) shuffles on a high-cardinality key (AQE
    coalesces); top-k is TakeOrderedAndProject (no global sort); the k-row
    result broadcasts into the joins.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(_DEC)
                * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
            ).cast("double").alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )
    return (
        F.broadcast(rev)
        .join(orders, rev.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("l_orderkey", "revenue", "o_orderdate", "c_name")
    )


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/J2: equality point lookup — predicate pushed to the parquet scan
    (min/max + dictionary pruning); at 100 TB this reads ~one row group."""
    return (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") == 100)
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
    )


def q_broadcast_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: fact->dim lookup join; dim (customer) broadcasts, fact never
    shuffles. Aggregation after join is partial+final."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
        )
    )


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking (SURVEY §2.6: per-PDF page renumbering analogue).
    First 2 events per user. Scale: single shuffle on user_id; rank
    early-stops per partition (WindowGroupLimit pushes k)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("user_id", "event_id", "event_type", "rn")
    )


def q_anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resume anti-join (SURVEY §2.4): keys with no completed work.
    Customers with no event activity. Broadcast-able at dim scale; at fact
    scale AQE picks shuffled hash anti-join."""
    cust = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    return (
        cust.join(events, cust.c_custkey == events.user_id, "left_anti")
        .select("c_custkey", "c_name")
    )


def q_coalesce_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: fallback lookup (reference get_case user-dir -> common_cases,
    api.py:363-368) = left join + coalesce to a default partition."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey, "left")
        .select(
            "event_id",
            F.coalesce(F.col("c_mktsegment"), F.lit("COMMON")).alias("segment"),
        )
        .groupBy("segment")
        .agg(F.count("*").alias("n_events"))
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: new session when gap > 1800s. lag + cumsum windows —
    one shuffle on user_id, both windows share it."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
    new_s = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn("new_s", new_s).withColumn(
        "session_id", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"), F.count("*").alias("n_events")
    )


QUERIES = {
    "agg_pricing_summary": q_agg_pricing_summary,
    "topk_order_revenue": q_topk_order_revenue,
    "point_lookup": q_point_lookup,
    "broadcast_lookup_join": q_broadcast_lookup_join,
    "window_rank": q_window_rank,
    "anti_join_resume": q_anti_join_resume,
    "coalesce_fallback": q_coalesce_fallback,
    "sessionize": q_sessionize,
}

ORACLES = {
    "agg_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "topk_order_revenue": """
        WITH rev AS (
            SELECT l_orderkey,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
            FROM lineitem GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
        )
        SELECT r.l_orderkey, r.revenue, o.o_orderdate, c.c_name
        FROM rev r JOIN orders o ON r.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    "point_lookup": """
        SELECT p_partkey, p_name, p_brand, p_retailprice
        FROM part WHERE p_partkey = 100
    """,
    "broadcast_lookup_join": """
        SELECT c.c_mktsegment, count(*) AS n_events,
               CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment
    """,
    "window_rank": """
        SELECT user_id, event_id, event_type, rn FROM (
            SELECT user_id, event_id, event_type,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events) WHERE rn <= 2
    """,
    "anti_join_resume": """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
    """,
    "coalesce_fallback": """
        SELECT coalesce(c.c_mktsegment, 'COMMON') AS segment, count(*) AS n_events
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1
    """,
    "sessionize": """
        WITH g AS (
            SELECT user_id, ts, event_id,
                   epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
            FROM events),
        s AS (
            SELECT user_id,
                   sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM g)
        SELECT user_id, max(session_id)::BIGINT AS n_sessions, count(*) AS n_events
        FROM s GROUP BY user_id
    """,
}
