"""Iterative graph operator: connected components by min-label
propagation — the exact variant of near-dup clustering (the cleanup job's
greedy drop rule collapses chains greedily; THIS computes the true
clusters).

Spark realization: the classic iterative DataFrame pattern —
label(v) <- min(label(v), min label of neighbors), repeated until a round
changes nothing. Each round is one shuffle join + one min-aggregation;
`materialize` cuts the lineage every round (without it, iteration i
replays rounds 1..i-1 — THE standard iterative-Spark trap), and the
round's convergence `count()` is the one job that fills that barrier.
Rounds needed = component diameter; near-dup clusters are shallow (a dup
cluster's diameter is small by construction). For adversarial long-chain
graphs at 10^12 edges the large-star/small-star variant (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public) halves
diameter per round; plain propagation is the right tool for dedup
clusters and keeps the plan two operators wide.

The DuckDB oracle is a WITH RECURSIVE reachability closure + min per
vertex — a completely independent formulation that must agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.plans.partitioning import materialize


def connected_components(edges: DataFrame, max_iters: int = 25) -> DataFrame:
    """edges(src, dst) undirected -> (v, label) with label = min vertex id
    reachable. Deterministic; converges in O(max component diameter)
    rounds, early-exits when a round changes nothing; raises RuntimeError
    if a round still changes labels after `max_iters` rounds."""
    # the symmetric view is a map-only union over the DIRECTED edges, not
    # a distinct(): duplicate edges are HARMLESS to min-label propagation
    # (min over a multiset equals min over its set)
    e = materialize(edges.select("src", "dst"))
    und = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # initial labels = min(v, min neighbor id): exactly the state after
    # one propagation round from identity labels, computed in the same
    # aggregation that enumerates the vertices — saves one full
    # join+aggregate round (min-label propagation reaches the same
    # fixpoint from any state on its trajectory)
    labels = materialize(
        und.groupBy("src").agg(F.min("dst").alias("mn"))
        .select(F.col("src").alias("v"),
                F.least("src", "mn").alias("label"))
    )
    for _ in range(max_iters):
        nbr = (
            und.join(labels, und.dst == labels.v)
            .select(und.src.alias("v"), "label")
        )
        # carry the pre-round label through the min-aggregation (the
        # labels branch tags it; min() ignores the nbr branch's NULLs)
        # so convergence is a filter over the materialized result, not a
        # re-join of new vs old labels
        new_labels = materialize(
            labels.withColumn("old", F.col("label"))
            .unionByName(nbr.withColumn(
                "old", F.lit(None).cast(dict(labels.dtypes)["label"])))
            .groupBy("v")
            .agg(F.min("label").alias("label"), F.min("old").alias("old"))
        )
        changed = new_labels.filter(F.col("label") != F.col("old")).count()
        labels = new_labels.select("v", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected_components: labels still changing "
                           f"after max_iters={max_iters} rounds")
    return labels


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-duplicate clusters: MinHash-LSH verified pairs as edges,
    connected components as cluster ids (cluster = min doc_id reachable).
    The iterative Spark computation must match a DuckDB recursive-CTE
    transitive closure — two entirely different algorithms, one answer."""
    from no_ocr_spark.operators.dedup import near_dup_edges_reduced

    # r6: the iteration runs on the connectivity-equivalent REDUCED edge
    # set (stars over identical-signature groups + one edge per verified
    # signature pair — equivalence argued at near_dup_edges_reduced).
    # Components, vertex set, and min-doc_id labels are identical to
    # running over q_dedup_minhash_pairs' full pair list, which is what
    # the DuckDB oracle still closes over.
    cc = connected_components(near_dup_edges_reduced(spark, sf_dir))
    return cc.select(F.col("v").alias("doc_id"), F.col("label").alias("cluster"))


def _oracle() -> str:
    from no_ocr_spark.operators.dedup import ORACLES as DEDUP_ORACLES

    pairs_sql = DEDUP_ORACLES["dedup_minhash_pairs"]
    return f"""
        WITH RECURSIVE
        pairs AS ({pairs_sql}),
        und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
        verts AS (SELECT DISTINCT a AS v FROM und),
        reach AS (
            SELECT v AS src, v AS dst FROM verts
            UNION
            SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
        )
        SELECT src AS doc_id, min(dst) AS cluster
        FROM reach GROUP BY src
    """


QUERIES = {"near_dup_clusters": q_near_dup_clusters}
ORACLES = {"near_dup_clusters": _oracle()}
