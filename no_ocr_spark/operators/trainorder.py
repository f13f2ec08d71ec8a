"""Deterministic training-order shuffle + epoch sharding — the trainer
handoff step after curation/packing: every published pipeline writes
its final corpus in a SEEDED pseudo-random global order, sharded so
each data-loader worker streams one shard sequentially (Dolma's
tokenizer shuffle, Megatron/GPT-NeoX index shuffles). A true global
sort at 100 TB is the anti-pattern; the scalable expression is

    shard = h1(seed, id) mod n_shards     -- ONE hash-keyed shuffle
    pos   = row_number() over (partition by shard order by h2, id)

i.e. exactly one Exchange on the shard key plus a within-shard sort
(Spark sorts each partition externally, spill-safe) — no global range
exchange, no driver state, and the (seed, n_shards) pair reproduces
the identical order on any cluster size.

h1/h2 are seeded Lehmer-style multiplicative hashes over doc_id —
`(doc_id * A + seed * B) mod P` with A chosen near 0.7*P so the
product wraps the modulus on almost every id increment (a string
poly-hash here is piecewise-MONOTONE in the id — constant prefix plus
a short digit suffix — and degenerates to ascending order; caught by
tests/test_trainorder.py). Pure int64 arithmetic, identical text in
both dialects, products bounded by P*A < 2^63 (DuckDB raises on
BIGINT overflow; Spark would silently wrap). Ties (h2 collisions)
break on doc_id. The DuckDB oracle replays the same arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.functions.textexpr import P64
from no_ocr_spark.sources.tables import load_table

SEED = 42
N_SHARDS = 8
# two decoupled multipliers; (P64-1)*A < 2^63 holds for both
_A1, _B1 = 727_595_479, 151_926_151   # shard hash
_A2, _B2 = 683_438_527, 402_653_189   # order hash


def _h(a: int, b: int) -> str:
    # seed*b folds to a constant here (DuckDB would evaluate the two
    # int literals in INT32 and overflow); the remaining product is
    # BIGINT * INT on both engines, bounded by (P64-1)*a < 2^63
    return f"((doc_id % {P64}) * {a} + {(SEED * b) % P64}) % {P64}"


def q_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, shard, pos): seeded shard assignment and
    within-shard streaming position."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    w = Window.partitionBy("shard").orderBy("h2", "doc_id")
    return (
        docs.select(
            "doc_id",
            F.expr(f"{_h(_A1, _B1)} % {N_SHARDS}").alias("shard"),
            F.expr(_h(_A2, _B2)).alias("h2"),
        )
        .select("doc_id", "shard",
                F.row_number().over(w).alias("pos"))
    )


_ORACLE = f"""
    WITH keyed AS (
      SELECT doc_id,
             ({_h(_A1, _B1)}) % {N_SHARDS} AS shard,
             ({_h(_A2, _B2)}) AS h2
      FROM documents
    )
    SELECT doc_id, shard,
           row_number() OVER (PARTITION BY shard ORDER BY h2, doc_id)
             AS pos
    FROM keyed
"""

QUERIES = {"train_order": q_train_order}
ORACLES = {"train_order": _ORACLE}
