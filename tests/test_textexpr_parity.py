"""Property tests for the dialect-paired expression library: the Spark and
DuckDB renderings of each template must agree on edge cases (empty strings,
single words, unicode, long texts). The text hashes are rendered for DuckDB
only; their Spark side is the compiled kernel (functions/docsig.py)."""

import duckdb
import pytest

from no_ocr_spark.functions import docsig
from no_ocr_spark.functions import textexpr as tx

CASES = [
    "",
    "a",
    "hello world",
    "the quick brown fox jumps over the lazy dog",
    "x " * 50,
    "unicode éü中文 mixed",
    "punct, punct. punct!",
]


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def _spark_eval(spark, expr: str, text: str):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(text,)], "text string")
    return df.select(F.expr(expr).alias("v")).collect()[0].v


def _duck_eval(duck, expr: str, text: str):
    return duck.execute(f"SELECT {expr} AS v FROM (SELECT ? AS text)",
                        [text]).fetchone()[0]


@pytest.mark.parametrize("text", CASES)
def test_poly_hash_parity(spark, duck, text):
    s = _spark_eval(spark, docsig.poly_hash(spark, "text"), text)
    d = _duck_eval(duck, tx.poly_hash("text"), text)
    assert s == d


@pytest.mark.parametrize("text", CASES)
def test_token_count_parity(spark, duck, text):
    s = _spark_eval(spark, tx.token_count_regex("spark", "text"), text)
    d = _duck_eval(duck, tx.token_count_regex("duckdb", "text"), text)
    assert int(s) == int(d)


_D_WH = tx.word_hashes(tx.words("duckdb", "text"))


@pytest.mark.parametrize("text", CASES)
def test_simhash_parity(spark, duck, text):
    """The engine's Spark SimHash (the kernel) against the oracle's."""
    s = _spark_eval(spark, docsig.simhash(spark, "text", 16), text)
    d = _duck_eval(duck, tx.simhash_from_word_hashes(_D_WH), text)
    assert s == d


@pytest.mark.parametrize("text", CASES)
def test_minhash_parity(spark, duck, text):
    """The MinHash signature the engine and the oracles compute: 8 slots
    over the distinct 3-word shingle hashes composed from word hashes."""
    df = spark.createDataFrame([(text,)], "text string")
    s = docsig.with_doc_sig(df).select("sig").collect()[0].sig
    d = _duck_eval(duck, tx.minhash_signature_from_hashes(
        tx.shingle_hashes_from_word_hashes(_D_WH)), text)
    assert list(s) == list(d)


@pytest.mark.parametrize("text", CASES)
def test_count_substr_parity(spark, duck, text):
    s = _spark_eval(spark, tx.count_substr("spark", "text", "the"), text)
    d = _duck_eval(duck, tx.count_substr("duckdb", "text", "the"), text)
    assert float(s) == float(d)


# ------------------------------------------------------------------ vectors
VEC_CASES = [
    ([1.0, 2.0, 3.0], [0.5, -1.0, 4.25]),
    ([0.1, 0.2, 0.3], [1 / 3, 2 / 3, 1e-9]),
    ([-7.5, 1e300, 2.0], [3.0, 1e-300, -0.0]),
    ([0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),      # zero norm: no cosine
    ([0.0, 0.0, 0.0], [0.0, 0.0, 0.0]),
]


def _spark_vec(spark, expr: str, a, b, typ: str = "double"):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(a, b)], f"a array<{typ}>, b array<{typ}>")
    return df.select(F.expr(expr).alias("v")).collect()[0].v


def _duck_vec(duck, expr: str, a, b, typ: str = "DOUBLE"):
    return duck.execute(
        f"SELECT {expr} AS v FROM (SELECT ?::{typ}[] AS a, ?::{typ}[] AS b)",
        [a, b]).fetchone()[0]


@pytest.mark.parametrize("a,b", VEC_CASES)
def test_dot_and_cosine_parity(spark, duck, a, b):
    for build in (tx.dot, tx.cosine):
        s = _spark_vec(spark, build("spark", "a", "b"), a, b)
        d = _duck_vec(duck, build("duckdb", "a", "b"), a, b)
        assert s == d, build.__name__
    if not any(a):
        assert s is None and d is None


@pytest.mark.parametrize("a,b", [([3, -4, 5], [2, 7, -1]),
                                 ([10 ** 12, 7], [10 ** 6, -3]),
                                 ([0, 0], [0, 0])])
def test_bigint_dot_parity(spark, duck, a, b):
    s = _spark_vec(spark, tx.dot("spark", "a", "b", "bigint"), a, b, "bigint")
    d = _duck_vec(duck, tx.dot("duckdb", "a", "b", "bigint"), a, b, "BIGINT")
    assert s == d == sum(x * y for x, y in zip(a, b))


def test_quantize_rounds_ties_away_from_zero(spark, duck):
    vals = [5e-08, 1.5e-07, 2.5e-07, -2.5e-07, -5e-08, 0.123456789]
    s = _spark_vec(spark, tx.quantize("spark", "a"), vals, [])
    d = _duck_vec(duck, tx.quantize("duckdb", "a"), vals, [])
    assert list(s) == list(d) == [1, 2, 3, -3, -1, 1234568]


def test_float_array_literal_is_bit_exact(spark):
    import math
    import struct

    from pyspark.sql import functions as F

    vals = [0.1, 1 / 3, -0.0, 5e-324, 1e300, -2.5e17, math.pi,
            float(0.7 - 0.2)]
    got = spark.range(1).select(F.expr(tx.array_lit(vals)).alias("v")) \
        .collect()[0].v
    assert [struct.pack("<d", v) for v in got] == \
        [struct.pack("<d", v) for v in vals]
    ints = [2 ** 62, -3, 0]
    assert spark.range(1).select(F.expr(tx.array_lit(ints)).alias("v")) \
        .collect()[0].v == ints


@pytest.mark.parametrize("csims", [
    [(3, 0.5), (1, 0.5), (2, 0.25)],        # tie: the smaller cid
    [(1, None), (2, -1.0), (3, None)],      # NULL csim sinks
    [(4, None), (2, None)],                 # all NULL: the smaller cid
    [(5, 0.9), (6, 0.91)],
])
def test_argmax_cid_is_the_ordered_pick(spark, duck, csims):
    """argmax_cid picks what row_number() OVER (ORDER BY csim DESC,
    cid ASC) = 1 picks in the oracle."""
    from pyspark.sql import functions as F

    lit = [(cid, "CAST(NULL AS DOUBLE)" if c is None else f"{c}D")
           for cid, c in csims]
    s = spark.range(1).select(F.expr(tx.argmax_cid(lit)).alias("v")) \
        .collect()[0].v
    rows = ", ".join(f"({cid}, {'NULL' if c is None else c}::DOUBLE)"
                     for cid, c in csims)
    d = duck.execute(f"SELECT cid FROM (VALUES {rows}) t(cid, csim) "
                     "ORDER BY csim DESC, cid ASC LIMIT 1").fetchone()[0]
    assert s == d
