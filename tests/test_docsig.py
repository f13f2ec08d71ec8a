"""The per-document hash kernels (functions/docsig.py, jvm/DocSig.java)
equal the formula functions/textexpr.py renders for the DuckDB oracles:
the poly hash, the word hashes, the positional k-word grams, the SimHash
(both families), the MinHash slots over the distinct 3-shingle hashes and
the Gopher top-2-gram gate. Each kernel runs through Spark and the formula
through DuckDB, which splits a string into code points, on seeded random
texts that stress what a hand-written word walk gets wrong: astral code
points, combining marks, tabs, newlines, NUL, empty words from leading,
trailing and repeated spaces, and docs of 0-3 words. A null text yields
what the lambda form the kernels replaced yielded in Spark: null, and
(false, [P64] * 8) from the cascade's kernel."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from no_ocr_spark.functions import docsig
from no_ocr_spark.functions import textexpr as tx
from no_ocr_spark.operators.dedup import _d_simhash_wide

_ATOMS = ["a", "b", "kato", "mira", "\u00e9", "e\u0301", "\u0301",
          "\u4e2d\u6587", "\U0001f600", "\U0001d518\U0001d52b",
          "a\U0001f600b", "\U0010fffd", "\t", "\n", "\x00", "x\ty"]


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_ATOMS) for _ in range(rng.randint(0, 3)))


def _texts(seed: int = 19, n: int = 400) -> list[str]:
    rng = random.Random(seed)
    out = ["", " ", "  ", "a", " a", "a ", "a  b", "\U0001f600",
           "\U0001f600 \U0001f600", "a b c", " a b", "x y x y x y"]
    for _ in range(n):
        n_words = rng.choice([0, 1, 2, 3, rng.randint(4, 40)])
        words = [_word(rng) for _ in range(n_words)]
        if words and rng.random() < 0.3:  # a dominant 2-gram: gate positives
            gram = words[:2] * rng.randint(2, 12)
            words = words + gram
        text = " ".join(words)
        if rng.random() < 0.2:
            text = " " * rng.randint(1, 2) + text
        if rng.random() < 0.2:
            text = text + " " * rng.randint(1, 2)
        out.append(text)
    return out


_WIDE = 45  # simhash bits: 30 from each family's low bits, 15 from the next


def _spark_kernels(spark, texts: list[str | None]) -> dict:
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    cols = {
        "poly": docsig.poly_hash(spark, "text"),
        "wh": docsig.word_hashes(spark, "text"),
        "g3": docsig.word_grams(spark, "text", 3),
        "g8": docsig.word_grams(spark, "text", 8),
        "sim16": docsig.simhash(spark, "text", 16),
        "sim_wide": docsig.simhash(spark, "text", _WIDE),
    }
    rows = docsig.with_doc_sig(df).select(
        "i", *(F.expr(e).alias(c) for c, e in cols.items()),
        "is_repetitive", "sig").collect()
    return {r.i: {k: list(v) if isinstance(v, list) else v
                  for k, v in r.asDict().items() if k != "i"} for r in rows}


def _duck_formula(texts: list[str]) -> dict:
    """The textexpr DuckDB rendering of every kernel, per text."""
    wh = tx.word_hashes(tx.words("duckdb", "text"))
    wh2 = tx.word_hashes(tx.words("duckdb", "text"), mult=131)
    grams = ("list_transform(generate_series(1, len(word_hashes) - 1), "
             f"i -> word_hashes[i] * {tx.P64} + word_hashes[i + 1])")
    top = "len(list_filter(g, x -> x = list_aggregate(g, 'mode')))"
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(texts)), "text": texts}))
    rows = con.execute(f"""
        WITH w AS (SELECT i, text, {wh} AS word_hashes,
                          {wh2} AS word_hashes2 FROM t),
        g AS (SELECT *, {grams} AS g FROM w)
        SELECT i, {tx.poly_hash("text")} AS poly,
               word_hashes AS wh,
               {tx.positional_shingle_hashes("word_hashes", 3)} AS g3,
               {tx.positional_shingle_hashes("word_hashes", 8)} AS g8,
               {tx.simhash_from_word_hashes("word_hashes", 16)} AS sim16,
               {_d_simhash_wide(_WIDE)} AS sim_wide,
               len(word_hashes) >= 2 AND {top} >= 2
                   AND {top} * 5 > len(word_hashes) AS is_repetitive,
               {tx.minhash_signature_from_hashes(
                   tx.shingle_hashes_from_word_hashes("word_hashes"))} AS sig
        FROM g""").fetchall()
    names = ["poly", "wh", "g3", "g8", "sim16", "sim_wide", "is_repetitive",
             "sig"]
    return {r[0]: dict(zip(names, (list(v) if isinstance(v, list) else v
                                   for v in r[1:]))) for r in rows}


@pytest.fixture(scope="module")
def kernels_and_formula(spark):
    """(texts, {i: kernel outputs via Spark}, {i: formula via DuckDB})."""
    texts = _texts()
    return texts, _spark_kernels(spark, texts), _duck_formula(texts)


def test_duckdb_splits_by_code_point():
    con = duckdb.connect()
    split, code = con.execute("SELECT string_split(?, ''), ascii(?)",
                              ["e\u0301x", "\U0001f600"]).fetchone()
    assert (split, code) == (["e", "\u0301", "x"], 128512)


def test_kernel_equals_the_textexpr_formulation(kernels_and_formula):
    texts, got, want = kernels_and_formula
    assert len(got) == len(want) == len(texts)
    bad = {k: [(texts[i], got[i][k], want[i][k]) for i in want
               if got[i][k] != want[i][k]][:3] for k in want[0]}
    assert not any(bad.values()), bad
    # the inputs reach the cases: astral code points (whose UTF-16 units
    # hash differently), the gate's positives and negatives, docs under 3
    # and 8 words, and wide signatures whose high family carries signal
    assert sum(any(ord(c) > 0xFFFF for c in t) for t in texts) > 50
    reps = [w["is_repetitive"] for w in want.values()]
    assert 20 < sum(reps) < len(reps) - 20
    assert sum(w["g3"] == [] for w in want.values()) > 20
    assert sum(w["g8"] == [] for w in want.values()) > 20
    assert len({w["sim_wide"] >> 30 for w in want.values()}) > 20


def test_a_null_text(spark):
    got = _spark_kernels(spark, [None])[0]
    assert got == {"poly": None, "wh": None, "g3": None, "g8": None,
                   "sim16": None, "sim_wide": None, "is_repetitive": False,
                   "sig": [tx.P64] * 8}
