"""The per-document hash kernel (functions/docsig.py, jvm/DocSig.java)
equals the Spark-dialect textexpr formulation it replaced: the word hashes
over code points, the Gopher top-2-gram gate folded by
repetition._longest_run_fold, and the MinHash slots over the distinct
3-shingle hashes. The inputs are seeded random texts that stress what a
hand-written word walk gets wrong: astral code points, combining marks,
tabs, newlines, NUL, empty words from leading, trailing and repeated
spaces, docs of 0-3 words, and a null text."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from no_ocr_spark.functions import textexpr as tx
from no_ocr_spark.functions.docsig import with_doc_sig
from no_ocr_spark.operators.repetition import _longest_run_fold

_ATOMS = ["a", "b", "kato", "mira", "\u00e9", "e\u0301", "\u0301",
          "中文", "\U0001f600", "\U0001d518\U0001d52b",
          "a\U0001f600b", "\U0010fffd", "\t", "\n", "\x00", "x\ty"]


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_ATOMS) for _ in range(rng.randint(0, 3)))


def _texts(seed: int = 19, n: int = 400) -> list[str | None]:
    rng = random.Random(seed)
    out: list[str | None] = [None, "", " ", "  ", "a", " a", "a ", "a  b",
                             "\U0001f600", "\U0001f600 \U0001f600", "a b c",
                             " a b", "x y x y x y"]
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


def _reference(df):
    """The Spark-dialect textexpr formulation of (is_repetitive, sig)."""
    wh = df.withColumn("_w", F.expr(tx.words("spark", "text"))).withColumn(
        "_wh", F.expr(tx.word_hashes("spark", "_w")))
    grams = wh.withColumn("_g", F.expr(
        "zip_with(slice(_wh, 1, greatest(size(_wh) - 1, 0)), "
        "slice(_wh, 2, greatest(size(_wh) - 1, 0)), "
        "(a, b) -> a * 1000000007L + b)"))
    top = grams.withColumn(
        "_top2", F.expr(f"{_longest_run_fold('_g', 'bigint')}.best"))
    flag = top.withColumn("is_repetitive", F.expr(
        "CASE WHEN size(_w) >= 2 THEN _top2 >= 2 AND _top2 * 5 > size(_w) "
        "ELSE false END"))
    sh = flag.withColumn(
        "_sh", F.expr(tx.shingle_hashes_from_word_hashes("spark", "_wh")))
    return sh.withColumn(
        "sig", F.expr(tx.minhash_signature_from_hashes("spark", "_sh")))


def test_kernel_equals_the_textexpr_formulation(spark):
    texts = _texts()
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    got = {r.i: (r.is_repetitive, list(r.sig))
           for r in with_doc_sig(df).select("i", "is_repetitive", "sig")
           .collect()}
    want = {r.i: (r.is_repetitive, list(r.sig))
            for r in _reference(df).select("i", "is_repetitive", "sig")
            .collect()}
    assert len(want) == len(texts)
    assert sum(rep for rep, _ in want.values()) > 20  # the gate fires
    bad = [(texts[i], got[i], want[i]) for i in want if got[i] != want[i]]
    assert not bad, bad[:3]

