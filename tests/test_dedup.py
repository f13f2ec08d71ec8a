"""The MinHash-LSH pair join (dedup.minhash_pairs) against a brute-force
loop, the single home of its banding policy, and the dedup joins that
follow the broadcast threshold instead of forcing a broadcast."""

import itertools
import pathlib

import pytest

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "no_ocr_spark"

BASE = [1, 2, 3, 4, 5, 6, 7, 8]
SIGS = {
    "a": BASE,
    "b_band0": [1, 2, 3, 4, 5, 6, 70, 80],      # band 0 only, 6 slots
    "c_band1": [10, 20, 3, 4, 5, 6, 7, 8],      # band 1 only, 6 slots
    "d_both": list(BASE),                       # both bands, 8 slots
    "e_weak": [1, 2, 3, 4, 50, 60, 70, 80],     # band 0, only 4 slots
    "f_split": [1, 2, 3, 99, 5, 6, 7, 98],      # 6 slots, no band shared
}


def _brute_force(sigs):
    """Every pair (a < b) sharing band 0 or band 1 that agrees on >= 6 of
    the 8 slots, once."""
    out = []
    for a, b in itertools.combinations(sorted(sigs), 2):
        x, y = sigs[a], sigs[b]
        eq = sum(p == q for p, q in zip(x, y))
        if (x[:4] == y[:4] or x[4:] == y[4:]) and eq >= 6:
            out.append((a, b, eq))
    return sorted(out)


def test_minhash_pairs_matches_brute_force(spark):
    from no_ocr_spark.operators.dedup import minhash_pairs

    df = spark.createDataFrame(list(SIGS.items()), "url string, sig array<bigint>")
    got = sorted(tuple(r) for r in minhash_pairs(df, "url").collect())
    assert got == _brute_force(SIGS)
    pairs = [(a, b) for a, b, _ in got]
    assert ("a", "b_band0") in pairs and ("a", "c_band1") in pairs
    assert pairs.count(("a", "d_both")) == 1
    assert ("a", "e_weak") not in pairs
    # 6 equal slots, one difference in each band: never a candidate
    assert sum(p == q for p, q in zip(SIGS["a"], SIGS["f_split"])) == 6
    assert ("a", "f_split") not in pairs


def test_lsh_banding_lives_in_one_module():
    band = "'bh', slice(sig, "
    sites = sorted(str(p.relative_to(ENGINE)) for p in ENGINE.rglob("*.py")
                   if band in p.read_text())
    assert sites == ["operators/dedup.py"]


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "dedup_simhash_pairs"])
def test_dedup_joins_follow_broadcast_threshold(spark, sf_dir, name):
    """The per-doc signature table and the simhash member lists grow with
    the corpus, so neither join may force a broadcast: with broadcasts
    switched off no BroadcastHashJoin remains, and the rows equal the
    default run's."""
    from no_ocr_spark.operators.dedup import QUERIES

    def rows_and_plan():
        df = QUERIES[name](spark, sf_dir)
        rows = sorted(tuple(r) for r in df.collect())
        return rows, df._jdf.queryExecution().executedPlan().toString()

    default_rows, _ = rows_and_plan()
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        rows, plan = rows_and_plan()
    finally:
        spark.conf.set(key, prev)
    assert "BroadcastHashJoin" not in plan
    assert rows == default_rows and rows
