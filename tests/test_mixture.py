"""Mixture resampling (operators/mixture.py)."""

from no_ocr_spark.operators import mixture


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_up_and_down_weighting(spark):
    # src4 (w = 4%5+1 = 5) vs src5 (w = 5%5+1 = 1): 10 docs each, N=20,
    # W=6 -> t_src4 = 20*5//6 = 16 (base 1, rem 6), t_src5 = 20//6 = 3
    # (base 0, rem 3)
    rows = [(i, "src4") for i in range(10)] + [(i + 10, "src5") for i in range(10)]
    out = mixture.mixture_repeats(_docs(spark, rows)).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.n_repeats)
    assert all(v in (1, 2) for v in by_src["src4"])   # base 1 + overflow
    assert all(v in (0, 1) for v in by_src["src5"])   # subsampled
    # expectation-level totals: within the binomial envelope of t_s
    assert abs(sum(by_src["src4"]) - 16) <= 6
    assert abs(sum(by_src["src5"]) - 3) <= 3


def test_deterministic_and_partitioning_invariant(spark):
    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, mixture.q_mixture_resample(spark, sf).collect()))
    from no_ocr_spark.sources.tables import load_table

    docs = load_table(spark, sf, "documents").select("doc_id", "source") \
        .repartition(13)
    b = sorted(map(tuple, mixture.mixture_repeats(docs).collect()))
    assert a == b
