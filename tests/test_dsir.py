"""DSIR importance resampling (operators/dsir.py)."""

from pyspark.sql import functions as F

from no_ocr_spark.operators import dsir


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_target_like_docs_outweigh_off_distribution_docs(spark):
    # target slice (doc_id % 10 == 0) speaks vocab A; raw docs either share
    # it or speak vocab B — the A-speakers must carry higher weights
    a = "alpha beta gamma delta alpha beta"
    b = "zork quux blarg frotz zork quux"
    rows = [(0, a), (10, a), (20, a)]          # target slice
    rows += [(1, a), (2, a), (3, b), (4, b)]   # raw-only docs
    out = {r.doc_id: r for r in dsir.dsir_weights(_docs(spark, rows)).collect()}
    assert out[1].logw > out[3].logw
    assert out[2].logw > out[4].logw
    # top-1/4 of 7 docs = 1 doc, an A-speaker
    sel = [d for d, r in out.items() if r.selected]
    assert len(sel) == 7 * dsir.SEL_NUM // dsir.SEL_DEN
    assert set(sel) <= {0, 10, 20, 1, 2}


def test_empty_and_null_docs_score_null_and_are_never_selected(spark):
    rows = [(0, "common words common words"), (1, ""), (2, None),
            (3, "common words")]
    out = {r.doc_id: r for r in dsir.dsir_weights(_docs(spark, rows)).collect()}
    # doc 1: "" splits to [''] -> 1 unigram feature; doc 2: null text -> none
    assert out[2].n_feats == 0 and out[2].logw is None
    assert not out[2].selected


def test_selection_fraction_and_determinism_across_partitioning(spark):
    sf = "/root/testdata/sf0.001"
    base = dsir.q_dsir_select(spark, sf)
    a = sorted(map(tuple, base.collect()))
    n = len(a)
    assert sum(1 for r in a if r[3]) == n * dsir.SEL_NUM // dsir.SEL_DEN
    from no_ocr_spark.sources.tables import load_table

    docs13 = load_table(spark, sf, "documents").select("doc_id", "text") \
        .repartition(13)
    b = sorted(map(tuple, dsir.dsir_weights(docs13).collect()))
    assert a == b


def test_weights_sum_against_known_tiny_model(spark):
    # single-word docs, one bucket each: verify the closed-form log-ratio
    import math

    rows = [(0, "x"), (10, "x"), (5, "x")]  # all same word; targets: 0, 10
    out = dsir.dsir_weights(_docs(spark, rows)).collect()
    # feats: 3 unigram occurrences in one bucket; target count 2, raw 3
    expect = round(math.log2(3 / (2 + dsir.B)) - math.log2(4 / (3 + dsir.B)),
                   6)
    for r in out:
        assert r.n_feats == 1
        assert abs(r.logw - expect) < 1e-9
