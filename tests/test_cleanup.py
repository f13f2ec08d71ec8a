"""Cleanup cascade: quality gate, exact dedup (hash-key), MinHash-LSH
near-dup removal — on a corpus with planted exact and near duplicates."""

from pyspark.sql import functions as F

from no_ocr_spark.functions import docsig
from no_ocr_spark.functions.docsig import DOC_SIG
from no_ocr_spark.operators.cleanup import clean_corpus


def _extracted(spark):
    import random

    rng = random.Random(7)
    words = ["kato", "mira", "senvel", "dorun", "prasto", "lengar", "nubel",
             "trimon", "fizer", "qualix", "the", "of", "and"]
    rows = []
    for i in range(40):
        text = " ".join(rng.choice(words) for _ in range(60))
        rows.append((f"https://h{i:03d}.example.org/a", text, None))
    # 5 EXACT duplicates under later urls
    for i in range(5):
        rows.append((f"https://zz-exact-{i}.example.org/a", rows[i][1], None))
    # 5 NEAR duplicates: same text + one extra word (small enough that at
    # most a couple of MinHash slots can change => verify >= 6/8 holds)
    for i in range(5, 10):
        rows.append((f"https://zz-near-{i}.example.org/a",
                     rows[i][1] + " zz", None))
    # 3 too-short docs and 1 errored doc
    for i in range(3):
        rows.append((f"https://short-{i}.example.org/a", "tiny doc", None))
    rows.append(("https://err.example.org/a", " ".join(["w"] * 60), "boom"))
    # 2 REPETITIVE docs (one 2-gram dominates -> Gopher gate drops them)
    for i in range(2):
        rows.append((f"https://rep-{i}.example.org/a",
                     " ".join(["loop", "again"] * 30), None))
    # 1 doc carrying PII (email + IP) that survives every gate
    rows.append(("https://a-pii.example.org/a",
                 " ".join(rng.choice(words) for _ in range(60))
                 + " mail bob@site.example.net ip 10.1.2.3", None))
    return spark.createDataFrame(rows, "url string, text string, error string")


def test_clean_corpus_stages(spark):
    ext = _extracted(spark)
    clean, stats = clean_corpus(ext, min_tokens=10)
    finalize = stats.pop("_finalize")
    assert stats["n_in"] == 57
    assert stats["n_after_quality"] == 53       # -3 short, -1 errored
    assert stats["n_after_repetition"] == 51    # -2 repetitive
    rows = clean.collect()  # the action the observed counts ride on
    stats = finalize()
    assert stats["n_after_exact_dedup"] == 46   # -5 exact copies
    assert stats["n_clean"] == 41               # -5 near copies
    urls = {r.url for r in rows}
    # keep-smallest-url rule: originals survive, planted dups do not
    assert not any(u.startswith("https://zz-") for u in urls)
    assert not any(u.startswith("https://rep-") for u in urls)
    assert all(f"https://h{i:03d}.example.org/a" in urls for i in range(40))
    # PII scrubbed in the output text
    pii = clean.filter(F.col("url") == "https://a-pii.example.org/a")
    txt = pii.collect()[0]["text"]
    assert "<EMAIL>" in txt and "<IP>" in txt
    assert "bob@site.example.net" not in txt and "10.1.2.3" not in txt


def test_clean_job_end_to_end(spark, tmp_path_factory):
    ext_dir = str(tmp_path_factory.mktemp("ext"))
    out_dir = str(tmp_path_factory.mktemp("cleanout"))
    _extracted(spark).write.mode("overwrite").parquet(ext_dir)

    from no_ocr_spark.operators.cleanup import clean_corpus
    from no_ocr_spark.plans.partitioning import with_bucket

    clean, stats = clean_corpus(spark.read.parquet(ext_dir), min_tokens=10)
    finalize = stats.pop("_finalize")
    (
        with_bucket(clean, 4).repartition(4, "bucket")
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(out_dir + "/clean")
    )
    stats = finalize()
    got = spark.read.parquet(out_dir + "/clean")
    assert got.count() == stats["n_clean"] == 41
    assert got.select("url").distinct().count() == 41
    assert got.select(F.countDistinct("bucket")).collect()[0][0] == 4


def test_pii_scrubbed_in_nested_spans(spark):
    """The spans column carries the same text — scrubbing must reach it
    (review finding: top-level-only scrub shipped the PII anyway)."""
    rows = []
    for i in range(12):
        txt = " ".join(f"w{i}x{j}" for j in range(30)) + \
            " mail bob@site.example.net ip 10.1.2.3"
        spans = [{"page": 1, "text": txt, "x0": 0.0, "y0": 0.0,
                  "x1": 1.0, "y1": 1.0, "block": 0, "line": 0}]
        rows.append((f"https://s{i:02d}.example.org/a", txt, None, spans))
    df = spark.createDataFrame(
        rows,
        "url string, text string, error string, "
        "spans array<struct<page:int,text:string,x0:float,y0:float,"
        "x1:float,y1:float,block:int,line:int>>",
    )
    clean, stats = clean_corpus(df, min_tokens=10)
    got = clean.collect()
    stats.pop("_finalize")()
    assert len(got) == 12
    for r in got:
        assert "<EMAIL>" in r["text"] and "<IP>" in r["text"]
        for s in r["spans"]:
            assert "bob@site.example.net" not in s["text"]
            assert "10.1.2.3" not in s["text"]
            assert "<EMAIL>" in s["text"] and "<IP>" in s["text"]
            assert s["page"] == 1 and s["block"] == 0


def test_perplexity_gate_drops_gibberish(spark):
    from pyspark.sql import functions as F2

    from no_ocr_spark.operators.perplexity import REF_MOD, score_perplexity

    # The gate needs a reference slice with NON-uniform bigram statistics
    # (uniform random soup scores ~log2(V) whether seen or not — add-one
    # smoothing gives total ignorance the same bits as unseen-in-context).
    # Build patterned docs: phrases drawn from 12 preferred bigrams, so
    # in-distribution bigrams are high-count -> low bits, while gibberish
    # sits at the smoothing floor.
    import random

    rng = random.Random(11)
    phrases = [f"p{j}a p{j}b" for j in range(12)]
    # urls pre-checked to land in the xxhash64 % 10 == 0 reference bucket
    # (the pat- names happen to all miss it) — the LM must train on
    # SOMETHING or every score is NULL and the gate keeps everything
    ref_urls = [f"https://ref-{i}.example.org/a" for i in (7, 42, 45, 53, 72)]
    rows = [
        (f"https://pat-{i:03d}.example.org/a",
         " ".join(rng.choice(phrases) for _ in range(30)), None)
        for i in range(30)
    ] + [
        (u, " ".join(rng.choice(phrases) for _ in range(30)), None)
        for u in ref_urls
    ]
    gib_url = "https://gibberish.example.org/a"
    rows.append((gib_url, " ".join(f"xq{i}v" for i in range(60)), None))
    ext = spark.createDataFrame(rows, "url string, text string, error string")

    # self-calibrate the threshold from the same scorer the gate uses
    scored = {
        r.url: r.ppl_bits
        for r in score_perplexity(
            ext.filter(F2.col("error").isNull()).select("url", "text"),
            id_col="url",
            ref_cond=F2.pmod(F2.xxhash64("url"), F2.lit(REF_MOD)) == 0,
        ).collect()
        if r.ppl_bits is not None
    }
    others_max = max(v for u, v in scored.items() if u != gib_url)
    assert scored[gib_url] > others_max  # gibberish is separable
    thr = (scored[gib_url] + others_max) / 2

    clean, stats = clean_corpus(ext, min_tokens=10, ppl_max_bits=thr)
    finalize = stats.pop("_finalize")
    assert stats["n_after_perplexity"] == stats["n_after_repetition"] - 1
    urls = {r.url for r in clean.collect()}
    finalize()
    assert gib_url not in urls
    # the gate only removed the planted doc; survivors are pattern docs
    assert all(u.startswith(("https://pat-", "https://ref-")) for u in urls)


def test_score_perplexity_empty_reference_slice_scores_null(spark):
    from pyspark.sql import functions as F2

    from no_ocr_spark.operators.perplexity import score_perplexity

    docs = spark.createDataFrame(
        [("u1", "a b c d"), ("u2", "e f g h")], "url string, text string"
    )
    out = score_perplexity(docs, id_col="url",
                           ref_cond=F2.lit(False)).collect()
    assert {r.url for r in out} == {"u1", "u2"}
    assert all(r.ppl_bits is None for r in out)
    assert all(r.n_bigrams == 3 for r in out)


def test_perplexity_gate_off_by_default_keeps_stats_shape(spark):
    ext = _extracted(spark)
    clean, stats = clean_corpus(ext, min_tokens=10)
    finalize = stats.pop("_finalize")
    assert "n_after_perplexity" not in stats
    clean.collect()
    finalize()


def _plan_nodes_above_cache(plan):
    """(class name, node) for every node of a logical plan, not descending
    into the cached plans of InMemoryRelation leaves."""
    out = [(plan.getClass().getSimpleName(), plan)]
    if out[0][0] != "InMemoryRelation":
        children = plan.children()
        for i in range(children.size()):
            out += _plan_nodes_above_cache(children.apply(i))
    return out


def test_cached_stage_hashes_each_word_once(spark):
    """The repetition gate filters the CACHED relation, so the filter is
    not pushed below the kernel's projection: the persisted plan calls the
    per-document hash kernel once, and nothing above the cache calls it."""
    clean, stats = clean_corpus(_extracted(spark), min_tokens=10)
    try:
        nodes = _plan_nodes_above_cache(
            clean._jdf.queryExecution().optimizedPlan())
        cached = {n.cacheBuilder().cachedPlan().toString()
                  for cls, n in nodes if cls == "InMemoryRelation"}
        assert len(cached) == 1
        assert cached.pop().count(f"{DOC_SIG}(") == 1
        assert not any(f"{DOC_SIG}(" in n.simpleString(100000)
                       for cls, n in nodes if cls != "InMemoryRelation")
    finally:
        clean.collect()  # the action finalize's observed counts ride on
        stats.pop("_finalize")()


def test_clean_plan_reads_hashes_from_the_cache(spark):
    """Above the cached relation nothing re-hashes: the LSH self-join reads
    `sig` from the cache instead of calling the hash kernel on `text`, or
    re-deriving word hashes (`ascii(`), shingle sets (`array_distinct(`)
    and MinHash slots (`array_min(`) from it, in both of its branches."""
    clean, stats = clean_corpus(_extracted(spark), min_tokens=10)
    try:
        nodes = _plan_nodes_above_cache(
            clean._jdf.queryExecution().optimizedPlan())
        above = [n.simpleString(100000) for cls, n in nodes
                 if cls != "InMemoryRelation"]
        for marker in (f"{DOC_SIG}(", "ascii(", "array_distinct(",
                       "array_min("):
            assert not any(marker in s for s in above), marker
    finally:
        clean.collect()  # the action finalize's observed counts ride on
        stats.pop("_finalize")()


def test_pii_scrub_runs_after_the_dedup_key(spark):
    """Two docs that differ only in an email address are not exact
    duplicates: the dedup key is taken from the unscrubbed text, so both
    survive (and both come out scrubbed, then textually equal)."""
    base = ("kato mira senvel dorun prasto {} lengar nubel trimon fizer "
            "qualix")
    rows = [
        ("https://m1.example.org/a", base.format("ann@one.example.com"), None),
        ("https://m2.example.org/a", base.format("bob@two.example.net"), None),
    ]
    ext = spark.createDataFrame(rows, "url string, text string, error string")
    clean, stats = clean_corpus(ext, min_tokens=10)
    finalize = stats.pop("_finalize")
    got = {r.url: r.text for r in clean.collect()}
    stats = finalize()
    assert stats["n_after_exact_dedup"] == 2
    assert set(got) == {u for u, _, _ in rows}
    assert all(t == base.format("<EMAIL>") for t in got.values())


def test_explain_audit_flags_a_filter_on_the_gate(spark):
    """scripts/explain_audit.py's repeated-call check catches the trap the
    cascade avoids — a filter straight on with_repetition_flag's output is
    pushed below the kernel's projection and calls the kernel again — for
    every hash kernel (a filter on a projected poly hash of a nested
    argument), and finds no repeat in clean_corpus."""
    import importlib.util
    import os

    from no_ocr_spark.operators.repetition import with_repetition_flag

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "explain_audit.py")
    spec = importlib.util.spec_from_file_location("explain_audit", path)
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)

    ext = _extracted(spark)
    trap = with_repetition_flag(ext).filter(~F.col("is_repetitive"))
    assert [op for op, _, _ in audit.repeated_lambdas(trap)] == ["Filter"]
    fp = ext.select("url", F.expr(docsig.poly_hash(
        spark, "substring(text, 1, 64)")).alias("fp"))
    trap = fp.filter(F.col("fp") % 2 == 0)
    assert [op for op, _, _ in audit.repeated_lambdas(trap)] == ["Filter"]
    clean, stats = clean_corpus(ext, min_tokens=10)
    try:
        assert audit.repeated_lambdas(clean) == []
    finally:
        clean.collect()  # the action finalize's observed counts ride on
        stats.pop("_finalize")()
