"""Skew machinery tests: salted two-stage aggregation equals the naive
groupBy; heavy-hitter detection finds the Zipf head (host0000 holds ~7% of
the synthetic corpus)."""

import pytest
from pyspark.sql import functions as F

from no_ocr_spark.plans.partitioning import (
    detect_heavy_hosts,
    host_of,
    salted_host_counts,
    with_bucket,
)
from no_ocr_spark.sources.synth_spark import pages_df


def test_salted_counts_equal_naive(spark):
    pages = pages_df(spark, 400).cache()
    salted = {r.host: (r.n_docs, r.n_bytes)
              for r in salted_host_counts(pages, n_salts=8).collect()}
    naive = {
        r.host: (r.n_docs, r.n_bytes)
        for r in pages.select(host_of("url").alias("host"),
                              F.length("html").alias("b"))
        .groupBy("host")
        .agg(F.count("*").alias("n_docs"), F.sum("b").alias("n_bytes"))
        .collect()
    }
    assert salted == naive


def test_detect_heavy_hosts_finds_zipf_head(spark):
    pages = pages_df(spark, 400)
    heavy = [r.host for r in detect_heavy_hosts(pages, min_share=0.03).collect()]
    assert "host0000.example.org" in heavy
    assert len(heavy) < 20  # only the head, not the tail


def test_bucket_stability_and_uniformity(spark):
    pages = pages_df(spark, 400)
    b1 = {r.url: r.bucket for r in with_bucket(pages, 16).collect()}
    b2 = {r.url: r.bucket
          for r in with_bucket(pages.repartition(7), 16).collect()}
    assert b1 == b2  # pure function of url — partitioning-independent
    from collections import Counter

    counts = Counter(b1.values())
    assert len(counts) == 16
    assert max(counts.values()) < 3 * min(counts.values())  # roughly uniform


def _n_spark_jobs(spark) -> int:
    # DAGScheduler.numTotalJobs = every job ever submitted on this context
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_heavy_host_flags_matches_eager_detection(spark):
    from no_ocr_spark.plans.partitioning import heavy_host_flags

    pages = pages_df(spark, 400).cache()
    lazy = {r.host for r in heavy_host_flags(pages, min_share=0.03).collect()}
    eager = {r.host
             for r in detect_heavy_hosts(pages, min_share=0.03).collect()}
    assert lazy == eager and "host0000.example.org" in lazy


def test_compose_fires_no_spark_job(spark):
    """The lazy heavy-host planning primitives fire NOTHING on an
    in-memory frame (the registered queries that use them are held to
    their footer reads by test_compose_job_budget)."""
    from no_ocr_spark.plans.partitioning import (
        heavy_host_flags,
        salt_by_heavy_flags,
    )

    pages = pages_df(spark, 50)
    before = _n_spark_jobs(spark)
    _ = salt_by_heavy_flags(
        pages.select(host_of("url").alias("host"), "url"),
        heavy_host_flags(pages),
    )
    assert _n_spark_jobs(spark) == before, "composing ran a Spark job"


def test_salt_by_heavy_flags_fans_out_only_heavy_keys(spark):
    from no_ocr_spark.plans.partitioning import (
        heavy_host_flags,
        salt_by_heavy_flags,
    )

    hot = spark.range(300).selectExpr(
        "concat('https://hot.example.org/p', id) AS url",
        "cast(repeat('x', 100) as binary) AS html",
    )
    tail = spark.range(700).selectExpr(
        "concat('https://t', id % 70, '.example.org/p', id) AS url",
        "cast(repeat('y', 50) as binary) AS html",
    )
    pages = hot.unionByName(tail).cache()

    heavy = [r.host for r in detect_heavy_hosts(pages, min_share=0.1).collect()]
    assert heavy == ["hot.example.org"]

    salted = salt_by_heavy_flags(
        pages.select(host_of("url").alias("host"), "url"),
        heavy_host_flags(pages, min_share=0.1), n_salts=8,
    )
    partials = (
        salted.groupBy("host", "salt").count()
        .groupBy("host").count().withColumnRenamed("count", "n_partials")
    )
    n_partials = {r.host: r.n_partials for r in partials.collect()}
    assert n_partials["hot.example.org"] == 8
    assert all(v == 1 for h, v in n_partials.items() if h != "hot.example.org")


def test_fan_out_for_cpu_conditional_and_jobless(spark):
    """Round-5 fan-out rule: repartitions a starved scan (fewer splits
    than cores) to full parallelism, NO-OPs on an already-parallel
    input, and composing it fires no Spark job beyond the footer reads
    every parquet load pays."""
    from no_ocr_spark.plans.partitioning import fan_out_for_cpu
    from no_ocr_spark.sources.tables import load_table

    par = spark.sparkContext.defaultParallelism
    # starved input: the bench documents table is one row group
    n0 = _n_spark_jobs(spark)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    base_jobs = _n_spark_jobs(spark) - n0
    n0 = _n_spark_jobs(spark)
    fanned = fan_out_for_cpu(docs, spark)
    assert _n_spark_jobs(spark) - n0 <= base_jobs  # composing fires no extra job
    assert fanned.rdd.getNumPartitions() == par
    # already-parallel input: returned unchanged, no Exchange added
    wide = spark.range(0, 1000, 1, par * 2)
    assert fan_out_for_cpu(wide, spark) is wide


def test_fan_out_for_cpu_fans_out_single_row_group_splits(spark, sf_dir,
                                                          tmp_path):
    """A single-row-group file cut into >= defaultParallelism scan splits
    still runs in ONE scan task (a split reads only the row groups whose
    midpoint it holds), so the helper must fan it out: the shape of a
    generated sf1 documents table. Deciding fires no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from no_ocr_spark.plans.partitioning import fan_out_for_cpu

    par = spark.sparkContext.defaultParallelism
    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    big = pa.concat_tables([docs] * 40)
    path = str(tmp_path / "documents.parquet")
    # uncompressed, so the file is big enough (MBs) to split per core
    pq.write_table(big, path, row_group_size=big.num_rows + 1,
                   compression="none", use_dictionary=False)
    assert pq.ParquetFile(path).num_row_groups == 1
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() >= par  # the split count alone says "fed"

    n0 = _n_spark_jobs(spark)
    fanned = fan_out_for_cpu(df, spark)
    assert _n_spark_jobs(spark) == n0
    # returned unchanged, all rows would run in the one task that holds
    # the row group's midpoint
    assert fanned is not df
    assert fanned.rdd.getNumPartitions() == par


def _registry() -> dict:
    import __spark_entry__ as entry

    return {**entry.queries(), **entry.extra_queries()}


def test_fan_out_for_cpu_adds_no_job_to_any_registered_query(spark, sf_dir,
                                                             monkeypatch):
    """Compose every registered query with the helper wrapped: the helper
    itself adds zero Spark jobs, including on inputs whose partitioning
    AQE fixes only at run time (page_rasters' distinct)."""
    import sys

    from no_ocr_spark.plans import partitioning

    real = partitioning.fan_out_for_cpu
    jobs: dict[str, int] = {}
    current = [""]

    def counted(df, spark_):
        n0 = _n_spark_jobs(spark_)
        out = real(df, spark_)
        jobs[current[0]] = jobs.get(current[0], 0) + _n_spark_jobs(spark_) - n0
        return out

    registry = _registry()
    for name, mod in list(sys.modules.items()):
        if (name.startswith("no_ocr_spark")
                and getattr(mod, "fan_out_for_cpu", None) is real):
            monkeypatch.setattr(mod, "fan_out_for_cpu", counted)
    for name, query in registry.items():
        current[0] = name
        query(spark, sf_dir)
    spark.catalog.clearCache()

    assert "page_rasters" in jobs and len(jobs) > 20  # the wrapper is live
    assert {n: j for n, j in jobs.items() if j} == {}


@pytest.fixture(scope="module")
def plan_audit(spark, sf_dir) -> dict:
    """scripts/explain_audit's (repeated_lambdas operators,
    per_char_lambdas operators) for every registered query, over its
    frame and the frames it put behind partitioning.materialize."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "explain_audit.py")
    spec = importlib.util.spec_from_file_location("explain_audit", path)
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)

    hits = {}
    for name, query in _registry().items():
        frames = audit.composed_frames(query, spark, sf_dir)
        hits[name] = ([op for df in frames
                       for op, _, _ in audit.repeated_lambdas(df)],
                      [op for df in frames for op in audit.per_char_lambdas(df)])
    spark.catalog.clearCache()
    assert len(hits) == 85  # 50 gate queries + 35 extras
    return hits


def test_no_registered_query_repeats_a_lambda(plan_audit):
    """No operator of an optimized plan evaluates the same higher-order
    call, or the same hash kernel call, twice per row."""
    assert {name: ops for name, (ops, _) in plan_audit.items() if ops} == {}


def test_no_registered_query_hashes_per_character(plan_audit):
    """Every text hash runs in a compiled kernel (functions/docsig.py): no
    optimized plan splits text into characters or takes a character's
    code inside an interpreted lambda."""
    assert {name: ops for name, (_, ops) in plan_audit.items() if ops} == {}


# Spark jobs that composing each registered query may fire, measured at
# the default test sf_dir (sf0.001) on local[4]; a query not listed may
# fire 1, the footer read of its one table load. The jobs above that are setup writes, collects of
# the small tables that shape a plan, and the exchanges AQE runs below a
# lazy barrier (see partitioning.materialize); connected components
# (near_dup_clusters, dedup_keep_best) runs its convergence counts.
COMPOSE_JOBS = {
    "warc_extract": 0,
    "search_flow": 2, "dedup_ngram_jaccard": 2, "page_rasters": 2,
    "broadcast_lookup_join": 2, "anti_join_resume": 2,
    "coalesce_fallback": 2, "substring_dedup": 2, "bm25_topk": 2,
    "asof_join": 2,
    "dedup_simhash_pairs": 3, "tfidf_top_terms": 3,
    "topk_order_revenue": 3, "wet_roundtrip": 3, "jsonl_roundtrip": 3,
    "perplexity_score": 3, "hybrid_rrf": 3, "bm25_indexed_topk": 3,
    "search_snippets": 3, "warc_roundtrip": 3, "wat_roundtrip": 3,
    "bpe_tokenize": 4,
    "snapshot_table": 5, "ann_pq_topk": 5, "ann_ivf_topk": 5,
    "warc_revisit_roundtrip": 5,
    "ann_ivf_kmeans": 9, "ann_ivf_sq8_topk": 9,
    "near_dup_clusters": 18, "dedup_keep_best": 19,
    # its three commits run at compose, into a fresh table each time
    "merge_upsert_read": 28,
}
# queries held to the footer reads of their table loads and nothing else:
# their lazy heavy-host detection (extract_host_stats) and cache() pins
# (dsir_select, host_pagerank) must not run at compose
FOOTER_ONLY_LOADS = {"extract_host_stats": 2, "dsir_select": 1,
                     "host_pagerank": 1, "mixture_resample": 1}


@pytest.mark.parametrize("name", sorted(_registry()))
def test_compose_job_budget(spark, sf_dir, name):
    """Composing a registered query fires no more Spark jobs than its
    budget: plan builders defer work to the query's own action."""
    from no_ocr_spark.sources.tables import load_table

    assert set(COMPOSE_JOBS).isdisjoint(FOOTER_ONLY_LOADS)
    assert set(COMPOSE_JOBS) <= set(_registry())
    if name in FOOTER_ONLY_LOADS:
        n0 = _n_spark_jobs(spark)
        load_table(spark, sf_dir, "documents").schema
        budget = FOOTER_ONLY_LOADS[name] * (_n_spark_jobs(spark) - n0)
    else:
        budget = COMPOSE_JOBS.get(name, 1)
    spark.catalog.clearCache()
    n0 = _n_spark_jobs(spark)
    _registry()[name](spark, sf_dir)
    fired = _n_spark_jobs(spark) - n0
    spark.catalog.clearCache()
    assert fired <= budget, f"composing {name} fired {fired} jobs"


def test_no_inline_default_parallelism_repartition():
    """fan_out_for_cpu is the only place that decides an unkeyed fan-out:
    no other engine module may call repartition(defaultParallelism),
    directly or through a local name bound to it."""
    import ast
    import pathlib

    def mentions_par(node):
        return any(isinstance(n, ast.Attribute) and n.attr == "defaultParallelism"
                   for n in ast.walk(node))

    root = pathlib.Path(__file__).resolve().parents[1] / "no_ocr_spark"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "plans/partitioning.py":
            continue
        tree = ast.parse(path.read_text(), rel)
        par_names = {t.id for n in ast.walk(tree) if isinstance(n, ast.Assign)
                     and mentions_par(n.value)
                     for t in n.targets if isinstance(t, ast.Name)}
        for n in ast.walk(tree):
            if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "repartition"
                    and len(n.args) + len(n.keywords) == 1 and n.args
                    and (mentions_par(n.args[0])
                         or getattr(n.args[0], "id", None) in par_names)):
                offenders.append(f"{rel}:{n.lineno}")
    assert offenders == [], (
        "unkeyed fan-out outside plans/partitioning.fan_out_for_cpu")


def test_plan_barriers_go_through_materialize():
    """partitioning.materialize is the engine's only localCheckpoint, and
    cache()/persist() appear only in the modules whose pins must stay
    jobless at compose (dsir, linkgraph) or that release them themselves
    (lineage, cleanup)."""
    import ast
    import pathlib

    cache_ok = {"plans/lineage.py", "operators/cleanup.py",
                "operators/dsir.py", "operators/linkgraph.py"}
    root = pathlib.Path(__file__).resolve().parents[1] / "no_ocr_spark"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(), rel)
        allowed = {id(n) for fn in ast.walk(tree)
                   if rel == "plans/partitioning.py"
                   and isinstance(fn, ast.FunctionDef)
                   and fn.name == "materialize" for n in ast.walk(fn)}
        for n in ast.walk(tree):
            if not (isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)):
                continue
            if ((n.func.attr == "localCheckpoint" and id(n) not in allowed)
                    or (n.func.attr in ("cache", "persist")
                        and rel not in cache_ok)):
                offenders.append(f"{rel}:{n.lineno}")
    assert offenders == [], "plan barrier outside partitioning.materialize"
