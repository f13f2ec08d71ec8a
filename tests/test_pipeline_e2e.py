"""End-to-end pipeline tests (SURVEY.md §5 plan items 2 & 4):

* byte-identical extracted text per url — engine (Arrow-batched UDF path)
  vs the pure-Python extractor run directly (the golden oracle),
* identity holds under different partitionings (the determinism contract),
* spans table shape + ordering,
* lineage rows present; checkpoint-resume processes only missing buckets,
  also when a bucket spans several files,
* the extraction job's fixed costs: jobs, ledger files, write tasks,
* one persisted extraction result feeds every sink: no read-back, the
  cache is released, a failed write leaves the run resumable, and each
  phase's jobs are named.
"""

import os
import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

from no_ocr_spark.operators.extract_udf import extract, extracted_table, spans_table
from no_ocr_spark.plans.lineage import pending_buckets, run_with_lineage
from no_ocr_spark.plans.partitioning import with_bucket
from no_ocr_spark.sources.synth import gen_pages
from no_ocr_spark.sources.synth_spark import pages_df

N_DOCS = 300


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, N_DOCS).cache()


def test_byte_identical_vs_pure_python_golden(spark, pages):
    from no_ocr_spark.extract.api import extract_document

    golden = {r["url"]: extract_document(r["html"])["text"]
              for r in gen_pages(N_DOCS)}
    got = {r["url"]: r["text"]
           for r in extracted_table(extract(pages)).collect()}
    assert set(got) == set(golden)
    mismatches = [u for u in golden if got[u] != golden[u]]
    assert mismatches == [], f"{len(mismatches)} urls differ, e.g. {mismatches[:3]}"


def test_determinism_across_partitionings(spark, pages):
    h1 = (extract(pages.repartition(3))
          .select(F.sha2(F.concat_ws("\x00", "url", "text"), 256).alias("h")))
    h2 = (extract(pages.repartition(11, "url"))
          .select(F.sha2(F.concat_ws("\x00", "url", "text"), 256).alias("h")))
    agg1 = h1.agg(F.bit_xor(F.xxhash64("h")).alias("x")).collect()[0].x
    agg2 = h2.agg(F.bit_xor(F.xxhash64("h")).alias("x")).collect()[0].x
    assert agg1 == agg2


def test_spans_table_shape_and_order(spark, pages):
    spans = spans_table(extract(pages))
    row = (spans.filter(F.col("page") >= 2).limit(1).collect())
    assert row, "expected multi-page PDFs in the corpus"
    r = row[0]
    blocks_lines = [(s.block, s.line) for s in r.spans]
    assert blocks_lines == sorted(blocks_lines)
    assert all(s.text for s in r.spans)
    # HTML rows: bbox nulled, page always 1
    html_row = spans.filter(F.col("url").contains("-0")).limit(1).collect()[0]
    assert html_row.page == 1
    assert html_row.spans[0].x0 is None


def _ledger(spark, out):
    return sorted(tuple(r) for r in spark.read.parquet(out + "/lineage")
                  .drop("wall_ms").collect())


def _drop_from_ledger(spark, out, lost):
    lin = spark.read.parquet(out + "/lineage").filter(~F.col("bucket").isin(lost))
    lin.write.mode("overwrite").parquet(out + "/lineage_tmp")
    shutil.rmtree(out + "/lineage")
    shutil.move(out + "/lineage_tmp", out + "/lineage")


def _data_files(d):
    return {f.name for f in d.iterdir() if f.name.endswith(".parquet")}


def test_lineage_and_resume(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job_out"))
    n_buckets = 8
    # partial run: only docs in buckets 0-3 (simulate a job killed mid-way)
    part = with_bucket(pages, n_buckets).filter(F.col("bucket") < 4).drop("bucket")
    r1 = run_with_lineage(spark, part, out, n_buckets=n_buckets)
    assert r1["processed_buckets"] == list(range(n_buckets))
    # corrupt the ledger: mark buckets >=4 as never-done by rewriting lineage
    _drop_from_ledger(spark, out, [4, 5, 6, 7])
    assert pending_buckets(spark, n_buckets, out + "/lineage") == [4, 5, 6, 7]
    # resume with the FULL input: only buckets 4-7 get processed
    r2 = run_with_lineage(spark, pages, out, n_buckets=n_buckets)
    assert r2["processed_buckets"] == [4, 5, 6, 7]
    # final table is complete and byte-identical to a clean full run
    final = spark.read.parquet(out + "/extracted")
    assert final.count() == N_DOCS
    clean = extracted_table(extract(pages))
    diff = (final.select("url", "text").exceptAll(clean.select("url", "text")))
    assert diff.isEmpty()
    # third run: nothing pending
    r3 = run_with_lineage(spark, pages, out, n_buckets=n_buckets)
    assert r3["processed_buckets"] == []


def test_resume_on_uri_out_dir(spark, tmp_path_factory):
    """A file:// out_dir resumes like a plain path: the second run finds
    every bucket done, and the ledger keeps one row per bucket."""
    out = pathlib.Path(tmp_path_factory.mktemp("uri_out")).as_uri()
    n_buckets = 4
    few = pages_df(spark, 40)
    assert run_with_lineage(spark, few, out, n_buckets=n_buckets)[
        "processed_buckets"] == list(range(n_buckets))
    r2 = run_with_lineage(spark, few, out, n_buckets=n_buckets)
    assert r2["processed_buckets"] == []
    assert spark.read.parquet(out + "/lineage").count() == n_buckets


def test_lineage_checksum_order_independent(spark, pages):
    from no_ocr_spark.plans.lineage import lineage_rollup

    ext = with_bucket(extract(pages), 4).select("bucket", "url", "text", "n_chars")
    c1 = {r.bucket: r.checksum for r in lineage_rollup(ext.repartition(2)).collect()}
    c2 = {r.bucket: r.checksum for r in lineage_rollup(ext.repartition(13)).collect()}
    assert c1 == c2 and len(c1) == 4


def test_ledger_n_bytes_counts_utf8_bytes(spark, tmp_path_factory):
    """The ledger's n_bytes is the UTF-8 size of the extracted text, not
    its length in code points."""
    from no_ocr_spark.extract.api import extract_document

    para = "Every café naïve visitor orders the strong house coffee. " * 4
    html = f"<html><body><article><p>{para}</p></article></body></html>".encode()
    text = extract_document(html)["text"]
    assert "café naïve" in text
    page = spark.createDataFrame(
        [("http://cafe.example/a", None, html, None, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    out = str(tmp_path_factory.mktemp("utf8_out"))
    run_with_lineage(spark, page, out, n_buckets=1)
    (row,) = spark.read.parquet(out + "/lineage").collect()
    assert row.n_bytes == len(text.encode("utf-8")) > len(text)


def test_split_buckets_survive_resume(spark, pages, tmp_path_factory):
    """The extracted write sizes its files by data: below the advisory
    partition size a bucket is split over several files. A resume must
    replace such a bucket's whole directory, and the ledger must not
    depend on how the buckets were split."""
    n_buckets = 8
    ref = str(tmp_path_factory.mktemp("ref_out"))
    run_with_lineage(spark, pages, ref, n_buckets=n_buckets)

    out = str(tmp_path_factory.mktemp("split_out"))
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        run_with_lineage(spark, pages, out, n_buckets=n_buckets)
    finally:
        spark.conf.set(key, prev)
    dirs = {int(d.name.split("=")[1]): d
            for d in pathlib.Path(out, "extracted").glob("bucket=*")}
    before = {b: _data_files(d) for b, d in dirs.items()}
    assert max(len(f) for f in before.values()) > 1, "no bucket was split"
    assert _ledger(spark, out) == _ledger(spark, ref)

    lost = [1, 3, 4, 6]
    _drop_from_ledger(spark, out, lost)
    r = run_with_lineage(spark, pages, out, n_buckets=n_buckets)
    assert r["processed_buckets"] == lost
    assert _ledger(spark, out) == _ledger(spark, ref)
    for b in lost:
        now = _data_files(dirs[b])
        assert now and not now & before[b], f"bucket {b} kept stale files"
    for b in set(dirs) - set(lost):
        assert _data_files(dirs[b]) == before[b]


def test_extraction_job_and_file_budget(spark, pages, tmp_path_factory):
    """Fixed costs of one extraction job: the pending set of a fresh job
    runs no Spark job, every run appends one ledger file, and neither the
    stage that reads the bucket shuffle nor any write runs more tasks than
    there are cores on a tiny corpus."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    tracker = spark.sparkContext.statusTracker()
    out = str(tmp_path_factory.mktemp("budget_out"))
    n_buckets = 8

    before = dag.numTotalJobs()
    assert pending_buckets(spark, n_buckets, out + "/lineage") == list(range(n_buckets))
    assert dag.numTotalJobs() == before, "pending_buckets ran a Spark job"

    def ledger_files():
        d = out + "/lineage"
        return [f for f in os.listdir(d) if f.endswith(".parquet")] if os.path.isdir(d) else []

    bucketed = with_bucket(pages, n_buckets)
    runs = []
    for upto in (3, 6, n_buckets):  # one fresh run, then two resumes
        first, n_files = dag.numTotalJobs(), len(ledger_files())
        r = run_with_lineage(
            spark, bucketed.filter(F.col("bucket") < upto).drop("bucket"),
            out, n_buckets=n_buckets)
        runs.append((r, range(first, dag.numTotalJobs())))
        assert len(ledger_files()) == n_files + 1, "a run must append one ledger file"
    assert [r["processed_buckets"] for r, _ in runs] == [
        list(range(n_buckets)), [3, 4, 5, 6, 7], [6, 7]]

    # the shuffled extraction result is read once, into the cache, and the
    # writes read the cache; the status store is fed asynchronously, and
    # once it is full it evicts skipped stages first (they never qualify)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    for _, jobs in runs:
        stages = sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds
                         if tracker.getStageInfo(s)})
        details = list(map(store.lastStageAttempt, stages))
        reads = [sd for sd in details if sd.shuffleReadBytes() > 0]
        writes = [sd for sd in details if sd.outputBytes() > 0]
        assert reads and len(writes) == 3
        for sd in reads + writes:
            assert sd.numTasks() <= sc.defaultParallelism, sd.name()


def _cache_entries(spark):
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def test_run_reads_back_nothing_it_wrote(spark, pages, tmp_path_factory, monkeypatch):
    """All three sinks are fed from one persisted extraction result: no run,
    fresh or resumed, reads its own `extracted` or `spans` output, and the
    persisted frame is released when the run returns."""
    from pyspark.sql.readwriter import DataFrameReader

    out = str(tmp_path_factory.mktemp("noreread_out"))
    n_buckets = 8
    read = []
    real_parquet = DataFrameReader.parquet

    def recording_parquet(self, *paths, **options):
        read.extend(paths)
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
    cached = _cache_entries(spark)
    run_with_lineage(spark, pages, out, n_buckets=n_buckets)
    assert _cache_entries(spark) == cached
    _drop_from_ledger(spark, out, [2, 5])
    r = run_with_lineage(spark, pages, out, n_buckets=n_buckets)
    assert r["processed_buckets"] == [2, 5]
    assert _cache_entries(spark) == cached
    own = [p for p in read if os.path.relpath(p, out).split(os.sep)[0]
           in ("extracted", "spans")]
    assert read and own == []


def test_failed_write_leaves_run_resumable(spark, pages, tmp_path_factory, monkeypatch):
    """A write that fails in one writer thread fails the run: no ledger row
    is appended, the persisted frame is released, and the next run
    processes every bucket into the same ledger as a clean run."""
    from no_ocr_spark.plans import lineage

    n_buckets = 8
    ref = str(tmp_path_factory.mktemp("fault_ref"))
    run_with_lineage(spark, pages, ref, n_buckets=n_buckets)

    out = str(tmp_path_factory.mktemp("fault_out"))
    real_spans = lineage.spans_table
    monkeypatch.setattr(lineage, "spans_table", lambda result: real_spans(result)
                        .withColumn("page", F.coalesce(
                            F.raise_error(F.lit("boom")).cast("int"), "page")))
    cached = _cache_entries(spark)
    with pytest.raises(Exception, match="boom"):
        run_with_lineage(spark, pages, out, n_buckets=n_buckets)
    assert _cache_entries(spark) == cached
    assert not os.path.exists(out + "/lineage")
    assert pending_buckets(spark, n_buckets, out + "/lineage") == list(range(n_buckets))

    monkeypatch.setattr(lineage, "spans_table", real_spans)
    r = run_with_lineage(spark, pages, out, n_buckets=n_buckets)
    assert r["processed_buckets"] == list(range(n_buckets))
    assert _ledger(spark, out) == _ledger(spark, ref)
    assert (spark.read.parquet(out + "/spans").count()
            == spark.read.parquet(ref + "/spans").count())


def test_run_names_its_jobs(spark, pages, tmp_path_factory):
    """Each phase of a run carries its own job description, the writer
    threads inherit the caller's job group, and the caller's description
    is unchanged afterwards."""
    sc = spark.sparkContext
    out = str(tmp_path_factory.mktemp("names_out"))
    sc.setJobGroup("lineage-names", "caller")
    try:
        run_with_lineage(spark, pages, out, n_buckets=4)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup("lineage-names")
    described = {store.job(j).description().get() for j in jobs}
    assert described == {"lineage: extract + write extracted",
                         "lineage: write spans", "lineage: append ledger"}
