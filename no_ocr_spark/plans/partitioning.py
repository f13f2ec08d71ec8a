"""Explicit partitioning, skew salting and the fan-out rule (SURVEY.md §4,
deliberate item 1); `materialize` is the engine's one plan barrier.

Three distinct concerns at 100 TB:

1. **Work distribution / resume units** — `with_bucket`: a STABLE partition
   key `bucket = pmod(xxhash64(url), n_buckets)`. url is unique, so buckets
   are uniform; stability across runs (pure function of url, unlike
   `spark_partition_id()`) is what makes per-bucket lineage + resume sound.

2. **Skewed-key aggregation** — a Common-Crawl-ish corpus has Zipf hosts
   (host0000 holds ~7% of all docs in the synthetic corpus), so any
   `groupBy(host)` has a hot key. `heavy_host_flags` detects the heavy
   hosts lazily, in the consuming DAG, and `salt_by_heavy_flags` fans out
   only those keys over `n_salts` partials. `salted_host_counts` (uniform
   two-stage salting) and `detect_heavy_hosts` (eager detection) are the
   reference formulations the lazy path is tested against.

3. **Fan-out before a CPU-heavy map** — `fan_out_for_cpu` is the engine's
   one place that decides whether to shuffle unkeyed raw rows to full
   parallelism before expensive per-row work. Keyed repartitions (which
   decide WHERE rows go, e.g. by bucket) are a different concern and stay
   with their operators.

Reference analogue: none — the reference is single-node (SURVEY.md §4);
this is mandated by the north rule ("partitioning / shuffle / skew handled
explicitly").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_bucket(df: DataFrame, n_buckets: int, url_col: str = "url") -> DataFrame:
    """Attach the stable url-hash bucket column (resume/work unit)."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)).cast("int")
    )


def host_of(url_col: str = "url"):
    """Column expr: host part of the url (built-in parse_url — JVM-side)."""
    return F.parse_url(F.col(url_col), F.lit("HOST"))


def salted_host_counts(pages: DataFrame, n_salts: int = 16) -> DataFrame:
    """Per-host doc counts + byte totals via two-stage salted aggregation.

    Equivalent result to `groupBy(host).count()` but with the hot host's
    work spread over `n_salts` reducers in stage 1.
    """
    salted = pages.select(
        host_of("url").alias("host"),
        F.pmod(F.xxhash64("url"), F.lit(n_salts)).alias("salt"),
        F.length("html").alias("n_bytes"),
    )
    partial = salted.groupBy("host", "salt").agg(
        F.count("*").alias("c"), F.sum("n_bytes").alias("b")
    )
    return partial.groupBy("host").agg(
        F.sum("c").alias("n_docs"), F.sum("b").alias("n_bytes")
    )


def detect_heavy_hosts(pages: DataFrame, min_share: float = 0.01) -> DataFrame:
    """Hosts holding more than `min_share` of the corpus (sampled, cheap):
    the candidates for salting when a host-keyed shuffle is unavoidable."""
    total = pages.count()
    return (
        salted_host_counts(pages)
        .filter(F.col("n_docs") >= F.lit(max(1, int(total * min_share))))
        .orderBy(F.desc("n_docs"))
    )


def heavy_host_flags(pages: DataFrame, min_share: float = 0.01) -> DataFrame:
    """LAZY heavy-host detection — the in-DAG replacement for
    detect_heavy_hosts().collect() (round-3 verdict: a plan BUILDER must
    never fire a driver-side Spark job; same rule as lsh_bits_for,
    retrieval.py). Returns a DataFrame of at most 1/min_share `host` rows;
    nothing executes until the consuming query runs, and the consumer
    broadcasts it (<= 100 rows by construction regardless of corpus size).

    The histogram is a plain groupBy(host).count(): map-side partial
    aggregation collapses each mapper's hot-key rows to ONE row before the
    shuffle, so a COUNT over a skewed key needs no salting — the salted
    two-stage form only pays off for wide/heavy aggregation states. The
    global total arrives via crossJoin(broadcast(1-row agg)) instead of a
    global window, which would funnel the full histogram (millions of
    hosts at crawl scale) through a single partition."""
    hist = (
        pages.select(host_of("url").alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n"))
    )
    total = hist.agg(F.sum("n").alias("total"))
    return (
        hist.crossJoin(F.broadcast(total))
        # same threshold semantics as detect_heavy_hosts:
        # n >= max(1, int(total * min_share))  (int() truncates; so does
        # the bigint cast)
        .filter(F.col("n") >= F.greatest(
            F.lit(1).cast("bigint"),
            (F.col("total") * F.lit(min_share)).cast("bigint"),
        ))
        .select("host")
    )


def salt_by_heavy_flags(df: DataFrame, heavy: DataFrame, n_salts: int = 16,
                        key_col: str = "host",
                        salt_source: str = "url") -> DataFrame:
    """Targeted salting driven by a LAZY heavy-key DataFrame: broadcast
    left join of the <= 1/min_share heavy rows onto df (no shuffle of df),
    then the targeted salt rule — detected keys fan over
    n_salts partials, the tail keeps salt 0. Composing this fires no job;
    detection executes as the broadcast build side of the consuming DAG."""
    flagged = df.join(
        F.broadcast(heavy.withColumn("_heavy", F.lit(True))),
        key_col, "left",
    )
    return flagged.withColumn(
        "salt",
        F.when(F.col("_heavy"),
               F.pmod(F.xxhash64(F.col(salt_source)), F.lit(n_salts)))
        .otherwise(F.lit(0)).cast("int"),
    ).drop("_heavy")


def fan_out_for_cpu(df: DataFrame, spark) -> DataFrame:
    """Shuffle `df`'s raw rows to full parallelism before a CPU-heavy
    per-row stage, unless the input already feeds every core.

    The one rule: return `df` unchanged when at least `defaultParallelism`
    scan tasks will receive rows, else `repartition(defaultParallelism)`.
    Tasks that receive rows are counted without running a Spark job:

    * parquet inputs: min(scan splits, row groups). A split only reads
      the row groups whose midpoint it holds, so a single-row-group file
      cut into many splits still runs in one task. Row groups come from
      the footers of `df.inputFiles()`; once the file count alone reaches
      the target no footer is read.
    * other exchange-free inputs (ranges, checkpoints, non-parquet files):
      the RDD partition count.
    * inputs with an exchange or a subquery below them: AQE fixes their
      partition count only at run time, and reading it would run a job,
      so they always fan out.

    At production scale a table is thousands of files and this is a no-op
    with zero shuffle; on a starved scan (the single-row-group bench
    tables) the raw rows move once, before any expensive column exists.
    """
    par = spark.sparkContext.defaultParallelism
    if _scan_tasks(df, par) >= par:
        return df
    return df.repartition(par)


def materialize(df: DataFrame) -> DataFrame:
    """The engine's one plan barrier: a lazy local checkpoint of `df`.

    Pin a frame that feeds two or more consumers of one plan, or every
    round of an iteration, when recomputing it is expensive. Without a
    barrier the rows stay identical but each consumer reruns the subtree
    (sf0.1, local[4]: `dedup_ngram_jaccard` 4.4 -> 78 s,
    `dedup_simhash_pairs` 2.0 -> 7.9 s, `warc_revisit_roundtrip`
    2.3 -> 4.4 s) and an iteration replays its lineage every round.

    Lazy, so composing runs no job of its own: the first job that reads
    the frame stores its blocks (e.g. a connected-components round's
    convergence count). Composing the 85 registered queries fires 237
    jobs with lazy barriers against 272 with eager ones; under AQE the
    exchanges below a barrier still run at compose. Not `cache()`: it was slower
    best-of-7 (`dedup_ngram_jaccard` 3.60 -> 4.51 s, `page_rasters`
    1.68 -> 2.00 s) and its entries outlive the query, so composing the
    same plan again reads the old blocks. The blocks die with their
    executor."""
    return df.localCheckpoint(eager=False)


def _scan_tasks(df: DataFrame, target: int) -> int:
    """Scan tasks of `df` that will receive rows (see fan_out_for_cpu);
    0 when the count is only known at run time. Counting stops at
    `target`."""
    qe = df._jdf.queryExecution()
    # get_spark() turns AQE on, and AQE roots every plan with an exchange
    # or a subquery (cached ones included) in an AdaptiveSparkPlan
    if qe.executedPlan().nodeName() == "AdaptiveSparkPlan":
        return 0
    tasks = qe.toRdd().getNumPartitions()
    files = df.inputFiles()
    if (tasks < target or not 0 < len(files) < target
            or not all(f.endswith(".parquet") for f in files)):
        return tasks
    import pyarrow.parquet as pq
    from pyarrow import fs

    row_groups = 0
    for uri in files:
        filesystem, path = fs.FileSystem.from_uri(uri)
        row_groups += pq.read_metadata(path, filesystem=filesystem).num_row_groups
        if row_groups >= target:
            break
    return min(tasks, row_groups)

