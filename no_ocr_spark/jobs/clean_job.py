"""spark-submit entry point for the post-extraction cleanup pipeline.

Full-table mode (reads the extract_job's `extracted` parquet):

    spark-submit --py-files dist/no_ocr_spark.zip \
      no_ocr_spark/jobs/clean_job.py --extracted /out/extracted --out /out2

INCREMENTAL mode (VERDICT r4 #6 — the Dolma-style curation loop): read
only the rows ADDED to the extract_job's snapshot table since the last
cleaned version, via the snapshot change feed:

    ... clean_job.py --snapshot-in /out/snap --out /out2

Incremental design (run_incremental): the output is one snapshot table
at `--out/clean` (sources/snaptable.py), and each run is ONE append
commit.
  * The commit's props carry `cleaned_through` (the input snapshot
    version this output has consumed), so resume and the no-op check read
    only table metadata. Each run cleans exactly
    `read_incremental(cleaned_through, current)`; consumed versions are
    never rescanned.
  * Rows and resume pointer land in that one atomic commit. A crash
    before it leaves an unreferenced `data/<uuid>` no reader sees (and
    `vacuum` removes once aged); the re-run starts again from the same
    committed version, and cleans whatever the input holds by then.
  * The commit is pinned to the version `cleaned_through` was read from:
    if another run committed since, this one conflict-fails and appends
    nothing, so two runs of one range never both land.
  * Cross-delta exact dedup: the in-delta cascade can't see earlier
    deltas, so every committed row stores `th = xxhash64(text)` and the
    next delta anti-joins against the table's `th` column alone — exact,
    and the join moves only 8-byte keys (the Bloom bitset in
    operators/bloom.py is the probabilistic pre-filter swap when even
    the hash table must stay out of the join).

Either mode runs quality gates -> repetition gate -> [optional CCNet
perplexity gate, `--ppl-max-bits`] -> exact dedup -> MinHash-LSH
near-dup removal (operators/cleanup.py), writes the `clean`
table bucketed by url-hash, and prints one JSON line of per-stage
survivor counts (the exact-dedup and clean counts ride the write action
as plan observations — no extra count() passes).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import uuid


def _write_clean(clean, n_buckets: int, path: str) -> None:
    from no_ocr_spark.plans.partitioning import with_bucket

    # keyed on the bucket alone: each bucket lands in one task (one file
    # per bucket dir), and the session's shuffle partitioning sets the
    # task count
    (
        with_bucket(clean, n_buckets)
        .repartition("bucket")
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(path)
    )


def run_incremental(spark, snapshot_in: str, out_dir: str,
                    n_buckets: int = 32, min_tokens: int = 10,
                    ppl_max_bits: float | None = None) -> dict:
    """One incremental cleaning step; see module docstring. Returns the
    stats JSON (noop=True when the snapshot has no new versions)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from no_ocr_spark.operators.cleanup import clean_corpus
    from no_ocr_spark.plans.partitioning import with_bucket
    from no_ocr_spark.sources import snaptable

    # out_dir may be any Hadoop URI (file://, hdfs://, s3a://)
    table = out_dir.rstrip("/") + "/clean"
    hist = snaptable.history(spark, table)
    base_v = hist[-1]["id"] if hist else 0
    from_v = hist[-1]["props"]["cleaned_through"] if hist else 0
    to_v = snaptable.current_version(spark, snapshot_in)
    out: dict = {"mode": "incremental", "from_version": from_v,
                 "to_version": to_v}
    if to_v <= from_v:
        out.update({"n_in": 0, "noop": True})
        return out

    # pin the range END to the probed version: a commit landing between
    # the probe and this read must wait for the next run, or its rows
    # would be cleaned now AND re-cleaned later (near-dup losers could
    # survive the re-run — review finding)
    delta = snaptable.read_incremental(spark, snapshot_in, from_v,
                                       to_version=to_v)
    if "bucket" in delta.columns:
        delta = delta.drop("bucket")
    clean, stats = clean_corpus(delta, min_tokens=min_tokens,
                                ppl_max_bits=ppl_max_bits)
    finalize = stats.pop("_finalize")
    clean = clean.withColumn("th", F.xxhash64("text"))
    if base_v:
        prev = snaptable.read(spark, table, version=base_v).select("th")
        clean = clean.join(prev, clean["th"] == prev["th"], "left_anti")
    obs_kept = Observation(f"kept_{uuid.uuid4().hex[:8]}")
    clean = clean.observe(obs_kept, F.count(F.lit(1)).alias("n"))
    # keyed on the bucket alone: each bucket's rows land in one task's file
    try:
        snaptable.write(spark, table,
                        with_bucket(clean, n_buckets).repartition("bucket"),
                        props={"cleaned_through": to_v}, base_version=base_v)
    except BaseException:
        finalize(failed=True)
        raise
    stats = finalize()
    n_kept = int(obs_kept.get["n"])
    out.update(stats)
    # n_clean from the observation counts in-delta survivors; the commit
    # additionally excludes cross-delta dupes
    out["n_cross_delta_dupes"] = stats["n_clean"] - n_kept
    out["n_clean"] = n_kept
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--extracted", help="extracted parquet (full-table)")
    src.add_argument("--snapshot-in",
                     help="snapshot-table path (incremental change-feed)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--min-tokens", type=int, default=10)
    ap.add_argument("--ppl-max-bits", type=float, default=None,
                    help="optional CCNet-style perplexity gate: drop "
                         "docs above this mean bits-per-bigram")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from no_ocr_spark.operators.cleanup import clean_corpus
    from no_ocr_spark.session import get_spark

    spark = get_spark(app="clean_job", master=args.master)
    t0 = time.time()
    out = {"job": "clean", "master": spark.sparkContext.master}

    if args.snapshot_in:
        out.update(run_incremental(spark, args.snapshot_in, args.out,
                                   args.n_buckets, args.min_tokens,
                                   args.ppl_max_bits))
    else:
        extracted = spark.read.parquet(args.extracted)
        if "bucket" in extracted.columns:
            extracted = extracted.drop("bucket")
        clean, stats = clean_corpus(extracted, min_tokens=args.min_tokens,
                                    ppl_max_bits=args.ppl_max_bits)
        finalize = stats.pop("_finalize")
        try:
            _write_clean(clean, args.n_buckets, os.path.join(args.out, "clean"))
        except BaseException:
            finalize(failed=True)
            raise
        out.update(finalize())

    wall = time.time() - t0
    out["wall_sec"] = round(wall, 3)
    n_in = out.get("n_in", 0)
    out["docs_per_sec"] = round(n_in / wall, 1) if wall and n_in else None
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
