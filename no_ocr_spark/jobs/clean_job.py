"""spark-submit entry point for the post-extraction cleanup pipeline.

Full-table mode (reads the extract_job's `extracted` parquet):

    spark-submit --py-files dist/no_ocr_spark.zip \
      no_ocr_spark/jobs/clean_job.py --extracted /out/extracted --out /out2

INCREMENTAL mode (VERDICT r4 #6 — the Dolma-style curation loop): read
only the rows ADDED to the extract_job's snapshot table since the last
cleaned version, via the snapshot change feed:

    ... clean_job.py --snapshot-in /out/snap --out /out2

Incremental design (run_incremental):
  * `--out/clean_state.json` records `cleaned_through` (the snapshot
    version this output has consumed). Each run cleans exactly
    `read_incremental(cleaned_through, current)` — already-processed
    versions are never rescanned.
  * The cleaned delta lands in `out/clean/delta=v{from}_{to}/` (bucketed
    inside) and is OVERWRITTEN on re-run, so a crash between the delta
    write and the state update re-processes idempotently instead of
    duplicating rows. The partition-syntax dir name makes
    the combined dataset readable in one scan (basePath=out/clean, with
    `delta` and `bucket` as partition columns).
  * Cross-delta exact dedup: the in-delta cascade can't see earlier
    deltas, so each run appends its kept 8-byte text hashes to
    `out/hashes/delta=*` and the next delta anti-joins against them —
    exact, and the join moves only 8-byte keys (the Bloom bitset in
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
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from no_ocr_spark.operators.cleanup import clean_corpus
    from no_ocr_spark.sources import snaptable

    # out_dir may be any Hadoop URI (file://, hdfs://, s3a://): every
    # file op below goes through its FileSystem, not the local disk
    fs = snaptable._Fs(spark, out_dir)
    state_path = os.path.join(out_dir, "clean_state.json")
    from_v = 0
    if fs.exists(state_path):
        from_v = json.loads(fs.read_text(state_path))["cleaned_through"]
    to_v = snaptable.current_version(spark, snapshot_in)
    out: dict = {"mode": "incremental", "from_version": from_v,
                 "to_version": to_v}
    if to_v <= from_v:
        out.update({"n_in": 0, "noop": True})
        return out

    # A crashed run (state never advanced past from_v) may have left
    # delta dirs STARTING at from_v under a different end version (the
    # snapshot can advance between crash and re-run, changing the tag):
    # those rows were never committed to the ledger, so remove them —
    # leaving them would double every row they share with this run's
    # wider range in the combined delta=* dataset (review finding).
    for root in ("clean", "hashes"):
        for name in fs.listdir(os.path.join(out_dir, root)):
            if name.startswith(f"delta=v{from_v}_"):
                fs.delete(os.path.join(out_dir, root, name))

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
    # hash-ledger dirs from version ranges already consumed (end <=
    # from_v) — NOT any dir this very range wrote before a crash, which
    # would anti-join the re-run against its own output and empty it
    hashes = os.path.join(out_dir, "hashes")
    prev_deltas = sorted(
        os.path.join(hashes, d) for d in fs.listdir(hashes)
        if d.startswith("delta=") and int(d.rsplit("_", 1)[1]) <= from_v
    )
    if prev_deltas:
        prev = spark.read.parquet(*prev_deltas)
        clean = clean.join(
            prev, F.xxhash64(clean["text"]) == prev["th"], "left_anti"
        )
    tag = f"delta=v{from_v}_{to_v}"
    _write_clean(clean, n_buckets, os.path.join(out_dir, "clean", tag))
    stats = finalize()
    try:
        kept = spark.read.parquet(os.path.join(out_dir, "clean", tag))
        n_kept = kept.count()
    except AnalysisException:
        # an all-filtered delta (quality gates or the cross-delta
        # anti-join dropped every row) writes no data files, so schema
        # inference fails — that's a legitimate empty delta, and it must
        # still advance the state below (review finding: raising here
        # wedged the pipeline on the same delta forever)
        n_kept = 0
    if n_kept:
        (
            kept.select(F.xxhash64("text").alias("th")).distinct()
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "hashes", tag))
        )
    # state update is LAST: a crash anywhere above re-runs into the same
    # delta_* dirs (overwrite mode -> idempotent, no duplicated rows)
    fs.write_atomic(state_path, json.dumps({"cleaned_through": to_v}))
    out.update(stats)
    # n_clean from the observation counts in-delta survivors; the written
    # delta additionally excludes cross-delta dupes
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
        _write_clean(clean, args.n_buckets, os.path.join(args.out, "clean"))
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
