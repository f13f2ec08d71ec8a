"""spark-submit entry point for the extraction pipeline (BASELINE.json
north_rule: `spark-submit --py-files dist/no_ocr_spark.zip
no_ocr_spark/jobs/extract_job.py --sf 0.1 --out /tmp/out`).

Runs: synthesize-or-load pages -> url-hash bucket -> Arrow-batched extract
-> write extracted+spans+lineage (checkpoint-resumable). Prints one JSON
line with docs/sec throughput.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="existing pages parquet path")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--master", default=None)
    ap.add_argument("--snapshot", default=None,
                    help="snapshot-table path (Iceberg-semantics format, "
                         "sources/snaptable.py): each run commits its "
                         "processed buckets as one new version; resume "
                         "no-ops commit nothing")
    ap.add_argument("--page-images", default=None,
                    help="also render per-page JPEGs for PDF documents "
                         "into this parquet dir (the reference's page-"
                         "image ingest artifact; operators/page_images)")
    ap.add_argument("--page-images-dpi", type=int, default=96)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from no_ocr_spark.session import get_spark
    from no_ocr_spark.plans.lineage import run_with_lineage
    from no_ocr_spark.sources.synth_spark import materialize_pages

    spark = get_spark(app="extract_job", master=args.master)
    pages_path = args.pages or materialize_pages(spark, args.sf)
    pages = spark.read.parquet(pages_path)

    t0 = time.time()
    res = run_with_lineage(spark, pages, args.out, n_buckets=args.n_buckets)
    snap_version = None
    if args.snapshot:
        from no_ocr_spark.plans.lineage import snapshot_extracted

        snap_version = snapshot_extracted(
            spark, args.out, args.snapshot, res["processed_buckets"]
        )
    wall = time.time() - t0
    # docs this run extracted: its wall covers only the processed buckets
    n_docs = sum(r.n_docs for r in spark.read.parquet(args.out + "/lineage")
                 .filter(F.col("bucket").isin(res["processed_buckets"]))
                 .select("n_docs").collect())
    out = {
        "job": "extract",
        "n_docs": n_docs,
        "wall_sec": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 1),
        "buckets": len(res["processed_buckets"]),
        "master": spark.sparkContext.master,
    }
    if args.snapshot:
        out["snapshot_version"] = snap_version
    if args.page_images:
        from no_ocr_spark.operators.page_images import page_images

        imgs = page_images(pages, dpi=args.page_images_dpi)
        imgs.write.mode("overwrite").parquet(args.page_images)
        out["n_page_images"] = spark.read.parquet(args.page_images).count()
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
