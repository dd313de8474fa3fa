"""Production job entry point for spark-submit.

    spark-submit --master <master> --py-files vyperdatum_spark.zip \\
        tools/run_job.py --pages /path/pages_parquet --out /path/out \\
        --from-datum ellipse --to-datum mllw --run-id r1 \\
        [--buckets 64] [--allow-outside] [--knn]

Reads the Common-Crawl-shaped pages table, geoparses coordinates,
transforms z between vertical datums, and writes the enrichment table
(keyed by url; the pages table itself is never rewritten) with
bucket-level checkpoint/resume and per-partition metrics
(north_rule: resumable, lineage, metrics).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F

from vyperdatum_spark.engine import checkpoint as ck, geoparse, transform as tx
from vyperdatum_spark.session import get_spark


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--pages", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--from-datum", default="ellipse")
    p.add_argument("--to-datum", default="mllw")
    p.add_argument("--run-id", required=True)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--allow-outside", action="store_true")
    p.add_argument("--knn", action="store_true")
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args(argv)

    spark = get_spark(app_name=f"vyperdatum-{args.run_id}", cores=args.cores)
    pages = spark.read.parquet(args.pages)

    def transform_fn(s, bucket_df):
        parsed = geoparse.geoparse(bucket_df).filter(F.col("x").isNotNull())
        return tx.transform_points(
            s, parsed, args.from_datum, args.to_datum,
            key_col="url",
            allow_points_outside_coverage=args.allow_outside,
            knn_fallback=args.knn,
            include_lineage=True,
        ).select(
            "url", "warc_ts", "x", "y", "z", "cell5",
            "region_id", "region_ord", "sep", "z_out", "unc",
            "covered", "pipeline_str",
        )

    done = ck.run_with_checkpoint(
        spark, pages, transform_fn, args.out, args.run_id,
        key_col="url", n_buckets=args.buckets,
    )
    print(f"run {args.run_id}: processed {done} new buckets -> {args.out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
