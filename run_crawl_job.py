"""spark-submit entry point for the crawl engine.

On a real cluster:

    zip -r engine.zip scrapy_cluster_test_spark
    spark-submit --py-files engine.zip run_crawl_job.py \
        --data-dir /data/universe --job-dir /jobs/crawl1 \
        --n-images 10000000000

In-sandbox the same script runs under plain ``python`` (SparkSession
falls back to local[$SPARK_GRAFT_CPUS]). A killed job resumes from the
last committed epoch — just rerun the same command (Q14).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir", required=True, help="dir with images/seeds/domains/robots parquet")
    ap.add_argument("--job-dir", required=True)
    ap.add_argument("--n-images", type=int, required=True)
    ap.add_argument("--seller-cap", type=int, default=5000)
    ap.add_argument("--asin-cap", type=int, default=2000)
    ap.add_argument("--max-epochs", type=int, default=50)
    ap.add_argument("--compact-every", type=int, default=8)
    ap.add_argument("--fresh", action="store_true", help="ignore existing snapshots")
    ap.add_argument("--proxies", default=None,
                    help="parquet proxies table: lease one token per provider "
                         "at start, release on exit (S8)")
    ap.add_argument("--callback-url", default=os.environ.get("CALLBACK_URL"),
                    help="POST the result envelope here when done (K8)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from scrapy_cluster_test_spark.operators.sinks import write_callback_summary
    from scrapy_cluster_test_spark.plans import epoch as ep

    # under spark-submit an active session/context is provided; standalone
    # we build the local one
    try:
        spark = SparkSession.getActiveSession()
    except Exception:
        spark = None
    if spark is None:
        from scrapy_cluster_test_spark.session import get_spark

        spark = get_spark("sct-crawl-job")

    d = args.data_dir
    p = ep.CrawlParams(
        images_path=os.path.join(d, "images.parquet"),
        seeds_path=os.path.join(d, "seeds.parquet"),
        domains_path=os.path.join(d, "domains.parquet"),
        robots_path=os.path.join(d, "robots.parquet"),
        job_dir=args.job_dir,
        n_images=args.n_images,
        seller_cap=args.seller_cap,
        asin_cap=args.asin_cap,
        max_epochs=args.max_epochs,
        compact_every=args.compact_every,
        proxies_path=args.proxies,
    )
    t0 = time.perf_counter()
    summary = ep.run_crawl(spark, p, resume=not args.fresh)
    summary["wall_sec"] = round(time.perf_counter() - t0, 2)
    summary["urls_per_sec"] = round(summary["total_fetched"] / max(summary["wall_sec"], 1e-9), 1)
    write_callback_summary(os.path.join(args.job_dir, "SUMMARY.json"), summary)
    if args.callback_url:
        from scrapy_cluster_test_spark.operators.sinks import post_callback

        post_callback(
            args.callback_url,
            job_id=os.path.basename(args.job_dir.rstrip("/")),
            scraped_items_len=summary["total_fetched"],
            extra={"epochs": summary["epochs"]},
        )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
