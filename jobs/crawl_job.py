#!/usr/bin/env python
"""spark-submit entry point for the crawl engine (north rule: "ships via
spark-submit --py-files").

Package + run:

    python package.py                       # builds dist/llm_scraper_spark.zip
    spark-submit --py-files dist/llm_scraper_spark.zip jobs/crawl_job.py \\
        --state-dir /tmp/crawl_state --seeds 10000 --waves 3 --budget 32

On a real cluster, swap --master and point --state-dir at a shared
filesystem (the CrawlState layout is plain parquet dirs + a JSON ledger
committed by atomic rename, which is the single commit point).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--state-dir", required=True)
    ap.add_argument("--seeds", type=int, default=10_000)
    ap.add_argument("--hosts", type=int, default=256)
    ap.add_argument("--waves", type=int, default=3)
    ap.add_argument("--budget", type=int, default=32)
    ap.add_argument("--salts", type=int, default=16)
    ap.add_argument("--fetcher", choices=["synthetic", "http"], default="synthetic")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from llm_scraper_spark.crawl.waves import CrawlRun, http_fetcher, synthetic_fetcher
    from llm_scraper_spark.session import tune_session
    from llm_scraper_spark.sources.synthetic import synth_seeds

    spark = SparkSession.builder.appName("llm_scraper_spark_crawl").getOrCreate()
    tune_session(spark)

    fetcher = (
        synthetic_fetcher(n_hosts=args.hosts)
        if args.fetcher == "synthetic"
        else http_fetcher()
    )
    run = CrawlRun(
        spark, args.state_dir, fetcher=fetcher,
        default_budget=args.budget, n_salts=args.salts,
    )
    seeds = None
    if run.state.last_wave() is None:
        seeds = synth_seeds(spark, args.seeds, n_hosts=args.hosts)
    stats = run.run(args.waves, seeds=seeds)
    print(json.dumps({"waves": stats, "ledger": run.state.read_ledger()}))


if __name__ == "__main__":
    main()
