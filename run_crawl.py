#!/usr/bin/env python
"""spark-submit entrypoint for the crawl engine (north_rule launch shape).

Cluster launch (the package ships itself via addPyFile, equivalently
pass --py-files):

    spark-submit --master spark://...:7077 \\
        [--py-files crawlers_spark.zip] run_crawl.py \\
        --seeds 1000 --hosts 64 --pages 2000 --generations 8 \\
        --checkpoint /data/crawl_ckpt --out /data/crawl_out

Local smoke: python run_crawl.py --seeds 50 --generations 3

Resumes from the newest checkpoint manifest with --resume; politeness,
retry, and lifetime-quota knobs mirror CrawlConfig. The synthetic web
stands in for the network layer (sources/synthweb.py); pointing the
fetch stage at a real fetcher is a one-function swap in
sources/fetcher.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--seeds", type=int, default=100)
    ap.add_argument("--hosts", type=int, default=32)
    ap.add_argument("--pages", type=int, default=400, help="base pages of host 0")
    ap.add_argument("--generations", type=int, default=5)
    ap.add_argument("--host-buckets", type=int, default=32)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--out", default=None, help="write pages/crawl_log/metrics here")
    ap.add_argument("--max-retries", type=int, default=0)
    ap.add_argument("--host-quota", type=int, default=None)
    ap.add_argument("--transient-fail-mod", type=int, default=0)
    args = ap.parse_args()

    from crawlers_spark.plans.crawl import CrawlConfig, CrawlPlan
    from crawlers_spark.session import get_spark
    from crawlers_spark.sources.synthweb import SynthWebConfig, make_seed_urls

    spark = get_spark("crawl")
    web = SynthWebConfig(
        n_hosts=args.hosts, base_pages=args.pages,
        transient_fail_mod=args.transient_fail_mod,
    )
    cfg = CrawlConfig(
        web=web,
        n_host_buckets=args.host_buckets,
        max_generations=args.generations,
        checkpoint_dir=args.checkpoint,
        max_retries=args.max_retries,
        total_budget_per_host=args.host_quota,
    )
    seeds = spark.createDataFrame(make_seed_urls(web, args.seeds))
    res = CrawlPlan(spark, cfg).run(seeds, resume=args.resume)

    if args.out:
        res.pages.write.mode("overwrite").parquet(os.path.join(args.out, "pages"))
        res.crawl_log.write.mode("overwrite").parquet(os.path.join(args.out, "crawl_log"))
        res.metrics.write.mode("overwrite").parquet(os.path.join(args.out, "metrics"))

    print(json.dumps({
        "generations": res.generations,
        "scheduled": res.total_scheduled,
        "fetched": res.total_fetched,
        "wall_s": round(res.wall_s, 2),
        "urls_per_sec": round(res.total_scheduled / max(res.wall_s, 1e-9), 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
