"""spark-submit entry point for the CONTINUOUS crawl loop.

Where jobs/crawl.py runs the round-batched engine, this drives
``streaming/live.live_crawl_generation`` — the reference's always-on
topology as chained checkpointed Structured Streaming queries with a
link feedback loop (see that module's docstring for the query graph).

Each invocation drains ``--generations`` generations with
``trigger(availableNow)``: generation k crawls whatever URL files are
in the frontier directory (seeds on the first run, plus every link
discovered by generation k-1).  State and source progress live in the
checkpoints under --workdir, so re-invoking the job — minutes or days
later, same or different process — continues exactly-once: nothing is
ever fetched twice, per-host budgets keep counting.  A deployment that
wants a truly-resident query swaps availableNow for
``trigger(processingTime=...)`` inside the module; this entry point is
the cron-shaped variant of the same loop.

Local smoke:
    spark-submit --master local[8] --py-files dist/crawler.zip \
        jobs/live.py --sf-dir /root/testdata/sf0.001 \
        --workdir /tmp/live --generations 3

Prints ONE JSON summary line (same contract as bench.py/jobs/*.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="continuous (streaming) focused crawl")
    ap.add_argument("--sf-dir", default=None,
                    help="testdata dir (pages + seeds fixtures)")
    ap.add_argument("--pages", default=None, help="explicit pages parquet path")
    ap.add_argument("--seeds", default=None, help="seed list JSON path")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--generations", type=int, default=3)
    ap.add_argument("--budget-per-host", type=int, default=4,
                    help="lifetime per-host politeness budget")
    ap.add_argument("--n-shards", type=int, default=32,
                    help="seen-state shards (state size per group = |seen|/shards)")
    ap.add_argument("--keywords", default=None, help="comma-separated topic keywords")
    ap.add_argument("--robots", default=None,
                    help="robots parquet: (host, prefix, allow) rules, legacy "
                         "(host, disallow_prefix), or raw (host, content) bodies "
                         "(parsed with RFC 9309 group selection for --user-agent)")
    ap.add_argument("--user-agent", default="focused-crawler")
    ap.add_argument("--min-interval-ms", type=int, default=0,
                    help="per-host crawl-delay: at most ceil(round-ms/interval) "
                         "fetches per host per generation")
    ap.add_argument("--round-ms", type=int, default=60_000)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("focused-crawl-live").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # one state-store task per seen shard (Spark's default is 200); a
    # restarted query keeps the count stored in its checkpoint
    spark.conf.set("spark.sql.shuffle.partitions", str(args.n_shards))

    from storm_focused_crawler_spark import spec
    from storm_focused_crawler_spark.fixtures.gen_pages import ensure, topic_keywords
    from storm_focused_crawler_spark.streaming import live

    if args.sf_dir:
        paths = ensure(args.sf_dir)
        pages, seeds_path = paths["pages"], paths["seeds"]
    elif args.pages and args.seeds:
        pages, seeds_path = args.pages, args.seeds
    else:
        print("error: --sf-dir or both --pages/--seeds required", file=sys.stderr)
        return 2

    kw = list(args.keywords.split(",")) if args.keywords else list(topic_keywords())
    frontier_dir = os.path.join(args.workdir, "frontier_in")
    if not os.path.exists(frontier_dir):
        with open(seeds_path) as f:
            seeds = sorted({spec.canon(u) for u in json.load(f)})
        spark.createDataFrame([(u,) for u in seeds], "url string").write.parquet(
            frontier_dir
        )

    corpus = spark.read.parquet(pages)
    robots = spark.read.parquet(args.robots) if args.robots else None
    t0 = time.time()
    for _ in range(args.generations):
        live.live_crawl_generation(
            spark, corpus, frontier_dir, args.workdir, kw,
            budget_per_host=args.budget_per_host, n_shards=args.n_shards,
            robots=robots, user_agent=args.user_agent,
            min_interval_ms=args.min_interval_ms, round_ms=args.round_ms,
        )
    results_dir = os.path.join(args.workdir, "results")
    n = n_urls = 0
    if os.path.exists(results_dir):
        r = spark.read.parquet(results_dir)
        n = r.count()
        n_urls = r.select("url").distinct().count()
    print(json.dumps({
        "generations": args.generations,
        "results_rows": n,
        "distinct_urls": n_urls,
        "wall_sec": round(time.time() - t0, 2),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
