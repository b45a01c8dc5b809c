"""spark-submit entry point for the focused crawl (north rule: launched
via ``spark-submit --py-files`` on multi-executor clusters).

Local smoke:
    python jobs/package.py                       # builds dist/crawler.zip
    spark-submit --master local[8] \
        --py-files dist/crawler.zip \
        jobs/crawl.py --sf-dir /root/testdata/sf0.001 \
        --workdir /tmp/crawl --rounds 3 --capacity 64

Cluster (the same file, unchanged):
    spark-submit --master yarn --deploy-mode cluster \
        --num-executors 256 --executor-cores 4 --executor-memory 16g \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.shuffle.partitions=2048 \
        --py-files hdfs:///apps/crawler.zip \
        jobs/crawl.py --pages iceberg:crawl.pages --workdir hdfs:///crawl/run1 ...

The job is resumable: re-running with the same --workdir continues
from the last committed round (exact state, see sources/storage.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="PySpark focused crawl")
    ap.add_argument("--sf-dir", default=None,
                    help="testdata dir; fixtures (pages/seeds/robots/budgets) are derived")
    ap.add_argument("--pages", default=None, help="explicit pages table/path (overrides --sf-dir)")
    ap.add_argument("--seeds", default=None, help="seed list JSON path")
    ap.add_argument("--robots", default=None, help="robots parquet path")
    ap.add_argument("--host-budget", default=None, help="host_budget parquet path")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--capacity", type=int, default=1024)
    ap.add_argument("--seen-filter", choices=("none", "bloom", "cuckoo"), default="none",
                    help="advisory seen pre-filter: none, bloom (OR-merge bitsets) "
                         "or cuckoo (fingerprint table, supports deletion)")
    ap.add_argument("--bloom-shards", type=int, default=8)
    ap.add_argument("--bloom-bits", type=int, default=1 << 20, help="bits per Bloom shard")
    ap.add_argument("--cuckoo-buckets", type=int, default=1 << 17,
                    help="buckets per cuckoo shard (power of two, 4 slots each)")
    ap.add_argument("--text-index", action="store_true",
                    help="commit inverted-index postings deltas per round")
    ap.add_argument("--url-expansions", default=None,
                    help="(short_url, long_url) parquet mapping for shortener resolution")
    ap.add_argument("--max-pages-per-host", type=int, default=None,
                    help="cumulative per-host page quota across all rounds")
    ap.add_argument("--max-depth", type=int, default=None,
                    help="focused-crawl depth cap: links deeper than this "
                         "are observed but never enqueued (seeds = depth 0)")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--keywords", default=None, help="comma-separated topic keywords")
    ap.add_argument("--host-rank-weight", type=float, default=0.0,
                    help="blend host PageRank authority into dequeue priority (§2.1-7)")
    ap.add_argument("--host-rank-iters", type=int, default=5)
    ap.add_argument("--scorer", choices=("keywords", "topic_nb"), default="keywords",
                    help="page relevance scorer: keyword overlap or trained NB posterior")
    ap.add_argument("--nb-target-topic", default="databases")
    ap.add_argument("--user-agent", default="focused-crawler",
                    help="product token for RFC 9309 robots group selection "
                         "(used when --robots points at raw (host, content) bodies)")
    ap.add_argument("--recrawl", default=None, metavar="URLS_FILE",
                    help="maintenance mode: instead of crawling, commit ONE "
                         "recrawl round evicting the listed urls (JSON array "
                         "or one-per-line text) from the seen state so the "
                         "next crawl run fetches them again")
    ap.add_argument("--recrawl-score", type=float, default=0.0,
                    help="priority for the re-enqueued urls")
    ap.add_argument("--recrawl-age", type=int, default=None, metavar="ROUNDS",
                    help="maintenance mode: age-based refresh — evict every "
                         "url whose last fetch is >= ROUNDS rounds behind the "
                         "latest committed round (instead of an explicit "
                         "--recrawl victims file)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("focused-crawl").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from storm_focused_crawler_spark.driver import CrawlConfig, run_crawl
    from storm_focused_crawler_spark.fixtures.gen_pages import ensure, topic_keywords

    if args.sf_dir:
        paths = ensure(args.sf_dir)
    else:
        required = {"pages": args.pages, "seeds": args.seeds,
                    "robots": args.robots, "host_budget": args.host_budget}
        missing = [k for k, v in required.items() if not v]
        if missing:
            print(f"error: --sf-dir or all of {missing} required", file=sys.stderr)
            return 2
        paths = required

    if args.url_expansions:
        paths = dict(paths, url_expansions=args.url_expansions)

    kw = tuple(args.keywords.split(",")) if args.keywords else tuple(topic_keywords())
    cfg = CrawlConfig(rounds=args.rounds, capacity=args.capacity,
                      keywords=kw,
                      seen_filter=None if args.seen_filter == "none" else args.seen_filter,
                      bloom_shards=args.bloom_shards,
                      bloom_bits_per_shard=args.bloom_bits,
                      cuckoo_buckets_per_shard=args.cuckoo_buckets,
                      build_text_index=args.text_index,
                      host_rank_weight=args.host_rank_weight,
                      host_rank_iters=args.host_rank_iters,
                      scorer=args.scorer,
                      nb_target_topic=args.nb_target_topic,
                      user_agent=args.user_agent,
                      max_depth=args.max_depth,
                      max_pages_per_host=args.max_pages_per_host)
    t0 = time.time()
    if args.recrawl or args.recrawl_age is not None:
        import os

        from storm_focused_crawler_spark.driver import recrawl, refresh_victims
        from storm_focused_crawler_spark.sources.storage import ParquetSnapshotStore

        store = ParquetSnapshotStore(os.path.join(args.workdir, "state"))
        if args.recrawl:
            with open(args.recrawl) as f:
                body = f.read()
            try:
                victims = json.loads(body)
            except json.JSONDecodeError:
                victims = [ln.strip() for ln in body.splitlines() if ln.strip()]
            vdf = spark.createDataFrame([(u,) for u in victims], "url string")
        else:
            vdf = refresh_victims(spark, store, args.recrawl_age)
        n_victims = vdf.count()
        mnt = recrawl(spark, store, cfg, vdf, rescore=args.recrawl_score)
        print(json.dumps({"maintenance_round": mnt, "victims": n_victims,
                          "wall_sec": round(time.time() - t0, 2)}))
        spark.stop()
        return 0
    store = run_crawl(spark, paths, cfg, args.workdir, resume=not args.no_resume)
    last = store.latest_round()
    totals = {"rounds_committed": (last or 0) + 1, "wall_sec": round(time.time() - t0, 2)}
    for t in ("ordering", "results"):
        totals[t] = sum(store.manifest(r)["tables"].get(t, 0) for r in range((last or 0) + 1))
    print(json.dumps(totals))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
