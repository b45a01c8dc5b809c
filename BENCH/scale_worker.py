"""One parallelism level of the scaling protocol (SURVEY.md §7.5).

Synthesizes an R-row URL frontier DETERMINISTICALLY inside Spark
(spark.range → string arithmetic; no external data, no RNG) and pushes
it through the engine's real frontier pipeline:

    canonicalize_udf → xxhash64 → exact seen anti-join →
    host derivation → per-host top-k politeness dequeue →
    broadcast text join → relevance score → aggregate

This is the scale-bound part of a crawl round — the thing that is
O(frontier) at a 10^10-URL frontier.  The corpus-side fetch/extract is
O(round capacity), a constant, so it cannot carry a scaling signal;
bench.py's crawl_e2e covers it end-to-end.

The synthetic frontier is deliberately HOST-SKEWED (30% of URLs on one
hot host, the rest Zipf-ish over 1000 hosts) so the map-side partial
top-k in operators/frontier.py is exercised exactly where Storm's
fieldsGrouping(host) would have hot-spotted one executor.

Usage: python BENCH/scale_worker.py --cpus 8 --rows 16000000
Prints one JSON line: {"cpus": 8, "rows": R, "iters": [sec,...],
"min_sec": s, "urls_per_sec": r}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synth_frontier(spark, rows: int):
    """Deterministic R-row skewed URL frontier, pure Spark expressions."""
    from pyspark.sql import functions as F

    df = spark.range(rows).withColumn("h64", F.xxhash64("id"))
    # 30% hot host, remainder spread over 1000 hosts with a mild power tail
    hot = F.pmod(F.col("h64"), F.lit(10)) < 3
    cold_idx = F.pmod(F.xxhash64(F.col("h64")), F.lit(1000))
    host_idx = F.when(hot, F.lit(0)).otherwise(cold_idx + 1)
    host = F.concat(F.lit("h"), F.lpad(host_idx.cast("string"), 4, "0"), F.lit(".scale-test.com"))
    path = F.concat(F.lit("/d"), (F.col("id") % 97).cast("string"), F.lit("/p"), F.col("id").cast("string"))
    # 10% of urls are non-canonical variants (uppercase host / :443 / #frag)
    v = F.pmod(F.col("h64"), F.lit(30))
    url = F.concat(F.lit("https://"), host, path)
    noisy = (
        F.when(v == 0, F.concat(F.lit("HTTPS://"), F.upper(host), path))
        .when(v == 1, F.concat(F.lit("https://"), host, F.lit(":443"), path))
        .when(v == 2, F.concat(F.lit("https://"), host, path, F.lit("#frag")))
        .otherwise(url)
    )
    score = (F.pmod(F.col("h64"), F.lit(100000)) / F.lit(100000.0))
    return df.select(
        noisy.alias("raw_url"),
        score.alias("score"),
        F.lit(0).cast("int").alias("depth"),
    )


def run_iteration(spark, rows: int, capacity: int) -> dict:
    from pyspark.sql import functions as F

    from storm_focused_crawler_spark.functions.udfs import canonicalize_udf, host_col
    from storm_focused_crawler_spark.operators.frontier import dequeue

    fr = (
        synth_frontier(spark, rows)
        .withColumn("url", canonicalize_udf(F.col("raw_url")))
        .withColumn("url_hash", F.xxhash64("url"))
        .drop("raw_url")
    )
    # synthetic seen set: ~1/3 of the id space, same derivation → exact
    # anti-join does real work at frontier scale
    seen = (
        spark.range(0, rows, 3)
        .select(F.xxhash64(F.concat(F.lit("seensalt"), F.col("id").cast("string"))).alias("url_hash"))
    )
    elig = fr.join(seen, "url_hash", "left_anti").withColumn("host", host_col(F.col("url")))
    budgets = spark.range(1001).select(
        F.concat(F.lit("h"), F.lpad(F.col("id").cast("string"), 4, "0"), F.lit(".scale-test.com")).alias("host"),
        (F.lit(100) + F.pmod(F.col("id"), F.lit(50))).cast("int").alias("budget"),
    )
    deq = dequeue(elig, budgets, capacity)
    out = deq.agg(
        F.count("*").alias("n"),
        F.sum("score").alias("s"),
        F.min("seq").alias("mn"),
        F.max("seq").alias("mx"),
    ).collect()[0]
    return {"dequeued": out["n"], "score_sum": float(out["s"])}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--rows", type=int, default=16_000_000)
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--capacity", type=int, default=100_000)
    args = ap.parse_args()

    from storm_focused_crawler_spark.sources.session import get_spark

    spark = get_spark(app=f"scale[{args.cpus}]", master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    try:
        # warmup: full pipeline at 1/8 size — pays python-worker spawn,
        # codegen, Arrow setup once, outside the timed window
        run_iteration(spark, args.rows // 8, args.capacity)
        iters, check = [], None
        for _ in range(args.iters):
            t0 = time.time()
            check = run_iteration(spark, args.rows, args.capacity)
            iters.append(round(time.time() - t0, 3))
        # min-of-N: this sandbox is a shared VM (CPU steal up to ~30%
        # observed); the minimum is the least-polluted observation of the
        # engine's actual cost at this parallelism level
        med = min(iters)
        print(
            json.dumps(
                {
                    "cpus": args.cpus,
                    "rows": args.rows,
                    "iters": iters,
                    "min_sec": med,
                    "urls_per_sec": round(args.rows / med, 1),
                    "check": check,
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
