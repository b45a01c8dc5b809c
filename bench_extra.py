"""Extra benchmarks + plan capture for optimization rounds (guide §1).

NOT part of the frozen driver bench (bench.py); used to
  * dump .explain("formatted") for named registry queries into
    plans/r06/<name>_{before,after}.txt
  * time individual queries with the noop sink, min-of-N
  * time internal stages of the hot queries (each stage noop-executed
    in isolation) so optimizations target the real cost

Usage:
  python bench_extra.py plans  <before|after> <name> [name...]
  python bench_extra.py time   <name> [name...]      (min-of-3 noop)
  python bench_extra.py stages <ngram|simhash|minhash_inc|frontier>
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402  (frozen; reused for session + noop exec)


def _explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def dump_plans(spark, sf_dir, tag, names):
    import __spark_entry__ as entry

    qs = entry.queries()
    os.makedirs("plans/r06", exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        p = _explain_str(df)
        out = f"plans/r06/{name}_{tag}.txt"
        with open(out, "w") as f:
            f.write(p)
        print(f"wrote {out} ({len(p)} bytes)")


def time_queries(spark, sf_dir, names, n=3):
    import __spark_entry__ as entry

    from storm_focused_crawler_spark.sources.session import scope

    qs = entry.queries()
    for name in names:
        best, samples = float("inf"), []
        for _ in range(n):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            with scope():  # released after the timing
                t0 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                s = round(time.time() - t0, 3)
            samples.append(s)
            best = min(best, s)
        print(f"{name}: min {best}  samples {samples}")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def stages_ngram(spark, sf_dir):
    """Stage isolation for dedup_ngram_jaccard (shared with
    dedup_cluster_keeper's pair generation)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from storm_focused_crawler_spark.operators import dedup as D
    from storm_focused_crawler_spark.plans.queries import _spread, _t

    t = 0.3
    d = _spread(_t(spark, sf_dir, "documents"))

    def timed(label, fn):
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        print(f"  {label}: {best:.3f}s")

    sh = d.select("doc_id", D.shingles_col(F.col("text")).alias("shingles")).filter(
        F.size("shingles") >= 1
    )
    timed("shingles only", lambda: _noop(sh))
    ex = sh.select("doc_id", F.explode("shingles").alias("s"), F.size("shingles").alias("n"))
    timed("explode", lambda: _noop(ex))
    dfreq = ex.groupBy("s").agg(F.count("*").alias("dfreq"))
    timed("dfreq agg", lambda: _noop(dfreq))
    w = Window.partitionBy("doc_id").orderBy(F.col("dfreq").asc(), F.col("s").asc())
    prefix = (
        ex.join(dfreq, "s")
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= F.col("n") - F.ceil(t * F.col("n")) + 1)
        .select("doc_id", "s", "n")
    )
    timed("prefix (join+window)", lambda: _noop(prefix))
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(
            (F.col("a.n") >= F.ceil(t * F.col("b.n")))
            & (F.col("b.n") >= F.ceil(t * F.col("a.n")))
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    timed("candidates (self-join+distinct)", lambda: _noop(cand))
    print("  n_cand:", cand.count())
    v = (
        cand.join(sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sa")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sb")), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
    )
    timed("verify join", lambda: _noop(v))


def stages_simhash(spark, sf_dir):
    from pyspark.sql import functions as F

    from storm_focused_crawler_spark.operators import dedup as D
    from storm_focused_crawler_spark.plans.queries import _t

    d = _t(spark, sf_dir, "documents")
    s = d.select("doc_id", D.simhash_col(F.col("text")).alias("sh"))
    t0 = time.time()
    _noop(s)
    print(f"  signature only: {time.time()-t0:.3f}s")
    t0 = time.time()
    _noop(D.simhash_near_pairs(d, "doc_id", "text", max_hamming=12))
    print(f"  full: {time.time()-t0:.3f}s")


def stages_frontier(spark, sf_dir):
    from pyspark.sql import functions as F

    from BENCH.scale_worker import synth_frontier
    from storm_focused_crawler_spark.functions.udfs import canonicalize_udf, host_col
    from storm_focused_crawler_spark.operators.frontier import dequeue

    rows = 16_000_000

    def timed(label, fn):
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        print(f"  {label}: {best:.3f}s")

    raw = synth_frontier(spark, rows)
    timed("synth only", lambda: _noop(raw))
    fr = (
        raw.withColumn("url", canonicalize_udf(F.col("raw_url")))
        .withColumn("url_hash", F.xxhash64("url"))
        .drop("raw_url")
    )
    timed("synth+canon+hash", lambda: _noop(fr))
    seen = (
        spark.range(0, rows, 3)
        .select(F.xxhash64(F.concat(F.lit("seensalt"), F.col("id").cast("string"))).alias("url_hash"))
    )
    elig = fr.join(seen, "url_hash", "left_anti").withColumn("host", host_col(F.col("url")))
    timed("…+anti-join+host", lambda: _noop(elig))
    budgets = spark.range(1001).select(
        F.concat(F.lit("h"), F.lpad(F.col("id").cast("string"), 4, "0"), F.lit(".scale-test.com")).alias("host"),
        (F.lit(100) + F.pmod(F.col("id"), F.lit(50))).cast("int").alias("budget"),
    )
    deq = dequeue(elig, budgets, 100_000)
    timed("…+dequeue (full)", lambda: _noop(deq))


STAGES = {
    "ngram": stages_ngram,
    "simhash": stages_simhash,
    "frontier": stages_frontier,
}


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cmd = sys.argv[1]
    spark = bench.build_session(cpus, app=f"bench_extra:{cmd}")
    try:
        if cmd == "plans":
            dump_plans(spark, sf_dir, sys.argv[2], sys.argv[3:])
        elif cmd == "time":
            time_queries(spark, sf_dir, sys.argv[2:])
        elif cmd == "stages":
            for name in sys.argv[2:]:
                print(f"== stages: {name} ==")
                STAGES[name](spark, sf_dir)
        else:
            raise SystemExit(f"unknown cmd {cmd}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
