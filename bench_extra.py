"""Extra benchmarks + plan capture for optimization rounds (guide §1).

NOT part of the frozen driver bench (bench.py); used to
  * dump .explain("formatted") for named registry queries into
    plans/r06/<name>_{before,after}.txt
  * time individual queries with the noop sink: min, median, [q1, q3]
    and n over 3 runs, after one untimed warm-up run of the first name

Per-layer attribution of the crawl and frontier paths is
`perfbench/run.py --trace 1`, which reads Spark's own job telemetry
over the shipped code.

Usage:
  python bench_extra.py plans  <before|after> <name> [name...]
  python bench_extra.py time   <name> [name...]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from storm_focused_crawler_spark.sources.session import get_spark  # noqa: E402


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
    # untimed warm-up: the first job in a session pays worker start-up
    # and codegen, which would otherwise land in the first op's samples
    with scope():
        qs[names[0]](spark, sf_dir).write.format("noop").mode("overwrite").save()
    for name in names:
        samples = []
        for _ in range(n):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            with scope():  # released after the timing
                t0 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples.append(round(time.time() - t0, 3))
        q1, med, q3 = statistics.quantiles(samples, n=4, method="inclusive")
        print(f"{name}: min {min(samples)}  median {med:.3f}  [q1, q3] [{q1:.3f}, {q3:.3f}]"
              f"  n {n}  samples {samples}")


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cmd = sys.argv[1]
    spark = get_spark(app=f"bench_extra:{cmd}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    try:
        if cmd == "plans":
            dump_plans(spark, sf_dir, sys.argv[2], sys.argv[3:])
        elif cmd == "time":
            time_queries(spark, sf_dir, sys.argv[2:])
        else:
            raise SystemExit(f"unknown cmd {cmd}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
