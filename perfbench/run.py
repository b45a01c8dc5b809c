"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl|frontier --seed N --seconds S --trace 0|1

Runs from the root of a checkout.  One driver process, Spark at
``local[nproc]``, a closed loop: the next pass starts when the previous
one has finished, until ``--seconds`` have elapsed (at least one pass).
Every file it writes lives under ``.perfbench_work/`` in the checkout and
is removed at exit; Spark, its JVM and its Python workers are stopped and
waited for before the result is printed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics (``--trace 0``) or
the per-layer metrics (``--trace 1``) of BENCHMARK.json.  The lines
before it name the same numbers the way a reader wants them, plus the
generated input properties and, when traced, the span tree.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

T_START = time.time()  # setup_s runs from here to the end of the warm-up

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"
REPORTED_CONF = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                 "spark.default.parallelism", "spark.sql.adaptive.enabled",
                 "spark.sql.autoBroadcastJoinThreshold")


def _env(work: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside *work*."""
    d = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse", "events")}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    os.environ.update({
        "TMPDIR": d["tmp"],
        "SPARK_LOCAL_DIRS": d["local"],
        "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        # no JVM perf-data file under /tmp, for spark-submit's launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    return d


def _session(cores: int, dirs: dict, traced: bool):
    from storm_focused_crawler_spark.sources.session import get_spark

    import spans as tr

    extra = {
        "spark.default.parallelism": str(cores),
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        extra.update(tr.EVENTLOG_CONF)
        extra["spark.eventLog.dir"] = "file://" + dirs["events"]
    spark = get_spark(app="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def steal_share(since: tuple[int, int]) -> float:
    """Share of the busy CPU time since *since* that the host stole.

    Printed beside the walls as a diagnostic of a shared host; the
    walls themselves are reported as measured."""
    busy0, steal0 = since
    busy, steal = cpu_jiffies()
    return (steal - steal0) / max(1, busy - busy0 + steal - steal0)


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and every process under it ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    procs = _descendants(proc.pid) if proc is not None else set()
    spark.stop()
    gw.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.time() + 30
    while procs and time.time() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in procs:
        os.kill(p, 9)


def heap_used_mb(spark) -> float:
    """Live JVM heap after a forced full GC."""
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    dirs = _env(work)
    sys.path[:0] = [HERE, ROOT]
    try:
        return _run(args, work, dirs)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run(args, work: str, dirs: dict) -> int:
    # the engine package must be importable from the checkout; without it
    # this import fails and the run exits non-zero before any result
    import report
    import spans as tr
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    traced = bool(args.trace)
    phases: dict[str, float] = {}
    t_phase = time.time()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.time()
        phases[name] = now - t_phase
        t_phase = now

    setup_jiffies = cpu_jiffies()
    wl = workloads.WORKLOADS[args.workload](args.seed, os.path.join(work, "data"))
    # inputs that need no Spark are made while the JVM starts
    with ThreadPoolExecutor(max_workers=1) as pool:
        offline = pool.submit(wl.offline_inputs)
        spark = _session(cores, dirs, traced)
    stopped = False
    try:
        offline.result()
        phase("session")
        wl.spark = spark
        wl.tracer = tracer = tr.Tracer(f"{args.workload}-{args.seed}", spark.sparkContext,
                                       enabled=traced)
        wl.setup()
        phase("setup")

        attempted = failed = 0
        mismatches: list[str] = []

        def gate(fn) -> None:
            nonlocal attempted, failed
            attempted += 1
            try:
                bad = fn()
            except Exception:  # a failed operation is counted, not fatal
                bad = [traceback.format_exc(limit=3)]
            if bad:
                failed += 1
                mismatches.extend(bad)

        gate(wl.warmup)
        phase("warmup")
        setup_s, setup_steal = time.time() - T_START, steal_share(setup_jiffies)
        heap0, rdds0 = heap_used_mb(spark), persisted_rdds(spark)
        passes = []
        t_start = time.time()
        while not passes or time.time() - t_start < args.seconds:
            jiffies0 = cpu_jiffies()
            p = wl.run_pass(len(passes))
            p.steal_share = steal_share(jiffies0)
            passes.append(p)
        phase("timed")
        for p in passes:
            gate(lambda p=p: wl.check(p))
        phase("checks")
        session = {
            "session.start_s": phases["session"],
            "session.retained_mb": heap_used_mb(spark) - heap0,
            "session.persisted_rdds": persisted_rdds(spark) - rdds0,
        }
        spark_conf = {k: spark.conf.get(k, None) for k in REPORTED_CONF}
        layer = None
        if traced:
            layer = wl.layers(passes[-1])
            gate(lambda: layer["mismatches"])
        phase("layers")
        _stop(spark)
        phase("stop")
        stopped = True
    finally:
        if not stopped:
            _stop(spark)

    for m in mismatches:
        print(f"MISMATCH {args.workload}: {m}", file=sys.stderr)
    summary = report.summary(args.workload, spark_conf, setup_s, passes, attempted, failed, wl)
    summary["phases_s"] = phases
    summary["steal_share_setup"] = setup_steal
    print(json.dumps({"summary": summary}))
    if traced:
        events = tr.read_event_log(dirs["events"])
        detail, metrics = report.traced(args.workload, cores, tracer.spans, events,
                                        passes, layer, session)
        print(json.dumps({"trace": detail}))
    else:
        metrics = report.end_to_end(setup_s, passes)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
