"""The benchmark's workloads, driven through the engine's public functions.

Each workload has the same life cycle, run by ``run.py``:

    offline_inputs()  seeded inputs that need no Spark (on a thread while
                      the Spark session starts)
    setup()           seeded inputs written with Spark, and the engine's
                      own preparation (the crawl's corpus)
    warmup()          one untimed pass, checked against the reference
    run_pass(i)       one timed pass → Pass
    check(p)          correctness of a timed pass (outside the timing)
    layers(p)         traced-only calls into the frontier layer

``setup_s`` is the wall from process start to the end of ``warmup()``:
session start, input generation (the crawl oracle included), set-up and
the warm-up pass, once per run.

``crawl``: multi-round ``driver.run_crawl`` over a seeded page
corpus; the only workload that writes (``storage.write_round``
every round) and its frontier is tiny (a few thousand rows), so it is bound by
the fixed per-round cost.  ``frontier``: the O(frontier) path
canonicalize → hash → ``frontier.eligible`` → ``frontier.dequeue`` →
aggregate over a 1.2M-row host-skewed frontier, sized so that work
proportional to the frontier outweighs the pass's fixed cost (15 jobs,
plan-time scalar collects).
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

import gates
import inputs
import spans as tr
from storm_focused_crawler_spark import driver as drv
from storm_focused_crawler_spark.fixtures import gen_pages
from storm_focused_crawler_spark.functions.udfs import canonicalize_udf
from storm_focused_crawler_spark.operators import frontier as fo
from storm_focused_crawler_spark.sources.storage import ParquetSnapshotStore


@dataclasses.dataclass
class Pass:
    wall: float                 # seconds
    rows: int                   # rows behind urls_per_s
    steps: list[float]          # step latencies (crawl rounds / the pass)
    out: object = None          # what check() inspects
    span: int | None = None     # root span id when traced
    steal_share: float = 0.0    # share of busy CPU time the host stole


def sink(df) -> None:
    """Execute *df* fully without collecting rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _empty_robots(spark):
    return spark.createDataFrame([], "host string, disallow_prefix string")


def _observed(df, name: str):
    o = Observation(name)
    return df.observe(o, F.count(F.lit(1)).alias("n")), o


def frontier_layer(spark, tracer, fr, seen, robots, host_budget, capacity,
                   n_salts, max_budget) -> dict:
    """Prefix-differenced spans over canonicalize → eligible → dequeue.

    *fr* already applies ``udfs.canonicalize_udf``.  Each prefix is
    executed to a sink inside its own span, so the layer cost is the
    difference of consecutive prefixes.  Row counts are observed during
    those sinks; one extra job, eligibility against an empty robots
    table, splits the rows the seen anti-join removes from those the
    robots filter removes.
    """
    fr_in, o_in = _observed(fr, "rows_in")
    elig, o_elig = _observed(fo.eligible(fr_in, seen, robots), "eligible")
    deq, o_deq = _observed(
        fo.dequeue(elig, host_budget, capacity, n_salts=n_salts, max_budget=max_budget),
        "dequeued")
    spans = {}
    for name, df in (("udfs.canonicalize", fr_in), ("frontier.eligible", elig),
                     ("frontier.dequeue", deq)):
        with tracer.span(name) as s:
            sink(df)
        spans[name] = s["id"]
    n_in, n_elig = o_in.get["n"], o_elig.get["n"]
    n_seen_only = fo.eligible(fr, seen, _empty_robots(spark)).count()
    return {"spans": spans, "rows_in": n_in, "seen_removed": n_in - n_seen_only,
            "robots_removed": n_seen_only - n_elig, "eligible": n_elig,
            "dequeued": o_deq.get["n"]}


# --------------------------------------------------------------------------
# crawl
# --------------------------------------------------------------------------

class Crawl:
    """A 2-round crawl whose round 0 (seed injection) is the untimed
    warm-up; each timed pass resumes a copy of that round-0 state and
    crawls round 1, a steady-state round."""

    name = "crawl"
    ROUNDS = 2
    CAPACITY = 2000

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.cfg = drv.CrawlConfig(rounds=self.ROUNDS, capacity=self.CAPACITY,
                                   keywords=tuple(gen_pages.topic_keywords()))

    def offline_inputs(self) -> None:
        self.paths = inputs.crawl_fixture(self.seed, os.path.join(self.work, "inputs"))
        self.oracle = gates.crawl_oracle(self.paths, self.ROUNDS, self.CAPACITY,
                                         self.cfg.keywords)

    def setup(self) -> None:
        self.round0 = os.path.join(self.work, "round0")
        drv.prepare_corpus(self.spark, self.paths["pages"], self.round0, self.cfg.url_buckets)

    def warmup(self) -> list[str]:
        # round 0 at full size also pays the JVM/Python-worker/codegen
        # warm-up on the crawl's code paths (a smaller round leaves the
        # JIT cold); run_crawl reuses the corpus prepared in set-up
        drv.run_crawl(self.spark, self.paths, dataclasses.replace(self.cfg, rounds=1),
                      self.round0, resume=False)
        return []

    def run_pass(self, i: int) -> Pass:
        wd = os.path.join(self.work, f"pass{i}")
        shutil.copytree(self.round0, wd)
        with self._instrumented(), self.tracer.span("driver.run_crawl") as root:
            t0 = time.time()
            store = drv.run_crawl(self.spark, self.paths, self.cfg, wd, resume=True)
            t1 = time.time()
        manifests = [store.manifest(r) for r in range(1, self.ROUNDS)]
        stamps = [t0] + [m["committed_at"] for m in manifests]
        return Pass(
            wall=t1 - t0,
            rows=sum(m["tables"]["results"] for m in manifests),
            steps=[b - a for a, b in zip(stamps, stamps[1:])],
            out=store,
            span=root["id"],
        )

    def check(self, p: Pass) -> list[str]:
        engine = gates.read_crawl_state(p.out.root, self.ROUNDS)
        return gates.crawl_mismatches(engine, self.oracle)

    @contextlib.contextmanager
    def _instrumented(self):
        """Spans around the crawl's calls into driver.run_round and
        storage.write_round (traced runs only)."""
        if not self.tracer.enabled:
            yield
            return
        tracer = self.tracer
        run_round, write_round = drv.run_round, ParquetSnapshotStore.write_round

        def traced_run_round(*a, **k):
            with tracer.span("driver.run_round", rnd=a[7]):
                return run_round(*a, **k)

        def traced_write_round(store, rnd, tables):
            with tracer.span("storage.write_round", rnd=rnd):
                return write_round(store, rnd, tables)

        drv.run_round, ParquetSnapshotStore.write_round = traced_run_round, traced_write_round
        try:
            yield
        finally:
            drv.run_round, ParquetSnapshotStore.write_round = run_round, write_round

    def layers(self, p: Pass) -> dict:
        """Frontier-layer calls on each round's committed snapshots:
        eligibility of round r's carried frontier against seen ≤ r."""
        spark, store = self.spark, p.out
        robots = spark.read.parquet(self.paths["robots"])
        budget = spark.read.parquet(self.paths["host_budget"])
        max_budget = budget.agg(F.max("budget")).collect()[0][0]
        per_round = []
        for r in range(self.ROUNDS - 1):
            with self.tracer.span("frontier.round_snapshot", rnd=r):
                # snapshot urls are canonical already: canonicalizing
                # them again costs the layer's fast path at crawl scale
                fr = store.read(spark, r, "frontier")
                fr = fr.withColumn("url", canonicalize_udf(F.col("url")))
                per_round.append(frontier_layer(
                    spark, self.tracer, fr, store.read_union(spark, r, "seen"), robots,
                    budget, self.CAPACITY, self.cfg.n_salts, max_budget))
        return {"per_round": per_round, "mismatches": []}


def round_spans(spans: list[dict], root: int) -> list[dict]:
    """Split a traced run_crawl span into one span per round.

    Round r runs from the start of run_round(r) to the start of
    run_round(r+1) (the last round to the end of the crawl); its
    run_round and write_round spans become its children, so plan +
    write_round + rest (the round's self time) equals the round wall.
    """
    kids = tr.children(spans, root)
    plans = [s for s in kids if s["name"] == "driver.run_round"]
    out = []
    for i, plan in enumerate(plans):
        end = plans[i + 1]["start"] if i + 1 < len(plans) else spans[root]["end"]
        rnd = {"id": len(spans), "name": "driver.round", "parent": root,
               "run": spans[root]["run"], "start": plan["start"], "end": end,
               "rnd": plan["rnd"]}
        spans.append(rnd)
        for s in kids:
            if s["start"] >= rnd["start"] and s["end"] <= end:
                s["parent"] = rnd["id"]
        out.append(rnd)
    return out


# --------------------------------------------------------------------------
# frontier
# --------------------------------------------------------------------------

class Frontier:
    name = "frontier"
    ROWS = inputs.FRONTIER_ROWS
    CAPACITY = 50_000
    N_SALTS = 32
    # down-scaled instance of the same generator, checked row by row
    REF_ROWS = 5_000
    REF_CAPACITY = 500

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.digest = None

    def offline_inputs(self) -> None:
        pass

    def setup(self) -> None:
        # the seen set stands for a crawl history far beyond broadcast
        # size, so the anti-join against it shuffles as it does at crawl
        # scale (the pipeline's other joins carry broadcast hints)
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        self.ref = inputs.write_frontier_inputs(
            self.spark, self.seed, self.REF_ROWS, os.path.join(self.work, "ref"))
        self.inp = inputs.write_frontier_inputs(
            self.spark, self.seed, self.ROWS, os.path.join(self.work, "inputs"))

    def _tables(self, inp: dict):
        r = self.spark.read.parquet
        p = inp["paths"]
        return r(p["frontier"]), r(p["seen"]), r(p["robots"]), r(p["host_budget"])

    @staticmethod
    def canonical(frontier):
        return (frontier.withColumn("url", canonicalize_udf(F.col("raw_url")))
                .withColumn("url_hash", F.xxhash64("url")).drop("raw_url"))

    def pipeline(self, inp: dict, capacity: int):
        frontier, seen, robots, budget = self._tables(inp)
        elig = fo.eligible(self.canonical(frontier), seen, robots)
        return fo.dequeue(elig, budget, capacity, n_salts=self.N_SALTS,
                          max_budget=inp["max_budget"])

    def warmup(self) -> list[str]:
        """The down-scaled instance through the same pipeline, whose full
        (seq, url) list must equal the pure-Python reference, then one
        untimed full-size pass (the JIT warms on data volume)."""
        rows = self.pipeline(self.ref, self.REF_CAPACITY).select("seq", "url").collect()
        engine = sorted((r["seq"], r["url"]) for r in rows)
        bad = gates.frontier_mismatches(
            engine, gates.frontier_reference(self.ref["paths"], self.REF_CAPACITY))
        return bad + self.check(self.run_pass(-1))

    def run_pass(self, i: int) -> Pass:
        with self.tracer.span("frontier.pass") as root:
            t0 = time.time()
            with self.tracer.span("frontier.plan"):
                deq = self.pipeline(self.inp, self.CAPACITY)
                agg = deq.agg(
                    F.count("*").alias("n"),
                    F.min("seq").alias("mn"),
                    F.max("seq").alias("mx"),
                    # order-independent exact digest of the (seq, url) set
                    F.sum(F.xxhash64("seq", "url") % (1 << 40)).alias("digest"),
                )
            with self.tracer.span("frontier.execute"):
                out = tuple(agg.collect()[0])
            wall = time.time() - t0
        return Pass(wall=wall, rows=self.ROWS, steps=[wall], out=out, span=root["id"])

    def check(self, p: Pass) -> list[str]:
        """The dequeued aggregate is identical on every pass."""
        if self.digest is None:
            self.digest = p.out
        n = p.out[0]
        bad = [] if p.out == self.digest else [f"aggregate {p.out} != first pass {self.digest}"]
        if not 0 < n <= self.CAPACITY or p.out[1:3] != (1, n):
            bad.append(f"dequeue of {n} rows has seq range {p.out[1:3]}")
        return bad

    def layers(self, p: Pass) -> dict:
        frontier, seen, robots, budget = self._tables(self.inp)
        res = frontier_layer(self.spark, self.tracer, self.canonical(frontier), seen,
                             robots, budget, self.CAPACITY, self.N_SALTS,
                             self.inp["max_budget"])
        stated = self.inp["props"]["seen_overlap"]
        bad = ([] if res["seen_removed"] == stated else
               [f"seen anti-join removed {res['seen_removed']} rows, overlap is {stated}"])
        return {"per_round": [res], "mismatches": bad}


WORKLOADS = {w.name: w for w in (Crawl, Frontier)}
