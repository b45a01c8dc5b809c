"""Physical-plan assertions (SURVEY.md §4.2 'VERIFY via explain()').

Correct results with the wrong plan would not survive the 100 TB
scale-up; these tests pin the plan properties the engine relies on:
column pruning of the fat html column, predicate pushdown into parquet,
broadcast of dimension tables, and rank→top-k pruning
(WindowGroupLimit) in the politeness dequeue.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from storm_focused_crawler_spark.fixtures import gen_pages


@pytest.fixture(scope="module")
def fixture_paths(sf_dir):
    return gen_pages.ensure(sf_dir)


def _plan(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _indent(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def test_column_pruning_html_never_read_unless_needed(spark, fixture_paths):
    """Projecting url/lang from pages must NOT read the html column —
    at 100 TB html is ~95% of the bytes (SURVEY.md §4.2)."""
    pages = spark.read.parquet(fixture_paths["pages"])
    plan = _plan(pages.select("url", "lang").filter(F.col("lang") == "en"))
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "html" not in read_schema, read_schema
    assert "url" in read_schema and "lang" in read_schema


def test_predicate_pushdown_to_parquet(spark, fixture_paths):
    pages = spark.read.parquet(fixture_paths["pages"])
    plan = _plan(pages.filter(F.col("lang") == "en").select("url"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "lang" in pushed[0], plan[:2000]


def test_fetch_join_broadcasts_dequeued_side(spark, fixture_paths):
    """The per-round fetch join must broadcast the (tiny) dequeued set,
    never shuffle the page corpus (SURVEY.md §3 entry 3)."""
    pages = spark.read.parquet(fixture_paths["pages"])
    deq = spark.createDataFrame([("https://x/p1",), ("https://x/p2",)], "url string")
    plan = _plan(pages.join(F.broadcast(deq), "url", "inner"))
    assert "BroadcastHashJoin" in plan
    # corpus side must not be exchanged by the join
    assert "Exchange hashpartitioning(url" not in plan


def _dequeue_frontier(spark, fixture_paths):
    return (
        spark.read.parquet(fixture_paths["pages"])
        .select("url")
        .distinct()
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("score", F.lit(0.5))
        .withColumn("depth", F.lit(0))
        .withColumn(
            "host", F.substring_index(F.substring_index("url", "://", -1), "/", 1)
        )
    )


def test_dequeue_uses_window_group_limit(spark, fixture_paths):
    """rank<=k filters must compile to WindowGroupLimit (top-k pruning
    before the full sort) — a Partial one below the single host
    exchange is what keeps a hot host from reaching one reducer whole."""
    from storm_focused_crawler_spark.operators.frontier import dequeue

    frontier = _dequeue_frontier(spark, fixture_paths)
    budgets = spark.read.parquet(fixture_paths["host_budget"])
    plan = _plan(dequeue(frontier, budgets, 64))
    assert plan.count("WindowGroupLimit") >= 2, "per-host top-k not pruned"
    assert "BroadcastHashJoin" in plan  # budgets joined broadcast

    # the skew bound: ONE host exchange, a map-side Partial top-k below
    # it (each map task forwards ≤ max_budget rows per host), no salt
    simple = _plan(dequeue(frontier, budgets, 64), "simple")
    lines = simple.splitlines()
    host_x = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning(host" in ln]
    assert len(host_x) == 1, simple
    partial = [i for i, ln in enumerate(lines) if "WindowGroupLimit" in ln and "Partial" in ln]
    assert any(
        i > host_x[0] and _indent(lines[i]) > _indent(lines[host_x[0]]) for i in partial
    ), simple
    assert "pmod(url_hash" not in simple

    # the crawl-delay cap (min_interval_ms) must NOT cost the pruning:
    # it folds into the budget column as a scalar expression and the
    # literal rank bounds keep compiling to WindowGroupLimit
    delayed = budgets.withColumn(
        "min_interval_ms",
        F.when(F.length("host") % 2 == 0, F.lit(15_000)),
    )
    plan_d = _plan(dequeue(frontier, delayed, 64))
    assert plan_d.count("WindowGroupLimit") >= 2, "interval cap broke top-k pruning"
    assert "BroadcastHashJoin" in plan_d


def test_dequeue_rejects_budget_above_window_group_limit_threshold(spark, fixture_paths):
    """Above windowGroupLimitThreshold Catalyst plans no WindowGroupLimit,
    so the map-side skew bound would silently vanish: dequeue refuses at
    plan build, before any Spark job runs."""
    from storm_focused_crawler_spark.operators.frontier import dequeue

    frontier = _dequeue_frontier(spark, fixture_paths)
    budgets = spark.read.parquet(fixture_paths["host_budget"])
    table_max = budgets.agg(F.max("budget")).collect()[0][0]
    conf = "spark.sql.optimizer.windowGroupLimitThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, str(table_max))
    sc = spark.sparkContext
    try:
        dequeue(frontier, budgets, 64, max_budget=table_max)  # at the threshold: fine
        sc.setJobGroup("dequeue-threshold", "must run no job")
        with pytest.raises(ValueError, match=conf):
            dequeue(frontier, budgets, 64, max_budget=table_max + 1)
        sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup("dequeue-threshold") == []
        # a max_budget derived from the table is checked the same way
        with pytest.raises(ValueError, match=conf):
            dequeue(frontier, budgets.withColumn("budget", F.lit(table_max + 1)), 64)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(conf, old)


def _exchanges(plan: str) -> list[tuple[list[str], str]]:
    """(input column names, arguments) of every Exchange node in a
    formatted plan; a node's columns are on the ``Input`` line under
    its ``(n) Exchange`` header."""
    out = []
    for m in re.finditer(r"^\(\d+\) \w*Exchange\n(.*?)(?:\n\n|\Z)", plan, re.M | re.S):
        inp = re.search(r"^Input \[\d+\]: \[(.*)\]$", m.group(1), re.M)
        args = re.search(r"^Arguments: (.*)$", m.group(1), re.M)
        cols = [c.split("#")[0] for c in inp.group(1).split(", ")] if inp else []
        out.append((cols, args.group(1) if args else ""))
    return out


def _round_plans(spark, fixture_paths, monkeypatch, mode: str = "formatted"):
    """(formatted plans of the frames run_round checkpoints, in call
    order, and the *mode* plan of every table it returns) for round 0
    over the seed frontier; each checkpointed frame is explained before
    it is built, so its plan still holds the lineage the checkpoint
    cuts."""
    import json

    from storm_focused_crawler_spark import driver as drv
    from storm_focused_crawler_spark import spec
    from storm_focused_crawler_spark.sources.session import scope

    checkpointed = []

    def recording(df, eager=False):
        checkpointed.append(_plan(df))
        return checkpoint(df, eager)

    checkpoint = drv.checkpoint
    monkeypatch.setattr(drv, "checkpoint", recording)
    with open(fixture_paths["seeds"]) as f:
        seeds = [spec.canon(u) for u in json.load(f)]
    frontier = spark.createDataFrame(
        [(u, spec.xxh64(u), 0.0, 0, 0) for u in seeds], drv.FRONTIER_SCHEMA
    )
    with scope():
        out = drv.run_round(
            spark,
            spark.read.parquet(fixture_paths["pages"]),
            frontier,
            spark.createDataFrame([], drv.SEEN_SCHEMA),
            spark.read.parquet(fixture_paths["robots"]),
            spark.read.parquet(fixture_paths["host_budget"]),
            drv.CrawlConfig(rounds=1, capacity=64, keywords=("data",)),
            0,
        )
        return checkpointed, {t: _plan(df, mode) for t, df in out.items()}


def test_no_html_through_round_shuffles(spark, fixture_paths, monkeypatch):
    """Across the crawl round DAG (the frames run_round checkpoints and
    every table it returns), html crosses exactly one Exchange: the
    as-of window of udfs.fetch_extract (hashpartitioning on url, before
    extraction), and the corpus ``text`` column, which nothing reads,
    crosses none (SURVEY.md §7.4-4)."""
    checkpointed, tables = _round_plans(spark, fixture_paths, monkeypatch)
    assert len(checkpointed) == 2, "run_round checkpoints the dequeued set and the fetched pages"
    plans = [(f"checkpoint {i}", p) for i, p in enumerate(checkpointed)] + list(tables.items())
    exchanges = [(name, cols, args) for name, plan in plans for cols, args in _exchanges(plan)]
    assert exchanges
    with_html = [e for e in exchanges if "html" in e[1]]
    assert len(with_html) == 1, f"html bytes cross {len(with_html)} shuffles: {with_html}"
    name, cols, args = with_html[0]
    assert args.startswith("hashpartitioning(url#") and "warc_ts" in cols, (name, cols, args)
    with_text = [e for e in exchanges if "text" in e[1]]
    assert not with_text, f"corpus text crosses an exchange: {with_text}"


def test_commit_recomputes_nothing_upstream(spark, fixture_paths, monkeypatch):
    """The dequeued set and the fetched pages are built inside run_round,
    so the plans the commit runs hold neither the dequeue's host
    exchange nor the fetch's as-of window."""
    _, tables = _round_plans(spark, fixture_paths, monkeypatch, "simple")
    for t in ("ordering", "results", "frontier", "metrics"):
        plan = tables[t]
        assert "Exchange hashpartitioning(host" not in plan, f"{t} re-plans the dequeue:\n{plan}"
        asof = [ln for ln in plan.splitlines() if "Window [" in ln and "warc_ts" in ln]
        assert not asof, f"{t} re-plans the fetch's as-of window: {asof}"


def _ancestors(lines: list[str], i: int) -> list[str]:
    """The operator lines above line *i* in an explain tree."""
    out, depth = [], _indent(lines[i])
    for ln in reversed(lines[:i]):
        if _indent(ln) < depth:
            out.append(ln)
            depth = _indent(ln)
    return out


def test_round_frontier_not_shuffled_by_url_hash(spark, fixture_paths, tmp_path):
    """Carrying the frontier forward removes this round's dequeued urls
    with an anti-join against the ≤ capacity emitted hashes: that side
    broadcasts, so the frontier scan reaches the next-frontier
    aggregation without an Exchange on url_hash.  The size estimate of
    the persisted dequeue is kept out of the decision by turning the
    broadcast threshold off, as at crawl scale."""
    from storm_focused_crawler_spark import driver as drv
    from storm_focused_crawler_spark.sources.session import scope

    cfg = drv.CrawlConfig(rounds=1, capacity=64, keywords=("data",))
    store = drv.run_crawl(spark, fixture_paths, cfg, str(tmp_path / "wd"))
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        with scope():
            out = drv.run_round(
                spark, spark.read.parquet(fixture_paths["pages"]),
                store.read(spark, 0, "frontier"), store.read_union(spark, 0, "seen"),
                spark.read.parquet(fixture_paths["robots"]),
                spark.read.parquet(fixture_paths["host_budget"]), cfg, 1,
            )
            lines = _plan(out["frontier"], "simple").splitlines()
    finally:
        spark.conf.set(key, old)
    # the carried frontier's scan is the one that reads discovered_round;
    # the dequeue's own scan of the frontier is pruned to four columns
    scans = [i for i, ln in enumerate(lines) if "FileScan" in ln and "discovered_round" in ln]
    assert scans, "\n".join(lines)
    for i in scans:
        above = _ancestors(lines, i)
        assert not [a for a in above if "Exchange hashpartitioning(url_hash" in a], above


def test_store_reads_run_no_job(spark, tmp_path):
    """write_round records each table's schema in the manifest, so
    read / read_union of committed state run no schema-inference job
    and give the schema inference would; a manifest without the
    ``schemas`` key still reads, by inference."""
    import json

    from storm_focused_crawler_spark.sources.storage import ParquetSnapshotStore

    store = ParquetSnapshotStore(str(tmp_path / "state"))
    for rnd in (0, 1):
        store.write_round(rnd, {
            "frontier": spark.range(3).select(
                F.concat(F.lit("https://h.ex/"), F.col("id").cast("string")).alias("url"),
                F.xxhash64("id").alias("url_hash"), F.lit(rnd).alias("discovered_round")),
            "seen": spark.range(rnd * 5, rnd * 5 + 5).select(F.col("id").alias("url_hash")),
        })
    assert set(store.manifest(1)["schemas"]) == {"frontier", "seen"}
    sc = spark.sparkContext
    sc.setJobGroup("store-read", "must run no job")
    try:
        frontier = store.read(spark, 1, "frontier")
        seen = store.read_union(spark, 1, "seen")
        got = (frontier.schema, seen.schema)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("store-read") == []
    root = str(tmp_path / "state")
    assert got == (spark.read.parquet(f"{root}/round=1/frontier").schema,
                   spark.read.parquet(f"{root}/round=1/seen").schema)
    assert seen.count() == 10

    # a manifest written before the schemas key existed
    m = store.manifest(0)
    del m["schemas"]
    with open(f"{root}/round=0/manifest.json", "w") as f:
        json.dump(m, f)
    assert store.read(spark, 0, "frontier").schema == got[0]
    assert sorted(r[0] for r in store.read_union(spark, 1, "seen").collect()) == list(range(10))


def test_resumed_crawl_runs_no_job_before_its_first_round(spark, fixture_paths, tmp_path,
                                                          monkeypatch):
    """run_crawl reads its fixture inputs with the schemas recorded in
    the workdir, so a resume reaches its first run_round without a
    Spark job (no schema inference of robots or host_budget)."""
    from storm_focused_crawler_spark import driver as drv

    kw = tuple(gen_pages.topic_keywords())
    wd = str(tmp_path / "wd")
    drv.run_crawl(spark, fixture_paths, drv.CrawlConfig(rounds=1, capacity=32, keywords=kw), wd)
    sc = spark.sparkContext
    run_round, jobs = drv.run_round, []

    def first_round_jobs(*a, **k):
        if not jobs:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.append(list(sc.statusTracker().getJobIdsForGroup("resume-prelude")))
        return run_round(*a, **k)

    monkeypatch.setattr(drv, "run_round", first_round_jobs)
    sc.setJobGroup("resume-prelude", "must run no job before the first round")
    try:
        store = drv.run_crawl(spark, fixture_paths,
                              drv.CrawlConfig(rounds=2, capacity=32, keywords=kw), wd,
                              resume=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [[]]
    assert store.latest_round() == 1


def test_resume_from_manifests_without_schemas(spark, fixture_paths, tmp_path):
    """A crawl committed by a store that wrote no ``schemas`` key
    resumes to the same orderings and seen set as an uninterrupted
    crawl."""
    import json

    from storm_focused_crawler_spark import driver as drv

    kw = tuple(gen_pages.topic_keywords())
    full = drv.run_crawl(spark, fixture_paths,
                         drv.CrawlConfig(rounds=3, capacity=32, keywords=kw),
                         str(tmp_path / "full"))
    wd = str(tmp_path / "resumed")
    first = drv.run_crawl(spark, fixture_paths,
                          drv.CrawlConfig(rounds=1, capacity=32, keywords=kw), wd)
    m = first.manifest(0)
    del m["schemas"]
    with open(f"{first.root}/round=0/manifest.json", "w") as f:
        json.dump(m, f)
    resumed = drv.run_crawl(spark, fixture_paths,
                            drv.CrawlConfig(rounds=3, capacity=32, keywords=kw),
                            wd, resume=True)
    for r in range(3):
        a = sorted(map(tuple, full.read(spark, r, "ordering").collect()))
        b = sorted(map(tuple, resumed.read(spark, r, "ordering").collect()))
        assert a == b, f"round {r} diverged across resume"
    sa = {x["url_hash"] for x in full.read_union(spark, 2, "seen").collect()}
    sb = {x["url_hash"] for x in resumed.read_union(spark, 2, "seen").collect()}
    assert sa == sb
