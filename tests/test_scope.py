"""Materialization scope (sources/session.scope): every persist and
localCheckpoint in the package is released by the scope that runs the
action, so a long-lived session returns to its baseline of persistent
RDDs and cache-manager entries after each crawl round and each query."""

from __future__ import annotations

import os
import re
import threading

import pytest
from pyspark import StorageLevel

from storm_focused_crawler_spark import driver as drv
from storm_focused_crawler_spark.fixtures import gen_pages
from storm_focused_crawler_spark.sources import session

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "storm_focused_crawler_spark")


def _state(spark) -> tuple[set[int], int]:
    """(persistent RDD ids, cache manager entries)"""
    return (
        set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()),
        spark._jsparkSession.sharedState().cacheManager().numCachedEntries(),
    )


def _baseline(spark) -> tuple[set[int], int]:
    """State before a run, from an empty cache manager: a persist whose
    plan an earlier test already cached outside any scope shares that
    entry, and the scope's unpersist then removes it."""
    spark.catalog.clearCache()
    return _state(spark)


def _new_rdds(spark, base) -> set[int]:
    return _state(spark)[0] - base[0]


def _assert_released(spark, base) -> None:
    """No persistent RDD beyond *base* and the same cache entries.  RDD
    ids are compared, not counts: RDDs that earlier tests materialized
    outside a scope may be unpersisted meanwhile by Spark's
    ContextCleaner once their frames are garbage collected."""
    rdds, entries = _state(spark)
    assert rdds <= base[0], f"left behind: {sorted(rdds - base[0])}"
    assert entries == base[1]


@pytest.fixture(scope="module")
def fixture_paths(sf_dir):
    return gen_pages.ensure(sf_dir)


def test_scope_releases_innermost_handles_only(spark):
    df = spark.range(50).selectExpr("id", "id * 2 AS x")
    base = _baseline(spark)
    with session.scope():
        outer = session.persist(df.filter("id > 3"))
        with session.scope():
            session.checkpoint(df.filter("id > 5"), eager=True)
            session.persist(df.filter("id > 7")).count()
            assert len(_new_rdds(spark, base)) == 2
            assert _state(spark)[1] == base[1] + 2  # outer + inner persist
        assert not _new_rdds(spark, base)  # inner checkpoint + persist released
        assert _state(spark)[1] == base[1] + 1
        assert outer.count() == 46 and outer.storageLevel != StorageLevel.NONE
    _assert_released(spark, base)

    # outside any scope nothing is released: the caller owns the action
    kept = session.checkpoint(df, eager=True)
    assert len(_new_rdds(spark, base)) == 1
    kept._jdf.queryExecution().analyzed().rdd().unpersist(False)
    _assert_released(spark, base)


def test_scope_stack_is_per_thread(spark):
    """A scope open on one thread does not capture another thread's
    materializations (foreachBatch runs on the query's own thread)."""
    df = spark.range(10)
    base = _baseline(spark)
    got = []
    with session.scope():
        t = threading.Thread(target=lambda: got.append(session.persist(df.filter("id > 1"))))
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()
    assert got[0].storageLevel != StorageLevel.NONE  # outlived this thread's scope
    got[0].unpersist()
    _assert_released(spark, base)


def _raw_robots(fixture_paths, tmp_path) -> dict[str, str]:
    """The fixture with its robots rules rewritten as raw robots.txt
    bodies that also declare a Crawl-delay."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    legacy = pq.read_table(fixture_paths["robots"])
    bodies = [f"User-agent: *\nDisallow: {p}\nCrawl-delay: 25\n"
              for p in legacy.column("disallow_prefix").to_pylist()]
    path = str(tmp_path / "robots_raw.parquet")
    pq.write_table(pa.table({"host": legacy.column("host"),
                             "content": pa.array(bodies, pa.string())}), path)
    return dict(fixture_paths, robots=path)


@pytest.mark.parametrize(
    "extra,raw_robots",
    [({}, False), ({"host_rank_weight": 0.25}, False), ({}, True)],
    ids=["default", "host_rank", "raw_robots"],
)
def test_crawl_leaves_no_materialized_state(spark, fixture_paths, tmp_path, extra,
                                            raw_robots):
    """A 3-round run_crawl returns the session to its pre-crawl
    persistent-RDD count and cache-manager state (each round's
    deq/ex/links/frontier caches; with the host-rank blend, the
    pagerank checkpoints; with raw robots bodies, the parsed rules and
    the crawl-delay-merged host_budget persisted for the whole crawl)."""
    paths = _raw_robots(fixture_paths, tmp_path) if raw_robots else fixture_paths
    base = _baseline(spark)
    cfg = drv.CrawlConfig(rounds=3, keywords=tuple(gen_pages.topic_keywords()), **extra)
    store = drv.run_crawl(spark, paths, cfg, str(tmp_path / "crawl"))
    assert store.latest_round() == 2
    # the crawl-delay merge took effect: only a host_budget with
    # min_interval_ms commits the host_sched politeness clock
    assert ("host_sched" in store.manifest(2)["tables"]) == raw_robots
    _assert_released(spark, base)


OPS = [
    "dedup_minhash_lsh",
    "dedup_minhash_incremental",
    "dedup_cluster_keeper",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "graph_host_rank",
    "bpe_learn_merges",
    "rank_bm25",
    "quality_lm_perplexity",
]


@pytest.mark.parametrize("name", OPS)
def test_op_releases_materialized_state(spark, sf_dir, name):
    """Each op run inside a scope (noop write + collect) leaves no
    persistent RDD or cache entry behind, and a second run in a fresh
    scope returns the same rows."""
    from storm_focused_crawler_spark.plans import pipeline_ops  # noqa: F401 — registers ops
    from storm_focused_crawler_spark.plans.queries import REGISTRY

    fn, _ = REGISTRY[name]
    base = _baseline(spark)
    runs = []
    for _ in range(2):
        with session.scope():
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(sorted(tuple(r) for r in df.collect()))
        _assert_released(spark, base)
    assert runs[0] == runs[1] and runs[0]


def test_one_materialization_idiom():
    """Only sources/session.py calls persist / cache / localCheckpoint;
    everything else goes through session.persist / session.checkpoint
    so a scope can release it."""
    pat = re.compile(r"\.(persist|cache|localCheckpoint)\(")
    hits = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path.endswith(os.path.join("sources", "session.py")):
                continue
            with open(path) as fh:
                hits += [f"{path}:{i}" for i, ln in enumerate(fh, 1) if pat.search(ln)]
    assert hits == []
