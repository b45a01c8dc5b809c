"""Crawl-semantics parity: Spark engine vs sequential oracle (SURVEY §5.2-2).

The gate from BASELINE.json: identical crawl ordering, identical
URL-seen set, byte-identical extracted text per URL, under the same
seed list + politeness budget — and invariant to partition count.
"""

from __future__ import annotations

import shutil

import pytest

from storm_focused_crawler_spark import driver as drv
from storm_focused_crawler_spark.fixtures import gen_pages
from storm_focused_crawler_spark.oracle import seqcrawler as sq

ROUNDS = 3
CAPACITY = 64


@pytest.fixture(scope="module")
def fixture_paths(sf_dir):
    return gen_pages.ensure(sf_dir)


@pytest.fixture(scope="module")
def oracle_result(fixture_paths):
    pages, seeds, robots, budgets = sq.load_fixture_inputs(fixture_paths)
    cfg = sq.CrawlConfig(rounds=ROUNDS, capacity=CAPACITY,
                         keywords=tuple(gen_pages.topic_keywords()))
    return sq.crawl(pages, seeds, robots, budgets, cfg)


def _run_engine(spark, fixture_paths, workdir, shuffle_partitions):
    shutil.rmtree(workdir, ignore_errors=True)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        cfg = drv.CrawlConfig(rounds=ROUNDS, capacity=CAPACITY,
                              keywords=tuple(gen_pages.topic_keywords()))
        return drv.run_crawl(spark, fixture_paths, cfg, workdir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _collect(spark, store):
    ordering, results = [], {}
    for r in range(ROUNDS):
        ordering += [(x["round"], x["seq"], x["url"])
                     for x in store.read(spark, r, "ordering").collect()]
        for x in store.read(spark, r, "results").collect():
            results[x["url"]] = (x["score"], x["text"], x["lang"], x["n_links"])
    # seen is committed as per-round append-only deltas; the full state
    # is the union of deltas 0..r (storage.read_union)
    seen = {x["url_hash"] for x in store.read_union(spark, ROUNDS - 1, "seen").collect()}
    return sorted(ordering), results, seen


@pytest.mark.parametrize("parts", [2, 4])
def test_crawl_parity(spark, fixture_paths, oracle_result, tmp_path, parts):
    store = _run_engine(spark, fixture_paths, str(tmp_path / f"run{parts}"), parts)
    ordering, results, seen = _collect(spark, store)

    assert ordering == sorted(oracle_result.ordering)
    assert seen == oracle_result.seen_hashes
    omap = {t[2]: (t[3], t[4], t[5], t[6]) for t in oracle_result.results}
    assert set(results) == set(omap)
    for url, vals in results.items():
        assert vals[0] == omap[url][0], f"score mismatch {url}"
        # byte-identical extracted text (BASELINE.json input_hint)
        assert vals[1].encode() == omap[url][1].encode(), f"text mismatch {url}"
        assert vals[2:] == omap[url][2:]

    # a round's record is its tables plus the manifest's row counts: the
    # per-(stage, partition) metrics rows sum to the committed counts
    for r in range(ROUNDS):
        m = store.manifest(r)
        assert "stages" not in m
        metrics = store.read(spark, r, "metrics").collect()
        keys = [(x["stage"], x["partition_id"]) for x in metrics]
        assert len(keys) == len(set(keys)), f"round {r}: duplicate (stage, partition)"
        per_stage: dict[str, int] = {}
        for x in metrics:
            assert x["round"] == r
            per_stage[x["stage"]] = per_stage.get(x["stage"], 0) + x["rows"]
        n_oracle = sum(1 for t in oracle_result.ordering if t[0] == r)
        assert per_stage["dequeued"] == m["tables"]["ordering"] == n_oracle
        assert per_stage["frontier_next"] == m["tables"]["frontier"]
        n_links = sum(x["n_links"] for x in store.read(spark, r, "results").collect())
        assert per_stage["links"] == n_links


SEEN_FILTERS = {
    "bloom": dict(seen_filter="bloom", bloom_shards=4, bloom_bits_per_shard=1 << 16),
    "cuckoo": dict(seen_filter="cuckoo", bloom_shards=4, cuckoo_buckets_per_shard=1 << 10),
}


@pytest.mark.parametrize("kind,routed", [
    pytest.param(kind, routed, id=f"{kind}-{'routed' if routed else 'broadcast'}")
    for kind in SEEN_FILTERS
    for routed in (False, True)
])
def test_crawl_parity_with_seen_filter(
    spark, fixture_paths, oracle_result, tmp_path, monkeypatch, kind, routed
):
    """With a Bloom or cuckoo pre-filter ON, results are IDENTICAL — the
    filter is advisory (§2.1-3): negatives skip the anti-join (no false
    negatives), positives are re-checked exactly.  Run in broadcast
    probe mode and FORCED onto the shard-routed (beyond-broadcast) path
    — the 10^10-URL configuration; the probe calls prove which mode ran."""
    from storm_focused_crawler_spark.operators import seen_filter as SF

    calls = []
    for name in ("probe_col", "probe_routed"):
        def spy(*a, _real=getattr(SF, name), _name=name):
            calls.append(_name)
            return _real(*a)

        monkeypatch.setattr(SF, name, spy)
    if routed:
        monkeypatch.setattr(SF, "BROADCAST_MAX_BYTES", 0)
    wd = str(tmp_path / f"{kind}{routed}")
    cfg = drv.CrawlConfig(
        rounds=ROUNDS, capacity=CAPACITY,
        keywords=tuple(gen_pages.topic_keywords()),
        **SEEN_FILTERS[kind],
    )
    store = drv.run_crawl(spark, fixture_paths, cfg, wd)
    ordering, results, seen = _collect(spark, store)
    assert ordering == sorted(oracle_result.ordering)
    assert seen == oracle_result.seen_hashes
    assert set(results) == {t[2] for t in oracle_result.results}
    # rounds 1.. probe the previous round's filter
    assert calls == ["probe_routed" if routed else "probe_col"] * (ROUNDS - 1)


def test_bloom_enabled_mid_crawl_covers_prebloom_rounds(
    spark, fixture_paths, oracle_result, tmp_path
):
    """ADVICE r01 (medium): resuming an existing workdir with the Bloom
    filter newly enabled must rebuild the filter from the FULL seen set, so
    URLs seen in pre-bloom rounds are never re-emitted."""
    kw = tuple(gen_pages.topic_keywords())
    wd = str(tmp_path / "bloomlate")
    drv.run_crawl(spark, fixture_paths,
                  drv.CrawlConfig(rounds=1, capacity=CAPACITY, keywords=kw), wd)
    cfg = drv.CrawlConfig(
        rounds=ROUNDS, capacity=CAPACITY, keywords=kw, **SEEN_FILTERS["bloom"],
    )
    store = drv.run_crawl(spark, fixture_paths, cfg, wd, resume=True)
    ordering, results, seen = _collect(spark, store)
    assert ordering == sorted(oracle_result.ordering)  # no re-emission
    assert seen == oracle_result.seen_hashes
    # manifest must record the filter config for future compat checks
    assert store.manifest(ROUNDS - 1)["bloom_cfg"] == {
        "n_shards": 4, "n_bits": 1 << 16
    }


def test_extracted_text_matches_corpus(spark, fixture_paths, tmp_path):
    """extract_text(html) must equal the corpus text column, byte-identical."""
    from pyspark.sql import functions as F

    from storm_focused_crawler_spark import spec
    from storm_focused_crawler_spark.functions.udfs import extract_text_col

    pages = spark.read.parquet(fixture_paths["pages"])
    bad = (
        pages.withColumn("jvm", extract_text_col(F.col("html")))
        .filter(F.col("jvm") != F.col("text"))
        .count()
    )
    assert bad == 0
    rows = pages.select("html", "text").collect()
    assert rows
    for r in rows:
        assert spec.extract_text(r["html"]) == r["text"]


def test_resume_exact(spark, fixture_paths, oracle_result, tmp_path):
    """Kill after round 1, resume, final state identical (north rule)."""
    kw = tuple(gen_pages.topic_keywords())
    wd = str(tmp_path / "resume")
    drv.run_crawl(spark, fixture_paths,
                  drv.CrawlConfig(rounds=2, capacity=CAPACITY, keywords=kw), wd)
    store = drv.run_crawl(spark, fixture_paths,
                          drv.CrawlConfig(rounds=ROUNDS, capacity=CAPACITY, keywords=kw),
                          wd, resume=True)
    ordering, results, seen = _collect(spark, store)
    assert ordering == sorted(oracle_result.ordering)
    assert seen == oracle_result.seen_hashes


def test_max_depth_cap_matches_oracle(spark, tmp_path):
    """Depth-capped crawl (max_depth=1: seeds + their direct links
    only): 3-round engine == oracle ordering and seen set; the cap is
    non-vacuous (the unbounded run schedules deeper urls) and no
    frontier snapshot ever holds a row beyond the cap."""
    from storm_focused_crawler_spark import driver as drv
    from storm_focused_crawler_spark.fixtures import gen_pages
    from storm_focused_crawler_spark.oracle import seqcrawler as oc

    paths = gen_pages.ensure("/root/testdata/sf0.001")
    kw = tuple(gen_pages.topic_keywords())
    capped = drv.run_crawl(
        spark, paths, drv.CrawlConfig(rounds=3, capacity=32, keywords=kw, max_depth=1),
        str(tmp_path / "cap"),
    )
    pages_rows, seeds, robots, budgets = oc.load_fixture_inputs(paths)
    res = oc.crawl(pages_rows, seeds, robots, budgets,
                   oc.CrawlConfig(rounds=3, capacity=32, keywords=kw, max_depth=1))
    got = []
    for r in range(3):
        got += sorted(
            (x["round"], x["seq"], x["url"])
            for x in capped.read(spark, r, "ordering").collect()
        )
    assert got == sorted(res.ordering)
    seen = {x["url_hash"] for x in capped.read_union(spark, 2, "seen").collect()}
    assert seen == res.seen_hashes
    for r in range(3):
        assert capped.read(spark, r, "frontier").filter("depth > 1").count() == 0

    free = drv.run_crawl(
        spark, paths, drv.CrawlConfig(rounds=3, capacity=32, keywords=kw),
        str(tmp_path / "free"),
    )
    free_ord = []
    for r in range(3):
        free_ord += sorted(
            (x["round"], x["seq"], x["url"])
            for x in free.read(spark, r, "ordering").collect()
        )
    assert free_ord != got, "cap vacuous at this fixture"


def test_max_pages_per_host_quota_matches_oracle(spark, tmp_path):
    """Cumulative per-host quota (max_pages_per_host=3 over 3 rounds):
    engine == oracle ordering and seen; at least one host exhausts its
    quota (exactly 3 fetches while the unbounded run gives it more);
    kill/resume preserves the spend snapshot exactly."""
    from collections import Counter

    from storm_focused_crawler_spark import driver as drv
    from storm_focused_crawler_spark.fixtures import gen_pages
    from storm_focused_crawler_spark.oracle import seqcrawler as oc

    paths = gen_pages.ensure("/root/testdata/sf0.001")
    kw = tuple(gen_pages.topic_keywords())
    cfg = drv.CrawlConfig(rounds=3, capacity=32, keywords=kw, max_pages_per_host=3)
    store = drv.run_crawl(spark, paths, cfg, str(tmp_path / "q"))
    pages_rows, seeds, robots, budgets = oc.load_fixture_inputs(paths)
    res = oc.crawl(pages_rows, seeds, robots, budgets,
                   oc.CrawlConfig(rounds=3, capacity=32, keywords=kw,
                                  max_pages_per_host=3))
    got = []
    for r in range(3):
        got += sorted(
            (x["round"], x["seq"], x["url"])
            for x in store.read(spark, r, "ordering").collect()
        )
    assert got == sorted(res.ordering)
    seen = {x["url_hash"] for x in store.read_union(spark, 2, "seen").collect()}
    assert seen == res.seen_hashes

    def host_of(u):
        return u.split("://", 1)[1].partition("/")[0]

    capped_counts = Counter(host_of(u) for (_r, _s, u) in got)
    assert max(capped_counts.values()) <= 3
    free = drv.run_crawl(
        spark, paths, drv.CrawlConfig(rounds=3, capacity=32, keywords=kw),
        str(tmp_path / "f"),
    )
    free_counts = Counter(
        host_of(x["url"])
        for r in range(3)
        for x in free.read(spark, r, "ordering").collect()
    )
    assert any(
        capped_counts.get(h, 0) == 3 and c > 3 for h, c in free_counts.items()
    ), "quota vacuous at this fixture"

    # kill/resume: spend snapshot carries — resumed run == uninterrupted
    wd = str(tmp_path / "resume")
    drv.run_crawl(spark, paths,
                  drv.CrawlConfig(rounds=2, capacity=32, keywords=kw,
                                  max_pages_per_host=3), wd)
    resumed = drv.run_crawl(spark, paths, cfg, wd, resume=True)
    for r in range(3):
        a = sorted(map(tuple, store.read(spark, r, "ordering").collect()))
        b = sorted(map(tuple, resumed.read(spark, r, "ordering").collect()))
        assert a == b, f"round {r} diverged across resume"
