"""Recrawl maintenance commit (driver.recrawl): evicting URLs from the
seen state re-fetches them in later rounds, with the cuckoo sidecar
updated by TARGETED DELETION (no rebuild) — the capability that makes
the cuckoo half of the north star's seen-filter load-bearing."""

from __future__ import annotations

import shutil
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from storm_focused_crawler_spark import driver as drv
from storm_focused_crawler_spark import spec
from storm_focused_crawler_spark.fixtures import gen_pages

ROUNDS = 2
CAPACITY = 64


@pytest.fixture(scope="module")
def fixture_paths(sf_dir):
    return gen_pages.ensure(sf_dir)


def _cfg(**kw):
    base = dict(
        rounds=ROUNDS, capacity=CAPACITY,
        keywords=tuple(gen_pages.topic_keywords()),
        seen_filter="cuckoo",
        bloom_shards=4, cuckoo_buckets_per_shard=1 << 10,
    )
    base.update(kw)
    return drv.CrawlConfig(**base)


def _link_discovered_urls(spark, store, paths, n=3):
    """Deterministic victims: round-1 result urls that are NOT seeds
    (seed urls would be re-injected anyway and blur the assertion)."""
    import json

    with open(paths["seeds"]) as f:
        seeds = set(json.load(f))
    urls = sorted(
        r["url"] for r in store.read(spark, 1, "results").collect()
        if r["url"] not in seeds
    )
    assert len(urls) >= n, "fixture too small for recrawl test"
    return urls[:n]


def test_recrawl_refetches_victims_cuckoo(spark, fixture_paths, tmp_path):
    wd = str(tmp_path / "recrawl_cuckoo")
    shutil.rmtree(wd, ignore_errors=True)
    cfg = _cfg()
    store = drv.run_crawl(spark, fixture_paths, cfg, wd)
    victims = _link_discovered_urls(spark, store, fixture_paths)
    vhashes = {spec.xxh64(u) for u in victims}
    seen_before = {
        r["url_hash"] for r in store.read_union(spark, ROUNDS - 1, "seen").collect()
    }
    assert vhashes <= seen_before  # they were fetched, hence seen

    vdf = spark.createDataFrame([(u,) for u in victims], "url string")
    # rescore above every fixture relevance score → victims dequeue first
    mnt = drv.recrawl(spark, store, cfg, vdf, rescore=2.0)
    assert mnt == ROUNDS

    # seen state after maintenance = before minus victims, resolved via
    # the compaction pointer (one scan of seen_full, no deltas)
    m = store.manifest(mnt)
    assert m["maintenance"] == "recrawl"
    assert m["compact"]["seen"] == mnt
    seen_after = {
        r["url_hash"] for r in store.read_union(spark, mnt, "seen").collect()
    }
    assert seen_after == seen_before - vhashes

    # cuckoo sidecar was DELETED from, not rebuilt: victims no longer
    # probe positive, everything still-seen does (advisory contract)
    from storm_focused_crawler_spark.operators import cuckoo as C
    from storm_focused_crawler_spark.operators import seen_filter as SF

    shards = store.read(spark, mnt, "bloom")
    probe = SF.probe_col(spark, C, shards, cfg.bloom_shards, cfg.cuckoo_buckets_per_shard)
    sdf = spark.createDataFrame([(int(h),) for h in sorted(seen_after)], "url_hash long")
    assert sdf.withColumn("m", probe(F.col("url_hash"))).filter(~F.col("m")).count() == 0

    # resume: one more crawl round must fetch exactly the victims first,
    # with byte-identical extracted text (they outscore everything)
    store = drv.run_crawl(spark, fixture_paths, _cfg(rounds=ROUNDS + 2), wd)
    next_rnd = mnt + 1
    refetched = {r["url"]: r["text"]
                 for r in store.read(spark, next_rnd, "results").collect()}
    assert set(victims) <= set(refetched)
    corpus = {
        r["url"]: r["text"]
        for r in spark.read.parquet(fixture_paths["pages"])
        .filter(F.col("url").isin(list(victims)))
        .select("url", "text")
        .collect()
    }
    for u in victims:
        assert refetched[u].encode() == corpus[u].encode()
    # and they are seen again afterwards
    seen_final = {
        r["url_hash"] for r in store.read_union(spark, next_rnd, "seen").collect()
    }
    assert vhashes <= seen_final


def test_recrawl_canonicalizes_victims(spark, fixture_paths, tmp_path):
    """ADVICE r03 #2 regression: victims arriving in a NON-canonical
    spelling (uppercase scheme/host, explicit default port) must still
    evict the canonical url's hash and enqueue the CANONICAL url —
    driver.recrawl canonicalizes before hashing, exactly like the
    oracle twin (seqcrawler.recrawl applies spec.canon)."""
    wd = str(tmp_path / "recrawl_canon")
    shutil.rmtree(wd, ignore_errors=True)
    cfg = _cfg()
    store = drv.run_crawl(spark, fixture_paths, cfg, wd)
    victims = _link_discovered_urls(spark, store, fixture_paths)
    for u in victims:  # fixture urls are canonical already
        assert spec.canon(u) == u

    def mangle(u):
        scheme, rest = u.split("://", 1)
        host, slash, path = rest.partition("/")
        port = {"http": ":80", "https": ":443"}.get(scheme, "")
        return f"{scheme.upper()}://{host.upper()}{port}{slash}{path}"

    mangled = [mangle(u) for u in victims]
    assert mangled != victims and [spec.canon(m) for m in mangled] == victims

    vhashes = {spec.xxh64(u) for u in victims}
    seen_before = {
        r["url_hash"] for r in store.read_union(spark, ROUNDS - 1, "seen").collect()
    }
    vdf = spark.createDataFrame([(u,) for u in mangled], "url string")
    mnt = drv.recrawl(spark, store, cfg, vdf, rescore=2.0)
    seen_after = {
        r["url_hash"] for r in store.read_union(spark, mnt, "seen").collect()
    }
    assert seen_after == seen_before - vhashes  # the CANONICAL hashes left
    # and the frontier got the canonical spellings, preserving its invariant
    fr = {r["url"] for r in store.read(spark, mnt, "frontier").collect()}
    assert set(victims) <= fr
    assert not (set(mangled) & fr)


def test_recrawl_bloom_kind_rebuilds(spark, fixture_paths, tmp_path):
    """Same maintenance flow with the Bloom sidecar: deletion is
    impossible, so recrawl rebuilds the filter from the new seen set —
    verdicts still correct (victims negative, survivors positive)."""
    wd = str(tmp_path / "recrawl_bloom")
    shutil.rmtree(wd, ignore_errors=True)
    cfg = _cfg(seen_filter="bloom", bloom_bits_per_shard=1 << 16)
    store = drv.run_crawl(spark, fixture_paths, cfg, wd)
    victims = _link_discovered_urls(spark, store, fixture_paths)
    vdf = spark.createDataFrame([(u,) for u in victims], "url string")
    mnt = drv.recrawl(spark, store, cfg, vdf, rescore=2.0)

    from storm_focused_crawler_spark.operators import bloom as B
    from storm_focused_crawler_spark.operators import seen_filter as SF

    shards = store.read(spark, mnt, "bloom")
    probe = SF.probe_col(spark, B, shards, cfg.bloom_shards, cfg.bloom_bits_per_shard)
    seen_after = store.read_union(spark, mnt, "seen").select("url_hash")
    assert (
        seen_after.withColumn("m", probe(F.col("url_hash"))).filter(~F.col("m")).count()
        == 0
    )
    # the rebuilt filter no longer contains the victims' hashes as
    # members; allow the FPR residue a Bloom inherently has
    vhdf = spark.createDataFrame(
        [(spec.xxh64(u),) for u in victims], "url_hash long"
    )
    pos = vhdf.withColumn("m", probe(F.col("url_hash"))).filter(F.col("m")).count()
    assert pos <= 1  # 3 victims, FPR ~1e-2 ⇒ ≥2 hits is a real bug


def test_recrawl_post_maintenance_round_exact_parity(
    spark, fixture_paths, tmp_path
):
    """The round crawled AFTER a recrawl maintenance commit matches the
    sequential oracle EXACTLY — ordering rows, seen set, and results —
    with the oracle driven through the same crawl→recrawl→crawl
    lifecycle (oracle.seqcrawler.crawl_rounds + recrawl)."""
    import json

    from storm_focused_crawler_spark.oracle import seqcrawler as sq

    wd = str(tmp_path / "recrawl_parity")
    shutil.rmtree(wd, ignore_errors=True)
    cfg = _cfg()
    store = drv.run_crawl(spark, fixture_paths, cfg, wd)
    victims = _link_discovered_urls(spark, store, fixture_paths)
    vdf = spark.createDataFrame([(u,) for u in victims], "url string")
    mnt = drv.recrawl(spark, store, cfg, vdf, rescore=2.0)
    store = drv.run_crawl(spark, fixture_paths, _cfg(rounds=ROUNDS + 2), wd)
    nxt = mnt + 1

    # oracle through the same lifecycle
    pages, seeds, robots, budgets = sq.load_fixture_inputs(fixture_paths)
    ocfg = sq.CrawlConfig(
        rounds=ROUNDS, capacity=CAPACITY,
        keywords=tuple(gen_pages.topic_keywords()),
    )
    corpus = sq.latest_captures(pages)
    res = sq.crawl(pages, seeds, robots, budgets, ocfg)
    sq.recrawl(res, victims, mnt_round=mnt, rescore=2.0)
    sq.crawl_rounds(res, corpus, seeds, robots, budgets, ocfg, nxt, nxt + 1)

    want_ordering = sorted(t for t in res.ordering if t[0] == nxt)
    got_ordering = sorted(
        (x["round"], x["seq"], x["url"])
        for x in store.read(spark, nxt, "ordering").collect()
    )
    assert got_ordering == want_ordering

    got_seen = {
        x["url_hash"] for x in store.read_union(spark, nxt, "seen").collect()
    }
    assert got_seen == res.seen_hashes

    want_results = {t[2]: (t[3], t[4], t[5], t[6]) for t in res.results if t[0] == nxt}
    got_results = {
        x["url"]: (x["score"], x["text"], x["lang"], x["n_links"])
        for x in store.read(spark, nxt, "results").collect()
    }
    assert set(got_results) == set(want_results)
    for url, vals in got_results.items():
        assert vals[0] == want_results[url][0], f"score mismatch {url}"
        assert vals[1].encode() == want_results[url][1].encode(), f"text {url}"
        assert vals[2:] == want_results[url][2:]


def test_recrawl_keeps_host_quota_spend(spark, fixture_paths, tmp_path):
    """crawl → recrawl → crawl under a cumulative per-host quota: the
    maintenance commit carries every host's spend (host_used) forward,
    so the rounds after it match the oracle driven through the same
    lifecycle and no host is fetched more than the quota in total."""
    from collections import Counter

    from storm_focused_crawler_spark.oracle import seqcrawler as sq

    quota = 3
    wd = str(tmp_path / "recrawl_quota")
    cfg = _cfg(capacity=32, max_pages_per_host=quota)
    store = drv.run_crawl(spark, fixture_paths, cfg, wd)
    victims = _link_discovered_urls(spark, store, fixture_paths)
    vdf = spark.createDataFrame([(u,) for u in victims], "url string")
    mnt = drv.recrawl(spark, store, cfg, vdf, rescore=2.0)
    end = mnt + 1 + ROUNDS
    store = drv.run_crawl(spark, fixture_paths, replace(cfg, rounds=end), wd)

    pages, seeds, robots, budgets = sq.load_fixture_inputs(fixture_paths)
    ocfg = sq.CrawlConfig(rounds=ROUNDS, capacity=32, keywords=cfg.keywords,
                          max_pages_per_host=quota)
    res = sq.crawl(pages, seeds, robots, budgets, ocfg)
    sq.recrawl(res, victims, mnt_round=mnt, rescore=2.0)
    sq.crawl_rounds(res, sq.latest_captures(pages), seeds, robots, budgets, ocfg,
                    mnt + 1, end)

    got = sorted(
        (x["round"], x["seq"], x["url"])
        for r in range(end) if r != mnt  # the maintenance round fetches nothing
        for x in store.read(spark, r, "ordering").collect()
    )
    assert got == sorted(res.ordering)
    per_host = Counter(u.split("://", 1)[1].partition("/")[0] for (_r, _s, u) in got)
    assert max(per_host.values()) == quota  # binds, and is never exceeded


def test_refresh_victims_age_policy(spark, fixture_paths, tmp_path):
    """Age-based refresh (driver.refresh_victims / CLI --recrawl-age):
    the victim set — urls whose last fetch is >= max_age rounds behind
    the latest round — equals the oracle twin's, feeds recrawl, and the
    post-maintenance round refetches the stale urls with full oracle
    parity (ordering + seen)."""
    from storm_focused_crawler_spark.fixtures import gen_pages as gp
    from storm_focused_crawler_spark.oracle import seqcrawler as sq

    wd = str(tmp_path / "refresh_age")
    shutil.rmtree(wd, ignore_errors=True)
    rounds = 4
    cfg = _cfg(rounds=rounds)
    store = drv.run_crawl(spark, fixture_paths, cfg, wd)

    age = 2
    vdf = drv.refresh_victims(spark, store, max_age_rounds=age)
    got_victims = sorted(r["url"] for r in vdf.collect())

    pages, seeds, robots, budgets = sq.load_fixture_inputs(fixture_paths)
    ocfg = sq.CrawlConfig(rounds=rounds, capacity=CAPACITY,
                          keywords=tuple(gp.topic_keywords()))
    res = sq.crawl(pages, seeds, robots, budgets, ocfg)
    want_victims = sq.refresh_victims(res, rounds - 1, age)
    assert got_victims == want_victims
    assert got_victims, "no stale urls after 4 rounds — fixture too small"
    # urls fetched in the last `age` rounds are NOT victims
    recent = {t[2] for t in res.results if t[0] > rounds - 1 - age}
    assert not (set(got_victims) & recent)

    # maintenance + one more round: exact parity of the refetch round
    mnt = drv.recrawl(spark, store, cfg, vdf, rescore=2.0)
    store = drv.run_crawl(spark, fixture_paths, _cfg(rounds=rounds + 2), wd)
    nxt = mnt + 1
    corpus = sq.latest_captures(pages)
    sq.recrawl(res, want_victims, mnt_round=mnt, rescore=2.0)
    sq.crawl_rounds(res, corpus, seeds, robots, budgets, ocfg, nxt, nxt + 1)
    got_ordering = sorted(
        (x["round"], x["seq"], x["url"])
        for x in store.read(spark, nxt, "ordering").collect()
    )
    assert got_ordering == sorted(t for t in res.ordering if t[0] == nxt)
    got_seen = {
        x["url_hash"] for x in store.read_union(spark, nxt, "seen").collect()
    }
    assert got_seen == res.seen_hashes


def test_unknown_seen_filter_rejected_before_any_commit(spark, fixture_paths, tmp_path):
    """A misspelled filter kind fails loudly instead of silently running
    Bloom or no filter at all — in run_crawl before round 0 commits,
    and in recrawl before the maintenance round commits."""
    import os

    from storm_focused_crawler_spark.sources.storage import ParquetSnapshotStore

    wd = str(tmp_path / "badkind")
    with pytest.raises(ValueError, match="seen_filter 'cukoo'"):
        drv.run_crawl(spark, fixture_paths, _cfg(seen_filter="cukoo"), wd)
    assert ParquetSnapshotStore(os.path.join(wd, "state")).latest_round() is None

    store = drv.run_crawl(spark, fixture_paths, _cfg(rounds=1, seen_filter=None), wd)
    vdf = spark.createDataFrame([("https://h001.example.com/",)], "url string")
    with pytest.raises(ValueError, match="seen_filter 'cukoo'"):
        drv.recrawl(spark, store, _cfg(seen_filter="cukoo"), vdf)
    assert store.latest_round() == 0
