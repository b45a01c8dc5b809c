"""Seen-set compaction (CrawlConfig.compact_every): long crawls bound
their delta-scan fan-in by periodically rewriting the full seen set
inside a round's atomic commit; state must be identical with and
without compaction, including across a resume at the boundary."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401 (plan parity helpers)

from storm_focused_crawler_spark import driver as drv
from storm_focused_crawler_spark.fixtures import gen_pages

ROUNDS = 5


def _cfg(rounds, compact_every):
    return drv.CrawlConfig(
        rounds=rounds, capacity=32,
        keywords=tuple(gen_pages.topic_keywords()),
        compact_every=compact_every,
    )


def _state(spark, store, rounds):
    ordering = sorted(
        (r["round"], r["seq"], r["url"])
        for n in range(rounds)
        for r in store.read(spark, n, "ordering").collect()
    )
    seen = {r["url_hash"] for r in store.read_union(spark, rounds - 1, "seen").collect()}
    return ordering, seen


def test_compaction_state_identical(spark, sf_dir, tmp_path):
    paths = gen_pages.ensure(sf_dir)
    s_plain = drv.run_crawl(spark, paths, _cfg(ROUNDS, 0), str(tmp_path / "plain"))
    s_comp = drv.run_crawl(spark, paths, _cfg(ROUNDS, 2), str(tmp_path / "comp"))
    assert _state(spark, s_plain, ROUNDS) == _state(spark, s_comp, ROUNDS)
    # compactions actually happened at rounds 1 and 3 (0-indexed)
    for r, expect in [(0, False), (1, True), (2, False), (3, True)]:
        assert ("seen_full" in s_comp.manifest(r)["tables"]) is expect, r


def test_resume_across_compaction_boundary(spark, sf_dir, tmp_path):
    paths = gen_pages.ensure(sf_dir)
    wd = str(tmp_path / "resume")
    drv.run_crawl(spark, paths, _cfg(2, 2), wd)  # stops right after a compaction
    s = drv.run_crawl(spark, paths, _cfg(ROUNDS, 2), wd, resume=True)
    ref = drv.run_crawl(spark, paths, _cfg(ROUNDS, 0), str(tmp_path / "ref"))
    assert _state(spark, s, ROUNDS) == _state(spark, ref, ROUNDS)


def test_delta_tables_compact_too(spark, sf_dir, tmp_path):
    """host_edges and postings are append-only deltas like `seen`; a
    compaction round must rewrite their full sets as well (otherwise a
    long crawl's read_union fan-in grows without bound), and the
    compacted read must equal the plain (uncompacted) union — content
    AND multiplicity (pagerank counts multi-edges)."""
    paths = gen_pages.ensure(sf_dir)

    def cfg(compact_every):
        return drv.CrawlConfig(
            rounds=ROUNDS, capacity=32,
            keywords=tuple(gen_pages.topic_keywords()),
            compact_every=compact_every,
            host_rank_weight=0.25, build_text_index=True,
        )

    s_plain = drv.run_crawl(spark, paths, cfg(0), str(tmp_path / "dplain"))
    s_comp = drv.run_crawl(spark, paths, cfg(2), str(tmp_path / "dcomp"))

    # compaction rounds carry the full tables + the manifest pointer
    m3 = s_comp.manifest(3)
    for tbl in ("seen", "host_edges", "postings"):
        assert f"{tbl}_full" in m3["tables"], tbl
        assert m3["compact"][tbl] == 3, tbl

    def bag(store, table, cols):
        rows = store.read_union(spark, ROUNDS - 1, table).select(*cols).collect()
        return sorted(map(tuple, rows))

    assert bag(s_comp, "host_edges", ["src", "dst"]) == bag(
        s_plain, "host_edges", ["src", "dst"]
    )
    assert bag(s_comp, "postings", ["token", "doc", "tf"]) == bag(
        s_plain, "postings", ["token", "doc", "tf"]
    )
    # and the compacted read actually resolves from the pointer: the
    # full table alone already holds every pre-boundary row
    full_only = {
        tuple(r) for r in s_comp.read(spark, 3, "host_edges_full")
        .select("src", "dst").collect()
    }
    pre = {
        tuple(r)
        for n in range(4)
        for r in s_comp.read(spark, n, "host_edges").select("src", "dst").collect()
    }
    assert pre <= full_only


def test_filter_sidecar_snapshots_pruned_on_compaction(spark, sf_dir, tmp_path):
    """The bloom/cuckoo sidecar is a FULL snapshot per round; compaction
    rounds prune the older ones (VERDICT r03 #7), so a long crawl's
    state dir holds O(compact_every) filter snapshots — while resume,
    probe correctness, and state parity are untouched."""
    import os

    paths = gen_pages.ensure(sf_dir)

    def cfg(rounds, compact_every, **kw):
        return drv.CrawlConfig(
            rounds=rounds, capacity=32,
            keywords=tuple(gen_pages.topic_keywords()),
            compact_every=compact_every,
            seen_filter="cuckoo",
            bloom_shards=4, cuckoo_buckets_per_shard=1 << 10, **kw,
        )

    wd = str(tmp_path / "prune")
    store = drv.run_crawl(spark, paths, cfg(9, 3), wd)

    def bloom_rounds():
        root = store.root
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(root)
            if d.startswith("round=")
            and os.path.isdir(os.path.join(root, d, "bloom"))
        )

    have = bloom_rounds()
    # last compaction at round 8 pruned every snapshot below 8
    assert have == [8], have
    # pruned rounds' manifests record it and drop the table entry
    for r in range(8):
        m = store.manifest(r)
        assert "bloom" not in m["tables"], r
        assert "bloom" in m.get("pruned", {}), r
    # state parity with an unpruned/uncompacted run
    ref = drv.run_crawl(
        spark, paths,
        drv.CrawlConfig(rounds=9, capacity=32,
                        keywords=tuple(gen_pages.topic_keywords()),
                        compact_every=0),
        str(tmp_path / "prune_ref"),
    )
    assert _state(spark, store, 9) == _state(spark, ref, 9)
    # resume after pruning still works (reads only the latest snapshot)
    store2 = drv.run_crawl(spark, paths, cfg(11, 3), wd, resume=True)
    assert store2.latest_round() == 10
    assert bloom_rounds() == [8, 9, 10]  # next compaction lands at 11


def test_host_used_snapshots_pruned_on_compaction(spark, sf_dir, tmp_path):
    """host_used (the per-host quota spend) is a full snapshot per round
    like the filter sidecar.  A crawl with the quota on and no crawl
    delay must prune it on compaction rounds too (ADVICE r05: its
    pruning was once gated on the crawl-delay setting), with ordering
    and seen state equal to an uncompacted run."""
    import os

    paths = gen_pages.ensure(sf_dir)
    rounds = 6

    def cfg(compact_every):
        return drv.CrawlConfig(
            rounds=rounds, capacity=32,
            keywords=tuple(gen_pages.topic_keywords()),
            compact_every=compact_every, max_pages_per_host=3,
        )

    store = drv.run_crawl(spark, paths, cfg(3), str(tmp_path / "used"))
    have = sorted(
        r for r in range(rounds)
        if os.path.isdir(os.path.join(store.root, f"round={r}", "host_used"))
    )
    # compactions at rounds 2 and 5; the last pruned every snapshot below 5
    assert have == [5], have
    assert "host_used" in store.manifest(5)["tables"]
    for r in range(5):
        m = store.manifest(r)
        assert "host_sched" not in m["tables"], r  # no crawl delay
        assert "host_used" not in m["tables"], r
        assert "host_used" in m.get("pruned", {}), r
    ref = drv.run_crawl(spark, paths, cfg(0), str(tmp_path / "used_ref"))
    assert _state(spark, store, rounds) == _state(spark, ref, rounds)
