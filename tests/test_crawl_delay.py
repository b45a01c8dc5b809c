"""Per-host crawl-delay (VERDICT r03 'Next round' #3): host_budget's
``min_interval_ms`` caps a host's per-round budget at
ceil(round_ms / interval) with politeness-spaced ``sched_ms`` offsets
— enforced in the batch dequeue (operators/frontier.dequeue), the
sequential oracle (oracle/seqcrawler), and the streaming token bucket
(streaming/live.politeness_limit_stream), all integer-exact twins."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from storm_focused_crawler_spark import driver as drv
from storm_focused_crawler_spark.fixtures import gen_pages
from storm_focused_crawler_spark.operators.frontier import dequeue
from storm_focused_crawler_spark.oracle import seqcrawler as sq

ROUND_MS = 60_000


def _ceil(a: int, b: int) -> int:
    return (a + b - 1) // b


def _uniform_rows():
    return [
        (f"https://h{i % 5}.ex/p{i:03d}", float((i * 7) % 13), i)
        for i in range(60)
    ]


def _skewed_rows():
    """h0.ex holds 70% of the rows (score ties broken by url)."""
    return [
        (f"https://{'h0' if i % 10 < 7 else f'h{1 + i % 4}'}.ex/p{i:04d}",
         float((i * 7) % 13), i)
        for i in range(400)
    ]


@pytest.mark.parametrize("parts", [1, 8])
def test_dequeue_interval_caps_and_sched_ms(spark, parts):
    """Engine dequeue vs a direct python computation: per-host counts
    equal min(budget, ceil(round_ms/interval)), picks are the per-host
    (score desc, url asc) top so capped, and sched_ms spaces them
    interval ms apart (0 for no-delay hosts).  Also with one host
    holding most rows and the input spread over 8 partitions, so a
    host's top rows sit in different map tasks — the map-side Partial
    top-k must still keep the exact per-host top."""
    hb = spark.createDataFrame(
        [
            ("h0.ex", 5, 15_000),   # icap 4 < budget 5 → capped at 4
            ("h1.ex", 3, 40_000),   # icap 2 < budget 3 → capped at 2
            ("h2.ex", 4, 70_000),   # icap 1 → single fetch this round
            ("h3.ex", 2, None),     # no delay → budget 2
            # h4.ex missing → DEFAULT_BUDGET 2, no delay
        ],
        "host string, budget int, min_interval_ms int",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        for rows, spread in ((_uniform_rows(), None), (_skewed_rows(), None),
                             (_skewed_rows(), 8)):
            elig = spark.createDataFrame(
                [(u, hash(u) % (1 << 60), s, 0, u.split("/")[2]) for u, s, _ in rows],
                "url string, url_hash long, score double, depth int, host string",
            )
            if spread:
                elig = elig.repartition(spread)
            got = dequeue(elig, hb, capacity=100, round_ms=ROUND_MS).collect()
            _check_interval_caps(rows, got)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _check_interval_caps(rows, got):
    by_host: dict[str, list] = {}
    for r in got:
        by_host.setdefault(r["host"], []).append(r)
    want_counts = {"h0.ex": 4, "h1.ex": 2, "h2.ex": 1, "h3.ex": 2, "h4.ex": 2}
    assert {h: len(v) for h, v in by_host.items()} == want_counts
    intervals = {"h0.ex": 15_000, "h1.ex": 40_000, "h2.ex": 70_000}
    for host, hr in by_host.items():
        hr.sort(key=lambda r: (-r["score"], r["url"]))
        i = intervals.get(host, 0)
        assert [r["sched_ms"] for r in hr] == [k * i for k in range(len(hr))], host
        # picks are the host's global (score desc, url asc) top-cap
        all_host = sorted(
            (r for r in rows if r[0].split("/")[2] == host),
            key=lambda t: (-t[1], t[0]),
        )
        assert [r["url"] for r in hr] == [t[0] for t in all_host[: len(hr)]]


@pytest.fixture(scope="module")
def delayed_paths(tmp_path_factory):
    """Fixture variant: host_budget gains a mixed min_interval_ms column
    (binding caps on ~2/3 of hosts, null on the rest)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = gen_pages.ensure("/root/testdata/sf0.001")
    hb = pq.read_table(paths["host_budget"])
    hosts = hb.column("host").to_pylist()
    budgets = hb.column("budget").to_pylist()
    ivals = []
    for i, _h in enumerate(hosts):
        ivals.append([15_000, 40_000, None][i % 3])
    d = tmp_path_factory.mktemp("delay_fix")
    out = str(d / "host_budget.parquet")
    pq.write_table(
        pa.table({
            "host": pa.array(hosts, pa.string()),
            "budget": pa.array(budgets, pa.int32()),
            "min_interval_ms": pa.array(ivals, pa.int32()),
        }),
        out,
    )
    return dict(paths, host_budget=out)


def test_crawl_parity_with_mixed_budgets_and_delays(spark, delayed_paths, tmp_path):
    """Full crawl parity — ordering rows and seen set — against the
    sequential oracle when most hosts carry a binding crawl-delay."""
    cfg = drv.CrawlConfig(
        rounds=3, capacity=64, keywords=tuple(gen_pages.topic_keywords())
    )
    wd = str(tmp_path / f"wd_{uuid.uuid4().hex[:6]}")
    shutil.rmtree(wd, ignore_errors=True)
    store = drv.run_crawl(spark, delayed_paths, cfg, wd)

    pages, seeds, robots, budgets = sq.load_fixture_inputs(delayed_paths)
    intervals = sq.load_intervals(delayed_paths)
    assert intervals  # the variant actually carries delays
    res = sq.crawl(
        pages, seeds, robots, budgets,
        sq.CrawlConfig(rounds=3, capacity=64,
                       keywords=tuple(gen_pages.topic_keywords())),
        intervals=intervals,
    )
    got = []
    for r in range(cfg.rounds):
        got += sorted(
            (x["round"], x["seq"], x["url"])
            for x in store.read(spark, r, "ordering").collect()
        )
    assert got == sorted(res.ordering)
    got_seen = {
        x["url_hash"]
        for x in store.read_union(spark, cfg.rounds - 1, "seen").collect()
    }
    assert got_seen == res.seen_hashes
    # the cross-round clock agrees: engine host_sched snapshot ==
    # oracle host_last_abs (both only track delayed hosts)
    clock = {
        r["host"]: r["last_abs_ms"]
        for r in store.read(spark, cfg.rounds - 1, "host_sched").collect()
    }
    assert clock == res.host_last_abs
    # the delays actually BIND: some host hit its interval cap below its
    # budget (otherwise this test proves nothing)
    from storm_focused_crawler_spark.functions.udfs import host_col

    deq_hosts = (
        store.read(spark, 0, "ordering")
        .select(host_col(F.col("url")).alias("host"))
        .groupBy("host").count().collect()
    )
    capped = [
        r for r in deq_hosts
        if intervals.get(r["host"])
        and _ceil(ROUND_MS, intervals[r["host"]]) < budgets.get(r["host"], 2)
    ]
    assert capped, "no host had a binding interval cap — fixture too weak"


def test_streaming_token_bucket_interval_cap(spark, tmp_path):
    """politeness_limit_stream with min_interval_ms: each micro-batch
    (one round_ms window) emits at most ceil(round_ms/interval) urls per
    host, while the lifetime budget keeps counting across batches."""
    feed = str(tmp_path / "feed_delay")
    b0 = [(f"https://h{i % 2}.ex/a{i:02d}",) for i in range(10)]
    b1 = [(f"https://h{i % 2}.ex/b{i:02d}",) for i in range(10)]
    spark.createDataFrame(b0, "url string").coalesce(1).write.parquet(
        os.path.join(feed, "b0")
    )
    spark.createDataFrame(b1, "url string").coalesce(1).write.parquet(
        os.path.join(feed, "b1")
    )
    stream = (
        spark.readStream.schema("url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/*")
    )
    from storm_focused_crawler_spark.streaming import live

    # budget 5 per host lifetime; interval 25s in a 60s round → icap 3
    name = f"delay_{uuid.uuid4().hex[:8]}"
    q = (
        live.politeness_limit_stream(
            stream, budget=5, min_interval_ms=25_000, round_ms=ROUND_MS
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    by_host: dict[str, list] = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    for host, hr in by_host.items():
        # batch 1: icap=3 admitted; batch 2: min(5-3, 3)=2 → 5 total,
        # never more than 3 from one batch (n_used encodes the order)
        assert len(hr) == 5, (host, len(hr))
        hr.sort(key=lambda r: r["n_used"])
        batch1 = [r["url"] for r in hr[:3]]
        assert all("/a" in u for u in batch1), batch1  # first window's files
        assert all("/b" in r["url"] for r in hr[3:])


def test_dequeue_host_carry_shifts_and_caps(spark):
    """Cross-round carry (VERDICT r04 #2), operator level: carry_ms
    shifts a host's first sched_ms, shrinks the politeness window (so
    the interval cap drops), and a debt ≥ round_ms yields ZERO fetches;
    no-delay hosts ignore any carry row."""
    rows = []
    for h in ("hA.ex", "hB.ex", "hC.ex", "hD.ex"):
        for i in range(6):
            rows.append((f"https://{h}/p{i}", float(10 - i)))
    elig = spark.createDataFrame(
        [(u, hash(u) % (1 << 60), s, 0, u.split("/")[2]) for u, s in rows],
        "url string, url_hash long, score double, depth int, host string",
    )
    hb = spark.createDataFrame(
        [
            ("hA.ex", 5, 40_000),
            ("hB.ex", 5, 15_000),
            ("hC.ex", 5, 40_000),
            ("hD.ex", 3, None),
        ],
        "host string, budget int, min_interval_ms int",
    )
    carry = spark.createDataFrame(
        [("hA.ex", 20_000), ("hB.ex", 10_000), ("hC.ex", 70_000), ("hD.ex", 50_000)],
        "host string, carry_ms long",
    )
    got = dequeue(
        elig, hb, capacity=100, round_ms=ROUND_MS, host_carry=carry
    ).collect()
    by_host: dict[str, list] = {}
    for r in got:
        by_host.setdefault(r["host"], []).append(r)
    for v in by_host.values():
        v.sort(key=lambda r: (-r["score"], r["url"]))
    # hA: window left 40000 → cap ceil(40000/40000)=1, shifted start
    assert [r["sched_ms"] for r in by_host["hA.ex"]] == [20_000]
    # hB: left 50000 → cap min(5, ceil(50000/15000)=4), spaced from 10000
    assert [r["sched_ms"] for r in by_host["hB.ex"]] == [10_000, 25_000, 40_000, 55_000]
    # hC: debt 70000 ≥ round → zero fetches this round
    assert "hC.ex" not in by_host
    # hD: no interval → carry ignored, budget 3, sched 0
    assert [r["sched_ms"] for r in by_host["hD.ex"]] == [0, 0, 0]


def test_crawl_delay_continuity_across_rounds(spark, tmp_path):
    """Driver-level continuity: one host with interval 150 s > the 60 s
    round window fetches on rounds 0 and 2 only (debt skips round 1 and
    3 entirely), round 2's fetch is shifted 30 s into the window, and
    the engine's checkpointed host_sched clock matches the oracle's."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    d = tmp_path / "slowfix"
    d.mkdir()
    urls = [f"https://slow.ex/p{i}" for i in range(6)]
    # each page links to the next two (same host), so the frontier keeps
    # refilling via DISCOVERY — seeds all become seen after round 0
    # (§2.1-3), so a seeds-only fixture would empty out after one round
    html = [
        (f'<html><body><a href="https://slow.ex/p{i + 1}">a</a>'
         f'<a href="https://slow.ex/p{i + 2}">b</a></body></html>').encode()
        for i in range(6)
    ]
    pq.write_table(
        pa.table({
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array([datetime(2024, 1, 1, 0, 0, i) for i in range(6)],
                                pa.timestamp("us")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array([""] * 6, pa.string()),
            "lang": pa.array(["en"] * 6, pa.string()),
        }),
        str(d / "pages.parquet"),
    )
    pq.write_table(
        pa.table({"host": pa.array([], pa.string()),
                  "disallow_prefix": pa.array([], pa.string())}),
        str(d / "robots.parquet"),
    )
    pq.write_table(
        pa.table({"host": pa.array(["slow.ex"], pa.string()),
                  "budget": pa.array([3], pa.int32()),
                  "min_interval_ms": pa.array([150_000], pa.int32())}),
        str(d / "host_budget.parquet"),
    )
    with open(d / "seeds.json", "w") as f:
        _json.dump(urls[:1], f)
    paths = {"pages": str(d / "pages.parquet"), "robots": str(d / "robots.parquet"),
             "host_budget": str(d / "host_budget.parquet"),
             "seeds": str(d / "seeds.json")}
    cfg = drv.CrawlConfig(rounds=4, capacity=8, keywords=())
    wd = str(tmp_path / "wd")
    store = drv.run_crawl(spark, paths, cfg, wd)
    per_round = [store.read(spark, r, "ordering").count() for r in range(4)]
    # r0: fetch at 0; r1: debt 90 s → none; r2: fetch at 30 s; r3: none
    assert per_round == [1, 0, 1, 0]
    clock = {r["host"]: r["last_abs_ms"]
             for r in store.read(spark, 3, "host_sched").collect()}
    assert clock == {"slow.ex": 150_000}  # round 2 start (120 s) + 30 s shift

    pages, seeds, robots, budgets = sq.load_fixture_inputs(paths)
    res = sq.crawl(pages, seeds, robots, budgets,
                   sq.CrawlConfig(rounds=4, capacity=8, keywords=()),
                   intervals=sq.load_intervals(paths))
    got = []
    for r in range(4):
        got += sorted((x["round"], x["seq"], x["url"])
                      for x in store.read(spark, r, "ordering").collect())
    assert got == sorted(res.ordering)
    assert res.host_last_abs == {"slow.ex": 150_000}

    # resume: stop after round 1 and resume to round 4 — the debt
    # crosses the restart only through the committed host_sched
    # snapshot, so orderings and the round-3 clock match the
    # uninterrupted run
    wd_resume = str(tmp_path / "wd_resume")
    drv.run_crawl(spark, paths, drv.CrawlConfig(rounds=2, capacity=8, keywords=()),
                  wd_resume)
    resumed = drv.run_crawl(spark, paths, cfg, wd_resume)
    for r in range(4):
        assert sorted(map(tuple, resumed.read(spark, r, "ordering").collect())) == sorted(
            map(tuple, store.read(spark, r, "ordering").collect())
        )
    assert {r["host"]: r["last_abs_ms"]
            for r in resumed.read(spark, 3, "host_sched").collect()} == clock


def test_streaming_sched_ms_matches_batch_dequeue(spark, tmp_path):
    """VERDICT r04 #7: the streaming bucket emits sched_ms from the
    SAME integer math as the batch dequeue — identical per-host spacing
    on the same fixture (scores 0 so both pick in url-asc order)."""
    urls = [f"https://h{i % 3}.ex/p{i:02d}" for i in range(18)]
    # batch side
    elig = spark.createDataFrame(
        [(u, hash(u) % (1 << 60), 0.0, 0, u.split("/")[2]) for u in urls],
        "url string, url_hash long, score double, depth int, host string",
    )
    hb = spark.createDataFrame(
        [(f"h{i}.ex", 5, 25_000) for i in range(3)],
        "host string, budget int, min_interval_ms int",
    )
    batch = dequeue(elig, hb, capacity=100, round_ms=ROUND_MS).collect()
    batch_sched = {}
    for r in batch:
        batch_sched.setdefault(r["host"], []).append((r["url"], r["sched_ms"]))
    # streaming side: one micro-batch = one round window
    feed = str(tmp_path / "feed_parity")
    spark.createDataFrame([(u,) for u in urls], "url string").coalesce(1) \
        .write.parquet(feed)
    stream = spark.readStream.schema("url string").parquet(feed)
    from storm_focused_crawler_spark.streaming import live

    name = f"schedpar_{uuid.uuid4().hex[:8]}"
    q = (
        live.politeness_limit_stream(
            stream, budget=5, min_interval_ms=25_000, round_ms=ROUND_MS
        )
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    stream_sched = {}
    for r in spark.sql(f"SELECT * FROM {name}").collect():
        stream_sched.setdefault(r["host"], []).append((r["url"], r["sched_ms"]))
    for d in (batch_sched, stream_sched):
        for v in d.values():
            v.sort()
    assert batch_sched == stream_sched
    # and the spacing is non-trivial (icap 3 < budget 5 binds)
    assert all(len(v) == 3 for v in batch_sched.values())
    assert [s for _, s in batch_sched["h0.ex"]] == [0, 25_000, 50_000]


def test_dequeue_crawl_delay_registry_op(spark):
    """The registry entry runs and respects its own caps."""
    import __spark_entry__ as e

    df = e.queries()["dequeue_crawl_delay"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert rows
    by_host: dict[str, int] = {}
    for r in rows:
        by_host[r["host"]] = by_host.get(r["host"], 0) + 1
    from storm_focused_crawler_spark import spec

    for host, n in by_host.items():
        signed = spec.xxh64(host)  # signed, = Spark's xxhash64; % is pmod
        budget = 2 + signed % 4
        m3 = signed % 3  # python % on positive modulus == Spark pmod
        icap = {0: _ceil(ROUND_MS, 15_000), 1: _ceil(ROUND_MS, 40_000)}.get(m3)
        cap = min(budget, icap) if icap else budget
        assert n <= cap, (host, n, cap)
