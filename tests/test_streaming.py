"""Structured Streaming twins vs their batch results (SURVEY.md §2.2).

Each stream runs a file source with an availableNow trigger into a
memory sink, then is compared against the equivalent batch computation
on the same parquet input — the twin relationship the module promises.
"""

from __future__ import annotations

import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from storm_focused_crawler_spark.streaming import live


def _run_stream(df, name: str, mode: str = "update") -> str:
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return name


@pytest.fixture(scope="module")
def events_path(sf_dir, tmp_path_factory):
    # file stream sources require a DIRECTORY; stage the single parquet
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def test_tumbling_counts_stream_matches_batch(spark, events_path):
    s = live.tumbling_counts_stream(live.events_stream(spark, events_path))
    name = _run_stream(s, f"tumble_{uuid.uuid4().hex[:8]}", mode="complete")
    got = {
        (r["win_start"], r["event_type"]): r["n"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch = (
        spark.read.parquet(events_path)
        .groupBy(F.window("ts", "5 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )
    want = {(r["win_start"], r["event_type"]): r["n"] for r in batch.collect()}
    assert got == want


def test_session_counts_stream_total_events(spark, events_path):
    s = live.session_counts_stream(live.events_stream(spark, events_path))
    name = _run_stream(s, f"sess_{uuid.uuid4().hex[:8]}", mode="complete")
    out = spark.sql(f"SELECT sum(n_events) AS t, count(*) AS sessions FROM {name}").collect()[0]
    n_events = spark.read.parquet(events_path).count()
    assert out["t"] == n_events  # every event lands in exactly one session
    # sessions per user == the batch lag-based session count twin
    got_per_user = {
        r["user_id"]: r["ns"]
        for r in spark.sql(
            f"SELECT user_id, count(*) AS ns FROM {name} GROUP BY user_id"
        ).collect()
    }
    from storm_focused_crawler_spark.plans.queries import REGISTRY

    batch_fn = REGISTRY["stream_session_host"][0]
    want = {
        r["user_id"]: r["n_sessions"]
        for r in batch_fn(spark, events_path).collect()
    }
    assert got_per_user == want


def test_seen_filter_stream_exactly_once(spark, tmp_path):
    """Across micro-batches, each distinct url is emitted exactly once —
    the Redis SISMEMBER/SADD semantics of the reference spout chain."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "urls"
    d.mkdir()
    # 3 files → multiple micro-batches with maxFilesPerTrigger=1; urls
    # overlap across files and repeat within files
    batches = [
        [f"https://h{i % 7}.ex.com/p{i}" for i in range(40)],
        [f"https://h{i % 7}.ex.com/p{i}" for i in range(20, 60)],
        [f"https://h{i % 7}.ex.com/p{i}" for i in range(50, 90)] * 2,
    ]
    for i, urls in enumerate(batches):
        pq.write_table(pa.table({"url": pa.array(urls, pa.string())}), d / f"b{i}.parquet")

    stream = (
        spark.readStream.schema("url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = live.seen_filter_stream(stream, n_shards=8)
    q = (
        out.writeStream.format("memory")
        .queryName("seenf")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT url FROM seenf").collect()
    emitted = [r["url"] for r in rows]
    distinct_in = {u for b in batches for u in b}
    assert len(emitted) == len(set(emitted)), "url emitted more than once"
    assert set(emitted) == distinct_in, "some url never emitted"


def test_politeness_stream_caps_per_host(spark, tmp_path):
    """The streaming token bucket must emit at most budget urls per
    host across micro-batches, deterministically (url-asc order)."""
    import os

    feed = str(tmp_path / "feed")
    urls_b0 = [(f"https://h{i % 3}.ex/p{i}",) for i in range(12)]
    urls_b1 = [(f"https://h{i % 3}.ex/q{i}",) for i in range(12)]
    spark.createDataFrame(urls_b0, "url string").coalesce(1).write.parquet(
        os.path.join(feed, "b0")
    )
    spark.createDataFrame(urls_b1, "url string").coalesce(1).write.parquet(
        os.path.join(feed, "b1")
    )
    stream = (
        spark.readStream.schema("url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/*")
    )
    name = _run_stream(
        live.politeness_limit_stream(stream, budget=3),
        f"pol_{uuid.uuid4().hex[:8]}",
        mode="append",
    )
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    assert set(by_host) == {"h0.ex", "h1.ex", "h2.ex"}
    for host, hr in by_host.items():
        assert len(hr) == 3  # 8 candidates per host, capped at 3
        assert sorted(r["n_used"] for r in hr) == [1, 2, 3]
        # all emissions come from the FIRST batch (b0 files sort first
        # and already exceed the budget), in url-asc order
        urls = [r["url"] for r in sorted(hr, key=lambda r: r["n_used"])]
        assert urls == sorted(urls)


def test_politeness_stream_multichunk_group_is_global_min(spark, tmp_path):
    """applyInPandasWithState may deliver ONE host group as MULTIPLE
    Arrow chunks in a micro-batch; the emitted urls must still be the
    global url-asc minimum of the whole group, not per-chunk heads.
    Forced here by shrinking the Arrow batch size below the group size
    and feeding urls so that the globally-smallest urls land LATE in
    scan order (descending suffix)."""
    import os

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        feed = str(tmp_path / "feed_mc")
        # one host, 100 urls written in DESCENDING url order: every small
        # url arrives in a late chunk, so per-chunk head() picks wrong
        urls = [(f"https://h0.ex/p{i:03d}",) for i in range(99, -1, -1)]
        spark.createDataFrame(urls, "url string").coalesce(1).write.parquet(
            os.path.join(feed, "b0")
        )
        stream = spark.readStream.schema("url string").parquet(feed + "/*")
        name = _run_stream(
            live.politeness_limit_stream(stream, budget=5),
            f"polmc_{uuid.uuid4().hex[:8]}",
            mode="append",
        )
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        got = [r["url"] for r in sorted(rows, key=lambda r: r["n_used"])]
        want = [f"https://h0.ex/p{i:03d}" for i in range(5)]
        assert got == want, got
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_doc_dedup_stream_exactly_once(spark, tmp_path):
    """Streaming curation ingestion: each distinct TEXT is emitted
    exactly once across micro-batches (first arrival wins), matching
    the batch exact-dedup distinct-count on the union of all batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "docs"
    d.mkdir()
    texts = [f"the doc number {i % 25} body words" for i in range(60)]
    batches = [
        list(zip(range(0, 20), texts[0:20])),
        list(zip(range(20, 40), texts[20:40])),   # re-sends the same 25 texts
        list(zip(range(40, 60), texts[40:60])),
    ]
    for i, rows in enumerate(batches):
        ids, ts = zip(*rows)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(ts, pa.string())}),
            d / f"b{i}.parquet",
        )
    # the file source reads in mtime order; pin it to name order
    t0 = time.time() - 60
    for i in range(3):
        os.utime(d / f"b{i}.parquet", (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = live.doc_dedup_stream(stream, n_shards=8)
    q = (
        out.writeStream.format("memory")
        .queryName("docdedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT doc_id, text_hash FROM docdedup").collect()
    assert len(rows) == 25                                  # one per distinct text
    assert len({r["text_hash"] for r in rows}) == 25
    # survivor = first arrival: every emitted doc_id is the minimal id
    # of its text (ids increase with arrival order in this fixture)
    import pandas as pd

    full = pd.concat([pd.read_parquet(d / f"b{i}.parquet") for i in range(3)])
    first = full.groupby("text", sort=False)["doc_id"].min()
    assert sorted(r["doc_id"] for r in rows) == sorted(first.tolist())
