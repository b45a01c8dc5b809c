"""Crawl-specific UDF/stateful operators — rows-only entries.

These depend on xxhash64 / Arrow-UDF canonicalization / the pages
fixture, which DuckDB cannot reproduce, so the driver records the
weaker rows-only check; their values are pytest-locked instead:
  * canon / hash64 — tests/test_spec.py (golden + Spark lock)
  * extract/score parity — tests/test_parity.py (byte-identical text)
  * bloom — tests/test_bloom.py (no false negatives, FPR bound)
All outputs here are still fully deterministic DataFrames.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from storm_focused_crawler_spark.fixtures import gen_pages
from storm_focused_crawler_spark.functions.udfs import (
    canonicalize_udf,
    extract_links_col,
    extract_text_col,
    score_col,
)
from storm_focused_crawler_spark.operators import bloom as B
from storm_focused_crawler_spark.plans.queries import _t, _urls, op
from storm_focused_crawler_spark.sources.session import tempdir


def _pages(spark, sf_dir):
    paths = gen_pages.ensure(sf_dir)
    return spark.read.parquet(paths["pages"])


@op("url_canonicalize", None)
def url_canonicalize(spark, sf_dir):
    u = _urls(spark, sf_dir)
    noisy = u.select(
        F.when(F.col("doc_id") % 4 == 0, F.upper("url"))
        .when(F.col("doc_id") % 4 == 1, F.concat("url", F.lit("#frag")))
        .when(F.col("doc_id") % 4 == 2, F.regexp_replace("url", "https://", "HTTPS://"))
        .otherwise(F.col("url"))
        .alias("url_raw")
    )
    return noisy.withColumn("url_canon", canonicalize_udf(F.col("url_raw")))


@op("hash64_url", None)
def hash64_url(spark, sf_dir):
    # SURVEY §2.1-2: h(url) = xxhash64(canon(url), seed=42) — canonicalize
    # FIRST (pytest-locked to spec.xxh64(spec.canon(u)) in test_spec.py)
    u = _urls(spark, sf_dir)
    return u.select(
        "url", F.xxhash64(canonicalize_udf(F.col("url"))).alias("url_hash")
    )


@op("extract_text", None)
def extract_text_op(spark, sf_dir):
    p = _pages(spark, sf_dir).dropDuplicates(["url"])  # any capture: html identical per url
    return p.select("url", extract_text_col(F.col("html")).alias("text_x"))


@op("extract_links", None)
def extract_links_op(spark, sf_dir):
    p = _pages(spark, sf_dir).dropDuplicates(["url"])
    links = extract_links_col(F.col("html"))
    return p.select(
        "url", F.size(links).alias("n_links"),
        F.try_element_at(links, F.lit(1)).alias("first_link"),
    )


@op("score_relevance", None)
def score_relevance(spark, sf_dir):
    p = _pages(spark, sf_dir).dropDuplicates(["url"])
    kw = gen_pages.topic_keywords()
    return p.select("url", score_col(extract_text_col(F.col("html")), kw).alias("score"))


@op("bloom_build_merge", None)
def bloom_build_merge(spark, sf_dir):
    u = _urls(spark, sf_dir).select(F.xxhash64("url").alias("url_hash"))
    half_a = u.filter(F.pmod(F.col("url_hash"), F.lit(2)) == 0)
    half_b = u.filter(F.pmod(F.col("url_hash"), F.lit(2)) == 1)
    n_bits = 1 << 16
    merged = B.merge_shards(
        B.build_shards(half_a, n_shards=4, n_bits=n_bits),
        B.build_shards(half_b, n_shards=4, n_bits=n_bits),
    )
    # deterministic shard stats: rows hashed + popcount of the bitset
    return merged.select(
        "shard", "n",
        F.aggregate(
            F.transform(F.split(F.hex(F.col("bits")), ""),
                        lambda c: F.bit_count(F.conv(c, 16, 10).cast("long"))),
            F.lit(0).cast("long"), lambda a, x: a + x,
        ).alias("bits_set"),
    )


@op("cuckoo_build_merge", None)  # pytest-locked (tests/test_cuckoo.py), rows-only
def cuckoo_build_merge(spark, sf_dir):
    """Cuckoo half of the north star's "Bloom/cuckoo-filter URL-seen
    set": build per-half shards, semantic merge, emit per-shard stats.
    Entry COUNT is order-invariant (set-semantic inserts); table bytes
    are not part of the contract (see operators/cuckoo.py)."""
    from storm_focused_crawler_spark.operators import cuckoo as CK

    u = _urls(spark, sf_dir).select(F.xxhash64("url").alias("url_hash"))
    half_a = u.filter(F.pmod(F.col("url_hash"), F.lit(2)) == 0)
    half_b = u.filter(F.pmod(F.col("url_hash"), F.lit(2)) == 1)
    n_buckets = 1 << 10
    merged = CK.merge_shards(
        CK.build_shards(half_a, n_shards=4, n_buckets=n_buckets),
        CK.build_shards(half_b, n_shards=4, n_buckets=n_buckets),
    )
    # stored-entry count = non-zero uint16 slots (2 bytes each; the
    # zero test is endianness-independent) + stash entries (8B each).
    # Counted with ONE numpy pass per blob (Arrow-batched pandas UDF):
    # the r5 JVM fold re-hexed the whole 2 KiB table once per slot
    # (an O(slots²)-byte expression, ~70% of this op's wall) and
    # CollapseProject re-inlines any hoisted hex() back into the
    # per-slot lambda, so the expression route cannot be saved by a
    # projection — values locked identical by the swap-in test run.
    @F.pandas_udf("long")
    def _nonzero_slots(tbl: pd.Series) -> pd.Series:
        return tbl.map(
            lambda b: int(np.count_nonzero(np.frombuffer(b, dtype=np.uint16)))
        )

    return merged.select(
        "shard",
        "n",
        (_nonzero_slots(F.col("table")) + F.octet_length("stash") / 8)
        .cast("long")
        .alias("n_entries"),
    ).orderBy("shard")


@op("dequeue_crawl_delay", None)  # pytest-locked (tests/test_crawl_delay.py)
def dequeue_crawl_delay(spark, sf_dir):
    """Per-host crawl-delay dequeue ([R] fetcher inter-request interval;
    VERDICT r03 'Next round' #3): host_budget carries min_interval_ms,
    so a host's per-round budget is capped at ceil(round_ms / interval)
    and each pick gets its politeness-spaced sched_ms offset.  The cap
    and spacing are integer-exact twins of oracle/seqcrawler's; crawl
    parity with mixed budgets+delays is locked in test_crawl_delay.py."""
    from storm_focused_crawler_spark.operators.frontier import dequeue

    u = _urls(spark, sf_dir).select(
        "url", F.xxhash64("url").alias("url_hash"), "score",
        F.lit(0).alias("depth"), "host",
    )
    hosts = u.select("host").distinct()
    hb = hosts.select(
        "host",
        (2 + F.pmod(F.xxhash64("host"), F.lit(4))).cast("int").alias("budget"),
        F.when(F.pmod(F.xxhash64("host"), F.lit(3)) == 0, F.lit(15_000))
        .when(F.pmod(F.xxhash64("host"), F.lit(3)) == 1, F.lit(40_000))
        .otherwise(F.lit(None).cast("int"))
        .alias("min_interval_ms"),
    )
    return dequeue(u, hb, capacity=200, round_ms=60_000).select(
        "host", "url", "seq", "sched_ms"
    )


@op("agg_round_metrics", None)
def agg_round_metrics(spark, sf_dir):
    u = _urls(spark, sf_dir).repartition(4, "url")
    return (
        u.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("rows_out"))
        .withColumn("stage", F.lit("urls_scan"))
    )


@op("sink_results", None)
def sink_results(spark, sf_dir):
    out = tempdir("sfc_sink_") + "/results"
    df = _urls(spark, sf_dir).select("url", "score")
    df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@op("sink_checkpoint", None)
def sink_checkpoint(spark, sf_dir):
    from storm_focused_crawler_spark.sources.storage import ParquetSnapshotStore

    store = ParquetSnapshotStore(tempdir("sfc_ckpt_"))
    df = _urls(spark, sf_dir).select("url", "score")
    counts = store.write_round(0, {"frontier": df})
    assert store.latest_round() == 0
    back = store.read(spark, 0, "frontier")
    return back.agg(
        F.count("*").alias("rows_committed"),
        F.lit(counts["frontier"]).alias("manifest_rows"),
    )
