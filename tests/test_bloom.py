"""Bloom seen-set properties (SURVEY.md §5.2-3): zero false negatives,
bounded FPR, OR-merge correctness, and the shared probe harness's two
modes on Bloom shards.  test_seen_filter.py runs the same harness over
both filter kinds against each kind's own membership test."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from storm_focused_crawler_spark.operators import bloom as B
from storm_focused_crawler_spark.operators import seen_filter as SF

N_BITS = 1 << 16
N_SHARDS = 4


@pytest.fixture(scope="module")
def hashes():
    rng = np.random.RandomState(42)
    return rng.randint(-(2 ** 63), 2 ** 63 - 1, size=4000, dtype=np.int64)


def test_no_false_negatives(spark, hashes):
    inserted = hashes[:2000]
    df = spark.createDataFrame([(int(h),) for h in inserted], "url_hash long")
    shards = B.build_shards(df, N_SHARDS, N_BITS)
    probe = SF.probe_col(spark, B, shards, N_SHARDS, N_BITS)
    out = df.withColumn("m", probe(F.col("url_hash"))).filter(~F.col("m")).count()
    assert out == 0  # every inserted hash must probe positive


def test_fpr_bounded(spark, hashes):
    inserted, fresh = hashes[:2000], hashes[2000:]
    df = spark.createDataFrame([(int(h),) for h in inserted], "url_hash long")
    shards = B.build_shards(df, N_SHARDS, N_BITS)
    probe = SF.probe_col(spark, B, shards, N_SHARDS, N_BITS)
    fdf = spark.createDataFrame([(int(h),) for h in fresh], "url_hash long")
    fp = fdf.withColumn("m", probe(F.col("url_hash"))).filter(F.col("m")).count()
    # theoretical FPR for n/shard=500, m bits=65536, k=5 ≈ (1-e^{-kn/m})^k
    n_per, k = len(inserted) / N_SHARDS, B.K_HASHES
    theo = (1 - np.exp(-k * n_per / N_BITS)) ** k
    assert fp / len(fresh) <= max(2 * theo, 0.01), (fp / len(fresh), theo)


def test_routed_probe_equals_broadcast_probe(spark, hashes):
    """The shard-routed (cogrouped, per-shard bitset) probe must return
    exactly the broadcast probe's verdicts — same bitsets, same math."""
    inserted = hashes[:2000]
    df = spark.createDataFrame([(int(h),) for h in hashes], "url_hash long")
    ins = spark.createDataFrame([(int(h),) for h in inserted], "url_hash long")
    shards = B.build_shards(ins, N_SHARDS, N_BITS)
    col_fn = SF.probe_col(spark, B, shards, N_SHARDS, N_BITS)
    bcast = {r["url_hash"]: r["m"]
             for r in df.withColumn("m", col_fn(F.col("url_hash"))).collect()}
    routed = {r["url_hash"]: r["_maybe"]
              for r in SF.probe_routed(df, B, shards, N_SHARDS, N_BITS).collect()}
    assert bcast == routed


def test_routed_probe_plan_is_cogrouped_not_broadcast(spark, hashes):
    """Scale property: the routed path must be a cogroup on the shard
    key (each task reads one bitset), with no broadcast of the shards."""
    ins = spark.createDataFrame([(int(h),) for h in hashes[:100]], "url_hash long")
    shards = B.build_shards(ins, N_SHARDS, N_BITS)
    plan = (
        SF.probe_routed(ins, B, shards, N_SHARDS, N_BITS)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BroadcastExchange" not in plan


def test_probe_transform_picks_mode_by_size(spark, hashes, monkeypatch):
    ins = spark.createDataFrame([(int(h),) for h in hashes[:100]], "url_hash long")
    shards = B.build_shards(ins, N_SHARDS, N_BITS)
    monkeypatch.setattr(SF, "BROADCAST_MAX_BYTES", 0)
    routed = SF.probe_transform(spark, B, shards, N_SHARDS, N_BITS)
    plan = routed(ins)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    monkeypatch.setattr(SF, "BROADCAST_MAX_BYTES", 1 << 30)
    bcast = SF.probe_transform(spark, B, shards, N_SHARDS, N_BITS)
    plan2 = bcast(ins)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in plan2


def test_merge_equals_rebuild(spark, hashes):
    a = spark.createDataFrame([(int(h),) for h in hashes[:1000]], "url_hash long")
    b = spark.createDataFrame([(int(h),) for h in hashes[1000:2000]], "url_hash long")
    both = a.unionByName(b)
    merged = {
        r["shard"]: r["bits"]
        for r in B.merge_shards(
            B.build_shards(a, N_SHARDS, N_BITS), B.build_shards(b, N_SHARDS, N_BITS)
        ).collect()
    }
    rebuilt = {r["shard"]: r["bits"] for r in B.build_shards(both, N_SHARDS, N_BITS).collect()}
    assert merged == rebuilt
