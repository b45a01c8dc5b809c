"""Probe harness shared by the sharded seen-filter sidecars.

operators/bloom.py and operators/cuckoo.py each keep per-shard filter
state keyed by ``pmod(url_hash, n_shards)`` (``shard_col``); this module
probes either kind.  A kind is its module, which supplies:

  * ``shard_bytes(param)`` — size of one shard's state;
  * ``decode(shard, param)`` — one shard row → probe state;
  * ``member(state, hashes, param)`` — vectorized membership test over
    uint64 hashes (numpy, no per-row Python, no false negatives).

``param`` is the kind's size parameter: bits per shard for Bloom,
buckets per shard for cuckoo.

Two probe modes give identical verdicts (tested):

  * broadcast (``probe_col``) — collect the decoded shards into one
    broadcast dict and probe in a scalar pandas UDF.  Right while the
    whole filter fits comfortably in executor memory: 64 Bloom shards
    of 2^23 bits (1 MiB each) ≈ 64 MiB for ~5×10^8 seen URLs at
    FPR≈1%, k=5.
  * routed (``probe_routed``) — key the frontier by shard id and
    cogroup it with the shard table, so each task decodes ONLY its own
    shard.  This is the 10^10-URL path: at 1% FPR that seen set needs
    ~12 GiB of bitset — unbroadcastable — but split over 1024 shards it
    is ~12 MiB per shard, and a task touches exactly one.  Cost: one
    shuffle of the (narrow) frontier keyed by shard — at that scale
    strictly cheaper than shipping 12 GiB to every executor.

``probe_transform`` picks broadcast while the whole filter is at most
``BROADCAST_MAX_BYTES``, routed beyond.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BROADCAST_MAX_BYTES = 64 << 20


def shard_col(n_shards: int):
    """Shard id of a row's ``url_hash``: pmod(url_hash, n_shards)."""
    return F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int")


def probe_transform(spark: SparkSession, kind, shards: DataFrame, n_shards: int, param: int):
    """DataFrame transformer: df → df + boolean ``_maybe`` column.

    Broadcast while the filter is ≤ BROADCAST_MAX_BYTES, shard-routed
    beyond.  Input df must carry ``url_hash``.
    """
    if n_shards * kind.shard_bytes(param) <= BROADCAST_MAX_BYTES:
        col_fn = probe_col(spark, kind, shards, n_shards, param)
        return lambda df: df.withColumn("_maybe", col_fn(F.col("url_hash")))
    return lambda df: probe_routed(df, kind, shards, n_shards, param)


def probe_routed(df: DataFrame, kind, shards: DataFrame, n_shards: int, param: int) -> DataFrame:
    """Shard-routed probe: adds ``_maybe`` without broadcasting any shard.

    Each task receives (its frontier rows, its ONE shard row), so
    per-executor memory is bounded by shards-per-task, never the full
    filter.
    """
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("_maybe", T.BooleanType())]
    )

    def probe(fr: pd.DataFrame, sh: pd.DataFrame) -> pd.DataFrame:
        fr = fr.drop(columns=["_shard"])
        if fr.empty:
            fr["_maybe"] = pd.Series([], dtype=bool)
        elif sh.empty:  # shard never built → nothing seen in it
            fr["_maybe"] = False
        else:
            h = fr["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
            fr["_maybe"] = kind.member(kind.decode(sh.iloc[0], param), h, param)
        return fr

    return (
        df.withColumn("_shard", shard_col(n_shards))
        .groupBy("_shard")
        .cogroup(shards.groupBy("shard"))
        .applyInPandas(probe, out_schema)
    )


def probe_col(spark: SparkSession, kind, shards: DataFrame, n_shards: int, param: int):
    """Column function url_hash → maybe_seen over broadcast shards.

    Use as ``df.withColumn('m', probe_col(...)(F.col('url_hash')))``.
    Only valid while the filter is broadcast-sized; ``probe_routed`` is
    the beyond-broadcast path.
    """
    states = {int(r["shard"]): kind.decode(r, param) for r in shards.collect()}
    bc = spark.sparkContext.broadcast(states)

    @F.pandas_udf("boolean")
    def maybe_seen(url_hash: pd.Series) -> pd.Series:
        raw = url_hash.to_numpy(dtype=np.int64)
        h = raw.view(np.uint64)
        shard = raw % n_shards  # numpy % is floored: same ids as pmod
        out = np.zeros(len(h), dtype=bool)
        table = bc.value
        for s in np.unique(shard):
            state = table.get(int(s))
            if state is not None:  # shard never built → nothing seen in it
                m = shard == s
                out[m] = kind.member(state, h[m], param)
        return pd.Series(out)

    return maybe_seen
