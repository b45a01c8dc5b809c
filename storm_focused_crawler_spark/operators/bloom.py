"""Sharded Bloom-filter URL-seen accelerator (SURVEY.md §4.3-2).

The reference keeps its URL-seen set in a single Redis SET — O(1)
probes but one global hotspot ([R] RedisSpout/URLExpanderBolt;
BASELINE.json north_star: "sharded Bloom/cuckoo-filter URL-seen set
built via vectorized Arrow UDFs").  Here the seen set's Bloom sidecar
is sharded by ``pmod(url_hash, n_shards)``; each shard's bitset is
built by a grouped Arrow UDF (numpy, no per-row Python), shards are
mergeable by bitwise OR (so incremental rounds just OR the new round's
shards in), and the probe is a vectorized pandas UDF over the bitsets.

Correctness discipline (§2.1-3): the Bloom is ADVISORY.  Probe-negative
rows are definitively unseen (no false negatives — property-tested);
probe-positive rows go to the exact anti-join, which remains the
membership authority.  At a 10^10 frontier this cuts the anti-join's
probe side to the ~0.1% of rows that are Bloom-positive.

The probe itself — broadcast, or shard-routed beyond
``seen_filter.BROADCAST_MAX_BYTES`` — is operators/seen_filter.py,
shared with the cuckoo sidecar; this module supplies the kind's
``shard_bytes`` / ``decode`` / ``member`` trio it calls.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from storm_focused_crawler_spark.operators.seen_filter import shard_col

K_HASHES = 5


def _h2(h1: np.ndarray) -> np.ndarray:
    """Second hash via splitmix64-style mixing of the url_hash (uint64)."""
    z = h1 + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _positions(hashes: np.ndarray, n_bits: int) -> np.ndarray:
    """k bit positions per hash, double-hashing: (h1 + i·h2) mod n_bits."""
    h1 = hashes.astype(np.uint64)
    h2 = _h2(h1) | np.uint64(1)  # odd so the k probes don't collapse
    i = np.arange(K_HASHES, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(n_bits)).ravel()


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def shard_bytes(n_bits: int) -> int:
    return n_bits // 8


def decode(shard, n_bits: int) -> np.ndarray:
    """One shard row → its bitset."""
    return np.frombuffer(shard["bits"], dtype=np.uint8)


def member(bits: np.ndarray, hashes: np.ndarray, n_bits: int) -> np.ndarray:
    pos = _positions(hashes, n_bits).reshape(-1, K_HASHES)
    hit = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return hit.all(axis=1)


def build_shards(df: DataFrame, n_shards: int, n_bits: int) -> DataFrame:
    """hash df(url_hash) → df(shard int, bits binary, n long) via Arrow UDAF."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        h = pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
        _set_bits(bits, _positions(h, n_bits))
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "bits": [bits.tobytes()],
             "n": [len(pdf)]}
        )

    withshard = df.withColumn("shard", shard_col(n_shards))
    return withshard.groupBy("shard").applyInPandas(build, "shard int, bits binary, n long")


def merge_shards(a: DataFrame, b: DataFrame) -> DataFrame:
    """Bitwise-OR merge of two shard sets (round-incremental build)."""

    def orr(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        n = 0
        for blob, cnt in zip(pdf["bits"], pdf["n"]):
            arr = np.frombuffer(blob, dtype=np.uint8)
            acc = arr.copy() if acc is None else (acc | arr)
            n += int(cnt)
        return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])], "bits": [acc.tobytes()], "n": [n]})

    return a.unionByName(b).groupBy("shard").applyInPandas(orr, "shard int, bits binary, n long")

