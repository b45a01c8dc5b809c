"""Sharded cuckoo-filter URL-seen accelerator (SURVEY.md §4.3-2).

BASELINE.json's north star names a "sharded Bloom/cuckoo-filter
URL-seen set built via vectorized Arrow UDFs"; operators/bloom.py is
the Bloom half, this module is the cuckoo half (public design: Fan,
Andersen, Kaminsky, Mitzenmacher, "Cuckoo Filter: Practically Better
Than Bloom", CoNEXT 2014).  Same advisory contract as the Bloom
sidecar (§2.1-3): probe-negative rows are DEFINITIVELY unseen — the
exact anti-join remains the membership authority — so the crawl
ordering is byte-identical whichever filter (or none) is enabled.

What the cuckoo filter adds over Bloom for a 10^10-URL frontier:

  * **Deletion** (``delete_from_shards``): a recrawl policy can evict a
    URL from the seen sidecar without rebuilding the whole filter —
    impossible with a plain Bloom, whose only maintenance move is the
    full rebuild the driver does on compaction rounds.
  * **Better space at low FPR**: 16-bit fingerprints × 4-slot buckets
    give FPR ≈ 2·b/2^f ≈ 1.2e-4 at ~12 bits/item effective — a Bloom
    needs ~17 bits/item for that rate.

Layout per shard: ``n_buckets`` (power of two) buckets × ``SLOTS`` = 4
uint16 slots; fingerprint 0 marks an empty slot, real fingerprints are
1..65535.  Candidate buckets use partial-key cuckoo hashing:
``i2 = i1 XOR mix(fp)`` — an involution, so any stored (bucket, fp)
pair recovers its alternate bucket without the original key; that is
what makes shards mergeable and entries deletable.

Insert is a batch/vectorized multi-pass numpy loop (no per-row
Python): each pass places every pending fingerprint that finds a free
slot in its current bucket (first-come-per-bucket resolved with a
np.unique winner pick), then swaps the stragglers to their alternate
bucket; after ``PLACE_PASSES`` free-slot passes it starts evicting a
deterministic slot per pass (kick chains, batched).  Items still
homeless after ``MAX_PASSES`` go to a per-shard stash (public "cuckoo
filter with a stash" variant) so the no-false-negative property is
UNCONDITIONAL, not load-dependent — property-tested in
tests/test_cuckoo.py, including at adversarial load factors.

Shards are keyed by ``pmod(url_hash, n_shards)`` exactly like the
Bloom shards, and the probe — broadcast, or shard-routed cogroup for
the 10^10-URL path — is the same operators/seen_filter.py harness,
calling this module's ``shard_bytes`` / ``decode`` / ``member``.

Merging two shard sets re-inserts the smaller side's stored
fingerprints into the larger side's table (sorted, deterministic).
Unlike Bloom's bitwise OR, the merged TABLE BYTES are not defined to
equal a from-scratch rebuild's — the semantic contract (identical
probe verdicts for the union of memberships) is, and that is what the
tests pin.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from storm_focused_crawler_spark.operators.seen_filter import shard_col

SLOTS = 4
PLACE_PASSES = 8     # free-slot-only passes before evictions start
MAX_PASSES = 200     # total passes before a fingerprint is stashed

_SHARD_SCHEMA = "shard int, table binary, stash binary, n long"


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — same mixer family as bloom._h2."""
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _fingerprint(h: np.ndarray) -> np.ndarray:
    """uint16 fingerprint in 1..65535 (0 is the empty-slot marker)."""
    return (np.uint64(1) + _mix(h) % np.uint64(65535)).astype(np.uint16)


def _bucket1(h: np.ndarray, n_buckets: int) -> np.ndarray:
    # independent second mix so i1 and fp are not correlated
    return (_mix(h ^ np.uint64(0xA5A5A5A5A5A5A5A5)) % np.uint64(n_buckets)).astype(
        np.int64
    )


def _alt_bucket(b: np.ndarray, fp: np.ndarray, n_buckets: int) -> np.ndarray:
    """Partial-key alternate bucket: involution b <-> b ^ mix(fp)."""
    return (b ^ (_mix(fp.astype(np.uint64)) & np.uint64(n_buckets - 1)).astype(np.int64))


def _contains(table: np.ndarray, b: np.ndarray, fp: np.ndarray) -> np.ndarray:
    """Vectorized: is fp present in bucket b (any slot)?"""
    return (table[b] == fp[:, None]).any(axis=1)


def _insert(
    table: np.ndarray, bucket: np.ndarray, fp: np.ndarray, n_buckets: int
) -> list[tuple[int, int]]:
    """Batch-insert (bucket, fp) pairs; returns stash overflow pairs.

    All placement work is numpy-vectorized per pass; the only python
    loop is over passes (bounded by MAX_PASSES), never over rows.
    """
    cur = bucket.copy()
    fp = fp.copy()
    stash: list[tuple[int, int]] = []
    for pass_no in range(MAX_PASSES):
        if len(cur) == 0:
            break
        # drop pairs already present in either candidate bucket (set
        # semantics; also ends duplicate-input chases)
        alt = _alt_bucket(cur, fp, n_buckets)
        dup = _contains(table, cur, fp) | _contains(table, alt, fp)
        if dup.any():
            cur, fp = cur[~dup], fp[~dup]
            if len(cur) == 0:
                break
            alt = alt[~dup]
        # dedup PENDING pairs against each other (ADVICE r03 #4): two
        # pending items with the same fingerprint and the same
        # {bucket, alt-bucket} orbit are one set entry — placing both
        # in the same pass would store two copies that a later
        # delete_from_shards (one-removal-per-entry) cannot fully
        # evict.  Canonical key = (min(bucket, alt), fp); keep the
        # first occurrence, deterministic.
        canon = (np.minimum(cur, alt).astype(np.uint64) << np.uint64(16)) | fp.astype(
            np.uint64
        )
        _, uidx = np.unique(canon, return_index=True)
        if len(uidx) < len(cur):
            keep = np.sort(uidx)
            cur, fp = cur[keep], fp[keep]
        placed = np.zeros(len(cur), dtype=bool)
        for s in range(SLOTS):
            free = (table[cur, s] == 0) & ~placed
            idx = np.flatnonzero(free)
            if len(idx) == 0:
                continue
            # one winner per bucket per slot-pass (first occurrence)
            _, first = np.unique(cur[idx], return_index=True)
            win = idx[first]
            table[cur[win], s] = fp[win]
            placed[win] = True
        cur, fp = cur[~placed], fp[~placed]
        if len(cur) == 0:
            break
        if pass_no >= PLACE_PASSES:
            # eviction pass: kick a deterministic slot in each pending
            # bucket, adopt the evicted fingerprint's chase.  One winner
            # per bucket; losers retry next pass.
            slot = pass_no % SLOTS
            _, first = np.unique(cur, return_index=True)
            win = np.zeros(len(cur), dtype=bool)
            win[first] = True
            evicted = table[cur[win], slot].copy()
            table[cur[win], slot] = fp[win]
            # evicted fingerprints continue from their alternate bucket
            fp[win] = evicted
            cur[win] = _alt_bucket(cur[win], evicted, n_buckets)
        # non-evicting passes just swap pending items to their alternate
        else:
            alt = _alt_bucket(cur, fp, n_buckets)
            cur = alt
    else:
        # MAX_PASSES exhausted: stash the stragglers (keeps the
        # no-false-negative property unconditional)
        stash = [(int(b), int(f)) for b, f in zip(cur, fp)]
    return stash


def _serialize(table: np.ndarray, stash: list[tuple[int, int]]) -> tuple[bytes, bytes]:
    st = np.array(
        sorted((b << 16) | f for b, f in stash), dtype=np.uint64
    )
    return table.tobytes(), st.tobytes()


def _deserialize(table_blob: bytes, stash_blob: bytes, n_buckets: int):
    table = (
        np.frombuffer(table_blob, dtype=np.uint16).reshape(n_buckets, SLOTS).copy()
    )
    st = np.frombuffer(stash_blob, dtype=np.uint64)
    stash = [(int(x >> np.uint64(16)), int(x & np.uint64(0xFFFF))) for x in st]
    return table, stash


def _entries(table: np.ndarray, stash: list[tuple[int, int]]) -> np.ndarray:
    """All stored (bucket, fp) pairs as a (n, 2) int64 array, sorted."""
    b, s = np.nonzero(table)
    pairs = np.stack([b, table[b, s].astype(np.int64)], axis=1)
    if stash:
        pairs = np.concatenate([pairs, np.array(stash, dtype=np.int64)], axis=0)
    order = np.lexsort((pairs[:, 1], pairs[:, 0]))
    return pairs[order]


def shard_bytes(n_buckets: int) -> int:
    return n_buckets * SLOTS * 2


def decode(shard, n_buckets: int):
    """One shard row → its (table, stash)."""
    return _deserialize(shard["table"], shard["stash"], n_buckets)


def member(state, h: np.ndarray, n_buckets: int) -> np.ndarray:
    table, stash = state
    fp = _fingerprint(h)
    b1 = _bucket1(h, n_buckets)
    b2 = _alt_bucket(b1, fp, n_buckets)
    hit = _contains(table, b1, fp) | _contains(table, b2, fp)
    if stash:
        st = {(b << 16) | f for b, f in stash}
        key = (b1.astype(np.int64) << 16) | fp.astype(np.int64)
        key2 = (b2.astype(np.int64) << 16) | fp.astype(np.int64)
        hit |= np.isin(key, list(st)) | np.isin(key2, list(st))
    return hit


def build_shards(df: DataFrame, n_shards: int, n_buckets: int) -> DataFrame:
    """df(url_hash) → df(shard, table binary, stash binary, n) via Arrow UDAF.

    ``n_buckets`` must be a power of two (partial-key XOR involution);
    capacity per shard is SLOTS·n_buckets slots — size for load ≤ 0.8.
    """
    assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of two"

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        h = np.unique(pdf["url_hash"].to_numpy(dtype=np.int64)).view(np.uint64)
        table = np.zeros((n_buckets, SLOTS), dtype=np.uint16)
        stash = _insert(table, _bucket1(h, n_buckets), _fingerprint(h), n_buckets)
        tb, sb = _serialize(table, stash)
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "table": [tb], "stash": [sb],
             "n": [len(h)]}
        )

    withshard = df.withColumn("shard", shard_col(n_shards))
    return withshard.groupBy("shard").applyInPandas(build, _SHARD_SCHEMA)


def merge_shards(a: DataFrame, b: DataFrame) -> DataFrame:
    """Semantic union per shard: re-insert b's stored fingerprints into
    a's table (sorted — deterministic).  Probe verdicts over the merged
    shards equal verdicts over a filter holding both inputs' members."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        n_buckets = len(pdf["table"].iloc[0]) // (2 * SLOTS)
        table, stash = _deserialize(pdf["table"].iloc[0], pdf["stash"].iloc[0], n_buckets)
        total_stash = list(stash)
        for i in range(1, len(pdf)):
            t2, s2 = _deserialize(pdf["table"].iloc[i], pdf["stash"].iloc[i], n_buckets)
            pairs = _entries(t2, s2)
            if len(pairs):
                total_stash += _insert(
                    table, pairs[:, 0].copy(), pairs[:, 1].astype(np.uint16), n_buckets
                )
        tb, sb = _serialize(table, total_stash)
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "table": [tb], "stash": [sb],
             "n": [int(pdf["n"].sum())]}
        )

    return a.unionByName(b).groupBy("shard").applyInPandas(merge, _SHARD_SCHEMA)


def delete_from_shards(shards: DataFrame, victims: DataFrame, n_shards: int) -> DataFrame:
    """Remove victims(url_hash) from their shards — the maintenance move
    Bloom cannot do.  Cogrouped per shard; each task touches one table.

    Deleting a hash that was never inserted is a no-op.  Caveat
    (standard cuckoo-filter semantics + our set-semantic insert): a
    surviving member that COLLIDES with a victim — same 16-bit
    fingerprint AND a shared candidate bucket, p ≈ 1.2e-4 per pair —
    shares the victim's single stored entry and is collaterally
    removed.  In the crawl that costs a spurious recrawl of that one
    URL, never a wrong result (the exact seen table remains the
    authority for ordering parity); recrawl policies that cannot
    tolerate it should rebuild the filter instead (what the driver's
    compaction rounds do anyway)."""

    def dele(sh: pd.DataFrame, v: pd.DataFrame) -> pd.DataFrame:
        if sh.empty:
            return sh.drop(columns=[], errors="ignore")
        n_buckets = len(sh["table"].iloc[0]) // (2 * SLOTS)
        table, stash = _deserialize(sh["table"].iloc[0], sh["stash"].iloc[0], n_buckets)
        if not v.empty:
            h = np.unique(v["url_hash"].to_numpy(dtype=np.int64)).view(np.uint64)
            fp = _fingerprint(h)
            b1 = _bucket1(h, n_buckets)
            b2 = _alt_bucket(b1, fp, n_buckets)
            removed = np.zeros(len(h), dtype=bool)
            for cand in (b1, b2):
                for s in range(SLOTS):
                    m = (~removed) & (table[cand, s] == fp)
                    # one removal per stored copy: since inserts are
                    # set-semantic there is at most one copy
                    table[cand[m], s] = 0
                    removed |= m
            if stash:
                keys = {(int(b) << 16) | int(f) for b, f in
                        zip(b1[~removed], fp[~removed])} | {
                        (int(b) << 16) | int(f) for b, f in
                        zip(b2[~removed], fp[~removed])}
                stash = [(b, f) for b, f in stash if ((b << 16) | f) not in keys]
        tb, sb = _serialize(table, stash)
        return pd.DataFrame(
            {"shard": [int(sh["shard"].iloc[0])], "table": [tb], "stash": [sb],
             "n": [int(sh["n"].iloc[0])]}
        )

    keyed = victims.withColumn("shard", shard_col(n_shards))
    return (
        shards.groupBy("shard")
        .cogroup(keyed.groupBy("shard"))
        .applyInPandas(dele, _SHARD_SCHEMA)
    )

