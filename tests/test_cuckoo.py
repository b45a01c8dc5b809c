"""Cuckoo seen-filter properties (SURVEY.md §5.2-3, cuckoo half of the
north star's "Bloom/cuckoo-filter URL-seen set"): unconditional zero
false negatives (incl. adversarial load), bounded FPR, semantic merge,
and deletion.  The broadcast/routed probe modes are tested for both
kinds in test_seen_filter.py."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from storm_focused_crawler_spark.operators import cuckoo as C
from storm_focused_crawler_spark.operators import seen_filter as SF

N_BUCKETS = 1 << 10   # 4096 slots/shard
N_SHARDS = 4


@pytest.fixture(scope="module")
def hashes():
    rng = np.random.RandomState(7)
    return rng.randint(-(2 ** 63), 2 ** 63 - 1, size=6000, dtype=np.int64)


def _hdf(spark, hs):
    return spark.createDataFrame([(int(h),) for h in hs], "url_hash long")


def test_no_false_negatives(spark, hashes):
    inserted = hashes[:2000]
    df = _hdf(spark, inserted)
    shards = C.build_shards(df, N_SHARDS, N_BUCKETS)
    probe = SF.probe_col(spark, C, shards, N_SHARDS, N_BUCKETS)
    miss = df.withColumn("m", probe(F.col("url_hash"))).filter(~F.col("m")).count()
    assert miss == 0


def test_no_false_negatives_at_adversarial_load(spark, hashes):
    """Fill to ~90% load: eviction chains + stash must still hold every
    inserted hash (the stash makes no-false-negatives UNCONDITIONAL)."""
    n = int(N_SHARDS * N_BUCKETS * C.SLOTS * 0.9)
    rng = np.random.RandomState(11)
    dense = rng.randint(-(2 ** 63), 2 ** 63 - 1, size=n, dtype=np.int64)
    df = _hdf(spark, dense)
    shards = C.build_shards(df, N_SHARDS, N_BUCKETS)
    probe = SF.probe_col(spark, C, shards, N_SHARDS, N_BUCKETS)
    miss = df.withColumn("m", probe(F.col("url_hash"))).filter(~F.col("m")).count()
    assert miss == 0


def test_fpr_bounded(spark, hashes):
    inserted, fresh = hashes[:2000], hashes[2000:]
    shards = C.build_shards(_hdf(spark, inserted), N_SHARDS, N_BUCKETS)
    probe = SF.probe_col(spark, C, shards, N_SHARDS, N_BUCKETS)
    fp = (
        _hdf(spark, fresh)
        .withColumn("m", probe(F.col("url_hash")))
        .filter(F.col("m"))
        .count()
    )
    # theoretical cuckoo FPR ≈ 2 buckets · SLOTS slots / 2^16 fingerprints
    theo = 2 * C.SLOTS / 65535
    assert fp / len(fresh) <= max(4 * theo, 0.005), (fp / len(fresh), theo)


def test_merge_probes_as_union(spark, hashes):
    """Merged shards answer positive for every member of either input
    (semantic contract — table BYTES may differ from a rebuild, unlike
    Bloom's OR; the verdicts are what the driver relies on)."""
    a, b = hashes[:1000], hashes[1000:2000]
    merged = C.merge_shards(
        C.build_shards(_hdf(spark, a), N_SHARDS, N_BUCKETS),
        C.build_shards(_hdf(spark, b), N_SHARDS, N_BUCKETS),
    )
    probe = SF.probe_col(spark, C, merged, N_SHARDS, N_BUCKETS)
    both = _hdf(spark, np.concatenate([a, b]))
    miss = both.withColumn("m", probe(F.col("url_hash"))).filter(~F.col("m")).count()
    assert miss == 0
    # FPR of the merged filter stays bounded too
    fresh = _hdf(spark, hashes[2000:])
    fp = fresh.withColumn("m", probe(F.col("url_hash"))).filter(F.col("m")).count()
    assert fp / 4000 <= 0.01


def test_delete_removes_only_victims(spark, hashes):
    """The maintenance move Bloom cannot do: deleted hashes stop probing
    positive (modulo fingerprint-collision FPR); survivors still probe
    positive unless they fp+bucket-collide with a victim (p ≈ 1.2e-4
    per pair — the documented deletion caveat).  The fixture is checked
    collision-free inline, so the survivor assertion is exact here."""
    inserted = hashes[:2000]
    victims, survivors = inserted[:500], inserted[500:]
    # verify no survivor shares (fingerprint, candidate-bucket) with a
    # victim in the same shard for this seed — makes the test exact
    hv = victims.view(np.uint64)
    hs = survivors.view(np.uint64)
    key = lambda h: set(  # noqa: E731
        zip(
            (h.view(np.int64) % N_SHARDS + N_SHARDS) % N_SHARDS,
            C._fingerprint(h),
            C._bucket1(h, N_BUCKETS),
        )
    ) | set(
        zip(
            (h.view(np.int64) % N_SHARDS + N_SHARDS) % N_SHARDS,
            C._fingerprint(h),
            C._alt_bucket(C._bucket1(h, N_BUCKETS), C._fingerprint(h), N_BUCKETS),
        )
    )
    assert not (key(hv) & key(hs)), "fixture seed produced a collision; pick another"
    shards = C.build_shards(_hdf(spark, inserted), N_SHARDS, N_BUCKETS)
    after = C.delete_from_shards(shards, _hdf(spark, victims), N_SHARDS)
    probe = SF.probe_col(spark, C, after, N_SHARDS, N_BUCKETS)
    # survivors: unconditionally still present
    miss = (
        _hdf(spark, survivors)
        .withColumn("m", probe(F.col("url_hash")))
        .filter(~F.col("m"))
        .count()
    )
    assert miss == 0
    # victims: gone, up to fingerprint-collision residue (~FPR)
    still = (
        _hdf(spark, victims)
        .withColumn("m", probe(F.col("url_hash")))
        .filter(F.col("m"))
        .count()
    )
    assert still / len(victims) <= 0.01, still


def test_insert_is_set_semantic_and_deterministic(spark, hashes):
    """Duplicate inserts collapse to one stored copy; rebuilds are
    byte-identical (no randomness anywhere in the placement loop)."""
    dup = np.concatenate([hashes[:500], hashes[:500], hashes[:500]])
    a = {r["shard"]: (r["table"], r["stash"])
         for r in C.build_shards(_hdf(spark, dup), N_SHARDS, N_BUCKETS).collect()}
    b = {r["shard"]: (r["table"], r["stash"])
         for r in C.build_shards(_hdf(spark, hashes[:500]), N_SHARDS, N_BUCKETS).collect()}
    assert a == b


def test_insert_dedups_pending_same_orbit_pairs():
    """ADVICE r03 #4 regression: two pending items with the same
    fingerprint and the same {bucket, alt} orbit must store ONE copy —
    pre-fix both could land in different free slots of the same pass,
    and delete_from_shards (one removal per entry) would leave a copy
    behind, keeping the victim probing positive after deletion."""
    import numpy as np

    from storm_focused_crawler_spark.operators import cuckoo as C

    n_buckets = 64
    # same (bucket, fp) twice in one batch
    table = np.zeros((n_buckets, C.SLOTS), dtype=np.uint16)
    stash = C._insert(table, np.array([5, 5]), np.array([7, 7], dtype=np.uint16), n_buckets)
    assert not stash
    assert int((table == 7).sum()) == 1
    # same orbit via the alternate bucket: (b, fp) and (alt(b, fp), fp)
    table2 = np.zeros((n_buckets, C.SLOTS), dtype=np.uint16)
    b = np.array([5], dtype=np.int64)
    fp = np.array([7], dtype=np.uint16)
    alt = int(C._alt_bucket(b, fp, n_buckets)[0])
    stash2 = C._insert(
        table2, np.array([5, alt]), np.array([7, 7], dtype=np.uint16), n_buckets
    )
    assert not stash2
    assert int((table2 == 7).sum()) == 1
    # a single delete now fully evicts the entry
    removed = np.zeros(1, dtype=bool)
    for cand in (np.array([5]), np.array([alt])):
        for s in range(C.SLOTS):
            m = (~removed) & (table2[cand, s] == fp)
            table2[cand[m], s] = 0
            removed |= m
    assert int((table2 == 7).sum()) == 0
