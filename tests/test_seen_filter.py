"""The shared seen-filter probe harness (operators/seen_filter.py), run
over both filter kinds in both probe modes: verdicts equal the kind's
own membership test, missing shards and shards without frontier rows
are handled, and the mode follows the filter size."""

from __future__ import annotations

import numpy as np
import pytest

from storm_focused_crawler_spark.operators import bloom as B
from storm_focused_crawler_spark.operators import cuckoo as C
from storm_focused_crawler_spark.operators import seen_filter as SF

N_SHARDS = 4
KINDS = {"bloom": (B, 1 << 16), "cuckoo": (C, 1 << 10)}
KIND_MODES = [
    pytest.param(kind, routed, id=f"{kind}-{'routed' if routed else 'broadcast'}")
    for kind in KINDS
    for routed in (False, True)
]


@pytest.fixture(scope="module")
def hashes():
    rng = np.random.RandomState(42)
    return rng.randint(-(2 ** 63), 2 ** 63 - 1, size=4000, dtype=np.int64)


def _hdf(spark, hs):
    return spark.createDataFrame([(int(h),) for h in hs], "url_hash long")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _probe(spark, monkeypatch, kind, routed, inserted, probed):
    """{url_hash: _maybe} from probe_transform forced into one mode,
    plus the reference verdicts: the kind's decode + member applied
    shard by shard on the driver (a shard with no row is empty)."""
    mod, param = KINDS[kind]
    monkeypatch.setattr(SF, "BROADCAST_MAX_BYTES", 0 if routed else 1 << 30)
    shards = mod.build_shards(_hdf(spark, inserted), N_SHARDS, param)
    probe = SF.probe_transform(spark, mod, shards, N_SHARDS, param)
    got = {r["url_hash"]: r["_maybe"] for r in probe(_hdf(spark, probed)).collect()}
    states = {r["shard"]: mod.decode(r, param) for r in shards.collect()}
    want = {}
    for s in range(N_SHARDS):
        hs = probed[probed % N_SHARDS == s]  # numpy % is floored, like pmod
        hit = (mod.member(states[s], hs.view(np.uint64), param) if s in states
               else np.zeros(len(hs), dtype=bool))
        want.update(zip(map(int, hs), map(bool, hit)))
    return got, want


@pytest.mark.parametrize("kind,routed", KIND_MODES)
def test_probe_matches_reference(spark, hashes, monkeypatch, kind, routed):
    """Both modes return exactly the kind's own verdicts — so routed ==
    broadcast, same shards, same math — and every inserted hash probes
    positive."""
    got, want = _probe(spark, monkeypatch, kind, routed, hashes[:2000], hashes)
    assert got == want
    assert all(got[int(h)] for h in hashes[:2000])


@pytest.mark.parametrize("kind,routed", KIND_MODES)
def test_probe_missing_shard_and_shard_without_rows(spark, hashes, monkeypatch, kind, routed):
    """Shard 3 is never built, so its hashes are unseen; shard 0 has a
    filter row but no probed rows (the routed cogroup still calls the
    probe for it, with an empty frontier group)."""
    shard = hashes % N_SHARDS
    inserted = hashes[:2000][shard[:2000] != 3]
    probed = hashes[shard != 0]
    got, want = _probe(spark, monkeypatch, kind, routed, inserted, probed)
    assert got == want
    assert set(got) == set(map(int, probed))
    assert not any(got[int(h)] for h in probed[probed % N_SHARDS == 3])
    assert all(got[int(h)] for h in inserted[inserted % N_SHARDS != 0])


@pytest.mark.parametrize("kind,routed", KIND_MODES)
def test_probe_transform_picks_mode_by_size(spark, hashes, monkeypatch, kind, routed):
    """Broadcast while the whole filter is ≤ BROADCAST_MAX_BYTES; one byte
    over and the probe is a cogroup on the shard key (each task reads
    one shard), with no broadcast of the shards."""
    mod, param = KINDS[kind]
    ins = _hdf(spark, hashes[:100])
    shards = mod.build_shards(ins, N_SHARDS, param)
    filter_bytes = N_SHARDS * mod.shard_bytes(param)
    monkeypatch.setattr(SF, "BROADCAST_MAX_BYTES", filter_bytes - 1 if routed else filter_bytes)
    plan = _plan(SF.probe_transform(spark, mod, shards, N_SHARDS, param)(ins))
    if routed:
        assert "FlatMapCoGroupsInPandas" in plan
        assert "BroadcastExchange" not in plan
    else:
        assert "FlatMapCoGroupsInPandas" not in plan
