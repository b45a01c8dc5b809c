"""The benchmark's own tests: seeded inputs, correctness gates, spans.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gates
import inputs
import report
import spans as tr
import workloads
from storm_focused_crawler_spark import spec

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --------------------------------------------------------------------------
# seeded inputs
# --------------------------------------------------------------------------

def test_documents_are_deterministic_per_seed_and_differ_across_seeds():
    a, b, c = inputs.documents(1, 300), inputs.documents(1, 300), inputs.documents(2, 300)
    assert a.equals(b)
    assert a.column("text") != c.column("text")
    texts = a.column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in texts) == 300 // 20
    assert a.column("n_chars").to_pylist() == [len(t) for t in texts]


def _fixture(seed, tmp_path):
    return inputs.crawl_fixture(seed, str(tmp_path / f"s{seed}"), n_docs=200, n_seeds=50)


def test_crawl_fixture_is_deterministic_per_seed(tmp_path):
    a, b = _fixture(1, tmp_path / "a"), _fixture(1, tmp_path / "b")
    c = _fixture(2, tmp_path / "c")
    for name in ("pages", "robots", "host_budget"):
        assert pq.read_table(a[name]).equals(pq.read_table(b[name]))
    assert pq.read_table(a["pages"]).column("text") != pq.read_table(c["pages"]).column("text")
    seeds = [json.load(open(p["seeds"])) for p in (a, b, c)]
    assert seeds[0] == seeds[1] != seeds[2]
    assert len(seeds[0]) == 50
    budgets = pq.read_table(a["host_budget"]).column("budget").to_pylist()
    assert min(budgets) >= 2 * inputs.CRAWL_BUDGET_BOOST


@pytest.fixture(scope="module")
def spark():
    from storm_focused_crawler_spark.sources.session import get_spark

    return get_spark(app="perfbench-tests", master="local[2]", shuffle_partitions=2)


def test_frontier_inputs_are_deterministic_and_shaped(spark):
    def rows(seed):
        return sorted(tuple(r) for r in inputs.frontier_frame(spark, seed, 3000).collect())

    a, c = rows(1), rows(2)
    assert a == rows(1)
    assert a != c
    n = len(a)
    hot = sum(r[5] for r in a) / n
    seen = sum(r[4] for r in a) / n
    noncanon = sum(r[6] for r in a) / n
    assert abs(hot - 0.30) < 0.03 and abs(seen - 1 / 3) < 0.03 and abs(noncanon - 0.10) < 0.02
    # every raw url canonicalizes to its clean form
    assert all(spec.canon(r[1]) == r[2] for r in a)


# --------------------------------------------------------------------------
# correctness gates fail on perturbed outputs
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def crawl_oracle(tmp_path_factory):
    paths = _fixture(3, tmp_path_factory.mktemp("crawl"))
    from storm_focused_crawler_spark.fixtures import gen_pages

    return gates.crawl_oracle(paths, 2, 20, gen_pages.topic_keywords())


def _copy(o):
    return {"ordering": list(o["ordering"]), "seen": set(o["seen"]),
            "results": dict(o["results"])}


def test_crawl_gate_passes_identical_output(crawl_oracle):
    assert len(crawl_oracle["ordering"]) > 20
    assert gates.crawl_mismatches(_copy(crawl_oracle), crawl_oracle) == []


def test_crawl_gate_fails_on_swapped_seq(crawl_oracle):
    eng = _copy(crawl_oracle)
    (r0, s0, u0), (r1, s1, u1) = eng["ordering"][0], eng["ordering"][1]
    eng["ordering"][0], eng["ordering"][1] = (r0, s0, u1), (r1, s1, u0)
    assert gates.crawl_mismatches(eng, crawl_oracle)


def test_crawl_gate_fails_on_one_altered_text_byte(crawl_oracle):
    eng = _copy(crawl_oracle)
    url = sorted(eng["results"])[0]
    score, text, lang, n_links = eng["results"][url]
    eng["results"][url] = (score, text[:-1] + chr(ord(text[-1]) ^ 1), lang, n_links)
    assert gates.crawl_mismatches(eng, crawl_oracle)


def test_crawl_gate_fails_on_missing_seen_hash(crawl_oracle):
    eng = _copy(crawl_oracle)
    eng["seen"].pop()
    assert gates.crawl_mismatches(eng, crawl_oracle)


def _write(path, cols):
    pq.write_table(pa.table(cols), path)
    return path


def _frontier_tables(tmp_path):
    """Three hosts, known scores: one url seen, one robots-blocked, one
    host over its budget, and a capacity that cuts the tail."""
    urls = [
        ("https://a.test/x/1", 0.9),
        ("HTTPS://A.TEST/x/2", 0.8),          # non-canonical → https://a.test/x/2
        ("https://a.test/x/3#frag", 0.7),     # over a.test's budget of 2
        ("https://b.test/blocked/1", 0.95),   # robots
        ("https://b.test/ok/1", 0.6),
        ("https://c.test:443/p/1", 0.85),     # seen
        ("https://c.test/p/2", 0.5),
        ("https://c.test/p/3", 0.4),          # cut by capacity
    ]
    p = {
        "frontier": _write(str(tmp_path / "f.parquet"), {
            "raw_url": [u for u, _ in urls], "score": [s for _, s in urls],
            "depth": [0] * len(urls)}),
        "seen": _write(str(tmp_path / "s.parquet"), {
            "url_hash": pa.array([spec.xxh64("https://c.test/p/1"), 12345], pa.int64())}),
        "robots": _write(str(tmp_path / "r.parquet"), {
            "host": ["b.test"], "disallow_prefix": ["/blocked"]}),
        "host_budget": _write(str(tmp_path / "b.parquet"), {
            "host": ["a.test", "b.test", "c.test"],
            "budget": pa.array([2, 5, 5], pa.int32())}),
    }
    expected = [(1, "https://a.test/x/1"), (2, "https://a.test/x/2"),
                (3, "https://b.test/ok/1"), (4, "https://c.test/p/2")]
    return p, expected


def test_frontier_reference_on_a_hand_checked_instance(tmp_path):
    paths, expected = _frontier_tables(tmp_path)
    assert gates.frontier_reference(paths, capacity=4) == expected


def test_frontier_gate_fails_on_swapped_seq(tmp_path):
    paths, expected = _frontier_tables(tmp_path)
    ref = gates.frontier_reference(paths, capacity=4)
    assert gates.frontier_mismatches(list(ref), ref) == []
    swapped = [(1, ref[1][1]), (2, ref[0][1])] + ref[2:]
    assert gates.frontier_mismatches(swapped, ref)
    assert gates.frontier_mismatches(ref[:-1], ref)


def test_engine_dequeue_matches_the_reference(spark, tmp_path):
    paths, expected = _frontier_tables(tmp_path)
    wl = workloads.Frontier(seed=0, work=str(tmp_path))
    wl.spark = spark
    inp = {"paths": paths, "max_budget": 5}
    rows = wl.pipeline(inp, 4).select("seq", "url").collect()
    assert sorted((r["seq"], r["url"]) for r in rows) == expected


def test_frontier_digest_gate_fails_on_changed_aggregate():
    wl = workloads.Frontier(seed=0, work="unused")
    first = workloads.Pass(wall=1.0, rows=10, steps=[1.0], out=(5, 1, 5, 777))
    assert wl.check(first) == []
    assert wl.check(workloads.Pass(wall=1.0, rows=10, steps=[1.0], out=(5, 1, 5, 777))) == []
    assert wl.check(workloads.Pass(wall=1.0, rows=10, steps=[1.0], out=(5, 1, 5, 778)))
    assert wl.check(workloads.Pass(wall=1.0, rows=10, steps=[1.0], out=(5, 2, 5, 777)))


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

def test_crawl_round_self_times_sum_to_the_round_wall():
    t = tr.Tracer("test")
    with t.span("driver.run_crawl") as root:
        time.sleep(0.01)                          # pre-round set-up
        for rnd in range(3):
            with t.span("driver.run_round", rnd=rnd):
                time.sleep(0.01)
            time.sleep(0.005)                     # between plan and commit
            with t.span("storage.write_round", rnd=rnd):
                time.sleep(0.02)
            time.sleep(0.005)                     # snapshot reads
    rounds = workloads.round_spans(t.spans, root["id"])
    assert [r["rnd"] for r in rounds] == [0, 1, 2]
    for r in rounds:
        kids = tr.children(t.spans, r["id"])
        assert sorted(k["name"] for k in kids) == ["driver.run_round", "storage.write_round"]
        parts = sum(tr.wall(k) for k in kids) + tr.self_time(t.spans, r["id"])
        assert parts == pytest.approx(tr.wall(r), abs=1e-9)
        assert tr.self_time(t.spans, r["id"]) >= 0.009
    # the rounds and the pre-round set-up tile the whole crawl
    covered = sum(tr.wall(r) for r in rounds) + tr.self_time(t.spans, root["id"])
    assert covered == pytest.approx(tr.wall(root), abs=1e-9)


def test_self_time_counts_overlapping_children_once():
    s = [{"id": 0, "parent": None, "start": 0.0, "end": 10.0},
         {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
         {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
         {"id": 3, "parent": 0, "start": 8.0, "end": 12.0}]
    assert tr.self_time(s, 0) == pytest.approx(10.0 - 5.0 - 2.0)


def test_event_log_jobs_are_attributed_by_group_then_by_time():
    spans_ = [{"id": 0, "name": "a", "parent": None, "start": 100.0, "end": 110.0},
              {"id": 1, "name": "b", "parent": 0, "start": 105.0, "end": 108.0}]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 101_000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "span-0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 106_000,
         "Stage IDs": [1], "Properties": {"spark.sql.execution.id": "7"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "physicalPlanDescription":
             "InsertIntoHadoopFsRelationCommand file:/w/state/round=3/_tmp/results, ..."},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 2000,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Failed": True},
         "Task Metrics": {"Executor Run Time": 1000, "Memory Bytes Spilled": 2**21}},
    ]
    jc = tr.JobCounters(events)
    by_span = jc.assign(spans_)
    assert [j["table"] for j in by_span[1]] == ["results"]
    assert len(by_span[0]) == 1
    c = tr.counters(spans_, by_span, 0, cores=2)
    assert c["jobs"] == 2 and c["tasks"] == 2 and c["failed_tasks"] == 1
    assert c["exec_run_s"] == pytest.approx(3.0)
    assert c["busy_frac"] == pytest.approx(3.0 / (10.0 * 2))
    assert c["shuffle_write_mb"] == pytest.approx(1.0)
    assert c["spill_mb"] == pytest.approx(2.0)


def test_compressed_event_log_is_refused(tmp_path):
    (tmp_path / "local-1.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(RuntimeError, match="compressed"):
        tr.read_event_log(str(tmp_path))


# --------------------------------------------------------------------------
# BENCHMARK.json agrees with what run.py prints
# --------------------------------------------------------------------------

def test_benchmark_json_names_match_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert {w["name"] for w in b["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == report.PER_LAYER
