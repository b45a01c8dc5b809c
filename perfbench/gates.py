"""Correctness gates: engine outputs against independent references.

Each gate returns a list of mismatch descriptions; an empty list is a
pass.  Gates run outside the timed region and every mismatch counts as
a failed operation.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from storm_focused_crawler_spark import spec
from storm_focused_crawler_spark.oracle import seqcrawler as sq

MAX_REPORTED = 3


# --------------------------------------------------------------------------
# crawl: engine state dir vs oracle.seqcrawler on the same inputs
# --------------------------------------------------------------------------

def crawl_oracle(paths: dict, rounds: int, capacity: int, keywords) -> dict:
    pages, seeds, robots, budgets = sq.load_fixture_inputs(paths)
    cfg = sq.CrawlConfig(rounds=rounds, capacity=capacity, keywords=tuple(keywords))
    res = sq.crawl(pages, seeds, robots, budgets, cfg)
    return {
        "ordering": sorted(res.ordering),
        "seen": set(res.seen_hashes),
        "results": {r[2]: (r[3], r[4], r[5], r[6]) for r in res.results},
    }


def read_crawl_state(state_dir: str, rounds: int) -> dict:
    """Committed crawl output, read straight from the parquet files."""
    ordering, results, seen = [], {}, set()
    for r in range(rounds):
        rdir = os.path.join(state_dir, f"round={r}")
        if not os.path.exists(os.path.join(rdir, "manifest.json")):
            raise FileNotFoundError(f"round {r} not committed in {state_dir}")
        o = pq.read_table(os.path.join(rdir, "ordering")).to_pydict()
        ordering += zip(o["round"], o["seq"], o["url"])
        t = pq.read_table(os.path.join(rdir, "results")).to_pydict()
        for i, url in enumerate(t["url"]):
            results[url] = (t["score"][i], t["text"][i], t["lang"][i], t["n_links"][i])
        for d in glob.glob(os.path.join(rdir, "seen*")):
            seen.update(pq.read_table(d).column("url_hash").to_pylist())
    return {"ordering": sorted(ordering), "seen": seen, "results": results}


def crawl_mismatches(engine: dict, oracle: dict) -> list[str]:
    out = []
    if engine["ordering"] != oracle["ordering"]:
        diff = [(a, b) for a, b in zip(engine["ordering"], oracle["ordering"]) if a != b]
        out.append(f"ordering differs ({len(engine['ordering'])} vs "
                   f"{len(oracle['ordering'])} rows; first {diff[:1]})")
    if engine["seen"] != oracle["seen"]:
        out.append(f"seen set differs by {len(engine['seen'] ^ oracle['seen'])} hashes")
    er, orr = engine["results"], oracle["results"]
    if set(er) != set(orr):
        out.append(f"result urls differ by {len(set(er) ^ set(orr))}")
    for url in sorted(set(er) & set(orr)):
        a, b = er[url], orr[url]
        # text compared as bytes: extraction must be byte-identical
        if a[0] != b[0] or a[1].encode() != b[1].encode() or a[2:] != b[2:]:
            out.append(f"result {url} differs")
            if len(out) >= MAX_REPORTED:
                break
    return out


# --------------------------------------------------------------------------
# frontier: full (seq, url) dequeue list vs a pure-Python reference
# --------------------------------------------------------------------------

def frontier_reference(paths: dict, capacity: int) -> list[tuple[int, str]]:
    """canon → xxh64 → seen/robots filter → per-host top-budget →
    global top-capacity, both by (score desc, url asc): the budget and
    capacity rules of oracle.seqcrawler, on spec.canon / spec.xxh64."""
    fr = pq.read_table(paths["frontier"]).to_pydict()
    seen = set(pq.read_table(paths["seen"]).column("url_hash").to_pylist())
    rb = pq.read_table(paths["robots"]).to_pydict()
    robots = {h: [(p, False)] for h, p in zip(rb["host"], rb["disallow_prefix"])}
    hb = pq.read_table(paths["host_budget"]).to_pydict()
    budgets = dict(zip(hb["host"], hb["budget"]))

    by_host: dict[str, list[tuple[float, str]]] = {}
    for raw, score in zip(fr["raw_url"], fr["score"]):
        url = spec.canon(raw)
        if spec.xxh64(url) in seen or sq._blocked(url, robots):
            continue
        by_host.setdefault(sq._host(url), []).append((score, url))
    picked = []
    for host, rows in by_host.items():
        rows.sort(key=lambda t: (-t[0], t[1]))
        picked += rows[: budgets.get(host, sq.DEFAULT_BUDGET)]
    picked.sort(key=lambda t: (-t[0], t[1]))
    return [(i + 1, url) for i, (_s, url) in enumerate(picked[:capacity])]


def frontier_mismatches(engine: list[tuple[int, str]], reference: list[tuple[int, str]]) -> list[str]:
    if engine == reference:
        return []
    diff = [(a, b) for a, b in zip(engine, reference) if a != b]
    return [f"dequeue differs ({len(engine)} vs {len(reference)} rows; first {diff[:1]})"]
