"""Deterministic crawl-domain fixture synthesis (FIXTURES.md §B).

Builds the simulated web corpus ``pages(url, warc_ts, html, text, lang)``
(schema fixed by BASELINE.json input_hint) plus ``seeds`` / ``robots`` /
``host_budget`` tables from the driver's read-only ``documents.parquet``.
Everything is a pure function of (documents content, seed=42): same
inputs → byte-identical parquet.  No Spark needed — pyarrow only — so
the sequential oracle can consume the identical fixture.

Host skew is intentional: hosts are drawn Zipf(a=1.3) so the hottest
host dominates, exercising the politeness dequeue's per-host skew
bound (operators/frontier.py) exactly the way a real crawl frontier
would.
"""

from __future__ import annotations

import bisect
import json
import os
import re
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from storm_focused_crawler_spark import spec

TLDS = ("com", "org", "net")
BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)
N_SEEDS = 20
NOISY_PCT = 15  # % of embedded outlink hrefs that are non-canonical variants


def _h(s: str) -> int:
    """Unsigned 64-bit deterministic hash for generation decisions."""
    return spec.xxh64(s) % (1 << 64)


def _zipf_cdf(n_hosts: int, a: float = 1.3) -> list[float]:
    w = [1.0 / (r ** a) for r in range(1, n_hosts + 1)]
    tot = sum(w)
    acc, out = 0.0, []
    for x in w:
        acc += x
        out.append(acc / tot)
    return out


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.001


def host_name(idx: int) -> str:
    return f"h{idx:03d}.example-{TLDS[idx % 3]}"


def generate(sf_dir: str, out_dir: str, force: bool = False) -> dict[str, str]:
    """Synthesize fixtures for the documents table under *sf_dir*.

    Returns {name: path}.  Idempotent: skips work if outputs exist
    (they are deterministic) unless *force*.
    """
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "pages": os.path.join(out_dir, "pages.parquet"),
        "seeds": os.path.join(out_dir, "seeds.json"),
        "robots": os.path.join(out_dir, "robots.parquet"),
        "host_budget": os.path.join(out_dir, "host_budget.parquet"),
    }
    if not force and all(os.path.exists(p) for p in paths.values()):
        return paths

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["doc_id", "text", "lang"])
    doc_ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    langs = docs.column("lang").to_pylist()
    n_docs = len(doc_ids)

    sf = _sf_of(sf_dir)
    n_hosts = int(50 * (sf ** 0.5) + 10)
    cdf = _zipf_cdf(n_hosts)

    # --- url universe: 1-3 urls per doc, Zipf host per doc -----------------
    doc_host: list[int] = []
    doc_urls: list[list[str]] = []  # canonical urls per doc
    for d in doc_ids:
        u = (_h(f"host:{d}") % (10 ** 9)) / 1e9
        hidx = bisect.bisect_left(cdf, u)
        doc_host.append(min(hidx, n_hosts - 1))
        m = 1 + _h(f"m:{d}") % 3
        doc_urls.append(
            [f"https://{host_name(doc_host[-1])}/d{d}/p{j}" for j in range(m)]
        )

    all_urls = [u for urls in doc_urls for u in urls]

    def noisy(url: str, salt: str) -> str:
        """A non-canonical variant that canon()s back to *url*."""
        v = _h(f"noise:{salt}:{url}") % 4
        scheme, rest = url.split("://", 1)
        host, _, path = rest.partition("/")
        if v == 0:
            return f"{scheme.upper()}://{host.upper()}/{path}"
        if v == 1:
            return f"{scheme}://{host}:443/{path}"
        if v == 2:
            return f"{scheme}://{host}/{path}#frag"
        return f"{scheme}://{host.upper()}:443/{path}#top"

    # --- pages rows: outlinks embedded in html, 1-3 captures per url -------
    urls_col: list[str] = []
    ts_col: list[datetime] = []
    html_col: list[bytes] = []
    text_col: list[str] = []
    lang_col: list[str] = []
    for di, d in enumerate(doc_ids):
        for j, url in enumerate(doc_urls[di]):
            k = _h(f"k:{url}") % 6
            links = []
            for i in range(k):
                td = _h(f"l:{url}:{i}") % n_docs
                tu = doc_urls[td][_h(f"lu:{url}:{i}") % len(doc_urls[td])]
                if _h(f"np:{url}:{i}") % 100 < NOISY_PCT:
                    tu = noisy(tu, f"{url}:{i}")
                links.append(tu)
            html = spec.render_html(texts[di], d, links, langs[di])
            caps = 1 + _h(f"c:{url}") % 3
            for c in range(caps):
                # distinct, deterministic capture times per url
                off = c * 86_400 + _h(f"ts:{url}:{c}") % 86_400
                urls_col.append(url)
                ts_col.append(BASE_TS + timedelta(seconds=off))
                html_col.append(html)
                text_col.append(texts[di])
                lang_col.append(langs[di])

    tbl = pa.table(
        {
            "url": pa.array(urls_col, pa.string()),
            "warc_ts": pa.array(
                [t.replace(tzinfo=None) for t in ts_col], pa.timestamp("us")
            ),
            "html": pa.array(html_col, pa.binary()),
            "text": pa.array(text_col, pa.string()),
            "lang": pa.array(lang_col, pa.string()),
        }
    )
    pq.write_table(tbl, paths["pages"],
                   row_group_size=max(2000, len(urls_col) // 64))

    # --- seeds: first N canonical urls by xxh64 order ----------------------
    seeds = sorted(set(all_urls), key=lambda u: spec.xxh64(u))[:N_SEEDS]
    with open(paths["seeds"], "w") as f:
        json.dump(seeds, f, indent=1)

    # --- robots: every 7th host, hash-derived disallow prefix --------------
    r_hosts, r_prefixes = [], []
    for idx in range(0, n_hosts, 7):
        hn = host_name(idx)
        r_hosts.append(hn)
        r_prefixes.append(f"/d{_h(f'r:{hn}') % 10}")
    pq.write_table(
        pa.table({"host": pa.array(r_hosts, pa.string()),
                  "disallow_prefix": pa.array(r_prefixes, pa.string())}),
        paths["robots"],
    )

    # --- host_budget: 2 + h(host) % 4 fetches per round --------------------
    b_hosts = [host_name(i) for i in range(n_hosts)]
    budgets = [2 + _h(h) % 4 for h in b_hosts]
    pq.write_table(
        pa.table({"host": pa.array(b_hosts, pa.string()),
                  "budget": pa.array(budgets, pa.int32())}),
        paths["host_budget"],
    )
    return paths


def topic_keywords() -> list[str]:
    # importlib.resources, not a file path — the package may be imported
    # from a --py-files zip on executors/driver (jobs/package.py)
    from importlib import resources

    data = resources.files("storm_focused_crawler_spark.fixtures").joinpath("topic.json")
    return json.loads(data.read_text())["keywords"]


def fixture_dir(sf_dir: str) -> str:
    """Default cache location for fixtures derived from *sf_dir*."""
    sf = _sf_of(sf_dir)
    return os.path.join("/root/repo/fixtures_data", f"sf{sf:g}")


def ensure(sf_dir: str, force: bool = False) -> dict[str, str]:
    return generate(sf_dir, fixture_dir(sf_dir), force=force)


if __name__ == "__main__":
    import sys

    d = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    print(json.dumps(ensure(d, force="--force" in sys.argv), indent=1))
