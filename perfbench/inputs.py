"""Seeded input generation for the workloads.

Every input the engine sees is made here from the workload seed; the
same seed gives the same files, another seed gives other files.
Nothing is read from outside the checkout.  The crawl corpus is built
by the package's own fixture generator (``fixtures.gen_pages``) over a
synthesized ``documents`` table with the schema and value shape of the
testdata one (a 31-word vocabulary holding the 12 topic keywords and
the stopwords 'the'/'a', 10-100 words per document, 5 % near-duplicates
ending in ``dup``, a few exact duplicates).  The frontier is generated
inside Spark.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

# crawl workload: bench.py's throughput config (4000 seeds, budgets
# boosted ×50) over an sf0.1-sized corpus (5000 documents)
CRAWL_DOCS = 5000
CRAWL_SEEDS = 4000
CRAWL_BUDGET_BOOST = 50


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per generated table
    return np.random.default_rng([seed, sum(stream.encode())])


def documents(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "documents")
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, at = [], 0
    for ln in lengths:
        texts.append(" ".join(vocab[words[at:at + ln]]))
        at += ln
    # 5 % near-duplicates (another document's text + " dup") and 0.2 %
    # exact copies, as in the testdata documents
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 500), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in langs], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def crawl_fixture(seed: int, work: str, n_docs: int = CRAWL_DOCS,
                  n_seeds: int = CRAWL_SEEDS) -> dict[str, str]:
    """A page corpus plus bench.py's throughput variant.

    The corpus (pages/robots/host_budget) comes from gen_pages over a
    seeded documents table; the directory is named ``sf0.1`` because
    gen_pages derives the host count from it.  Seeds are *n_seeds*
    corpus urls drawn by the workload seed; budgets are boosted ×50 so
    rounds fill their capacity instead of hitting the fixture's tiny
    per-host caps.
    """
    from storm_focused_crawler_spark.fixtures import gen_pages

    src = os.path.join(work, "sf0.1")
    os.makedirs(src, exist_ok=True)
    pq.write_table(documents(seed, n_docs), os.path.join(src, "documents.parquet"))
    paths = gen_pages.generate(src, os.path.join(src, "fixture"), force=True)

    urls = sorted(set(pq.read_table(paths["pages"], columns=["url"]).column("url").to_pylist()))
    pick = _rng(seed, "seeds").choice(len(urls), min(n_seeds, len(urls)), replace=False)
    paths["seeds"] = os.path.join(src, "seeds.json")
    with open(paths["seeds"], "w") as f:
        json.dump([urls[i] for i in sorted(pick)], f)

    hb = pq.read_table(paths["host_budget"])
    boosted = pc.multiply(hb.column("budget"), CRAWL_BUDGET_BOOST).cast(pa.int32())
    paths["host_budget"] = os.path.join(src, "host_budget_boosted.parquet")
    pq.write_table(pa.table({"host": hb.column("host"), "budget": boosted}),
                   paths["host_budget"])
    return paths


# --------------------------------------------------------------------------
# frontier workload: host-skewed synthetic frontier (the generator shape of
# BENCH/scale_worker.synth_frontier, salted by the seed), a seen set built
# from the frontier's own url hashes, robots rules and host budgets
# --------------------------------------------------------------------------

# a pass costs ~3-3.7 s that do not depend on row count (15 jobs, plan-time
# scalar collects) plus ~4 s per million rows (local[4] on a 4-vCPU VM); at
# 1.2M rows the row-proportional part is ~60 % of the pass, at 300k only
# ~25-30 % (sizes measured in MEASUREMENTS.md)
FRONTIER_ROWS = 1_200_000
HOT_SHARE_DECILES = 3     # 30 % of rows on the hot host h0000
N_COLD_HOSTS = 1000       # Zipf(1)-like tail: host k with P ~ log((k+1)/k)
NONCANON_OF_30 = 3        # 10 % non-canonical variants (upper case / :443 / #frag)
SEEN_OVERLAP_OF = 3       # 1 in 3 frontier urls is already seen
SEEN_HISTORY = 1          # seen also holds 1 × rows hashes of urls no longer in
                          # the frontier (a crawl's history)
ROBOTS = {                # Disallow rules on a few hosts, hot host included
    "h0000.scale-test.com": "/d1",
    "h0001.scale-test.com": "/d2",
    "h0003.scale-test.com": "/d",
    "h0010.scale-test.com": "/d4",
}


def _host_col(idx):
    from pyspark.sql import functions as F

    return F.concat(F.lit("h"), F.lpad(idx.cast("string"), 4, "0"), F.lit(".scale-test.com"))


def frontier_frame(spark, seed: int, rows: int):
    """(id, raw_url, clean_url, score, seen) — one row per distinct url."""
    from pyspark.sql import functions as F

    df = spark.range(rows).withColumn("h64", F.xxhash64(F.lit(seed), F.col("id")))
    hot = F.pmod(F.col("h64"), F.lit(10)) < HOT_SHARE_DECILES
    u = F.pmod(F.xxhash64(F.col("h64"), F.lit(1)), F.lit(1 << 30)) / F.lit(float(1 << 30))
    cold = F.floor(F.pow(F.lit(float(N_COLD_HOSTS + 1)), u)).cast("long")
    host = _host_col(F.when(hot, F.lit(0)).otherwise(F.least(cold, F.lit(N_COLD_HOSTS))))
    path = F.concat(F.lit("/d"), (F.col("id") % 97).cast("string"),
                    F.lit("/p"), F.col("id").cast("string"))
    clean = F.concat(F.lit("https://"), host, path)
    v = F.pmod(F.xxhash64(F.col("h64"), F.lit(2)), F.lit(30))
    raw = (
        F.when(v == 0, F.concat(F.lit("HTTPS://"), F.upper(host), path))
        .when(v == 1, F.concat(F.lit("https://"), host, F.lit(":443"), path))
        .when(v == 2, F.concat(F.lit("https://"), host, path, F.lit("#frag")))
        .otherwise(clean)
    )
    score = F.pmod(F.xxhash64(F.col("h64"), F.lit(3)), F.lit(100_000)) / F.lit(100_000.0)
    seen = F.pmod(F.xxhash64(F.col("h64"), F.lit(4)), F.lit(SEEN_OVERLAP_OF)) == 0
    return df.select("id", raw.alias("raw_url"), clean.alias("clean_url"),
                     score.alias("score"), seen.alias("seen"), hot.alias("hot"),
                     (v < NONCANON_OF_30).alias("noncanon"))


def write_frontier_inputs(spark, seed: int, rows: int, out: str) -> dict:
    """Write frontier/seen/robots/budgets parquet under *out*; returns
    their paths plus the generated properties (exact counts)."""
    from pyspark.sql import functions as F

    from pyspark.sql import Observation

    fr = frontier_frame(spark, seed, rows)
    paths = {t: os.path.join(out, f"{t}.parquet")
             for t in ("frontier", "seen", "robots", "host_budget")}
    # the generated properties are counted while the frontier is written
    obs = Observation("frontier_props")
    fr.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("seen").cast("long")).alias("seen_overlap"),
        F.sum(F.col("hot").cast("long")).alias("hot_rows"),
        F.sum(F.col("noncanon").cast("long")).alias("noncanon_rows"),
    ).select("raw_url", "score", F.lit(0).alias("depth")).write.mode(
        "overwrite").parquet(paths["frontier"])
    # the seen set: the hashes of 1/3 of the frontier's canonical urls,
    # plus the history of urls the frontier does not hold
    overlap = fr.filter("seen").select(F.xxhash64("clean_url").alias("url_hash"))
    other = spark.range(SEEN_HISTORY * rows).select(
        F.xxhash64(F.lit(seed), F.lit("history"), F.col("id")).alias("url_hash"))
    overlap.unionByName(other).write.mode("overwrite").parquet(paths["seen"])
    spark.createDataFrame(sorted(ROBOTS.items()), "host string, disallow_prefix string") \
        .write.mode("overwrite").parquet(paths["robots"])
    spark.range(N_COLD_HOSTS + 1).select(
        _host_col(F.col("id")).alias("host"),
        (F.lit(100) + F.pmod(F.col("id"), F.lit(50))).cast("int").alias("budget"),
    ).write.mode("overwrite").parquet(paths["host_budget"])
    return {"paths": paths, "props": dict(obs.get), "max_budget": 100 + 49}
