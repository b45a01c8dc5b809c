"""Regenerate PLANS.md — formatted physical plans of the load-bearing
operators, the human-readable twin of the pins in tests/test_plans.py,
test_bloom.py, test_langid.py, test_pipeline_ops.py, test_topic_nb.py.

Run:  python BENCH/gen_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.001"
DETAIL_RE = re.compile(r"PartitionFilters|PushedFilters|ReadSchema|HashedRelationBroadcastMode")


def tree_of(df) -> str:
    """The indented operator tree of explain('formatted') + the scan /
    broadcast detail lines that carry the pinned properties."""
    full = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    head, _, rest = full.partition("\n\n")
    details = [ln.strip() for ln in rest.splitlines() if DETAIL_RE.search(ln)]
    out = head.rstrip()
    if details:
        out += "\n\n" + "\n".join(dict.fromkeys(details))
    return out


def main() -> None:
    import shutil
    import tempfile

    from storm_focused_crawler_spark.sources.session import scope

    work = tempfile.mkdtemp(prefix="gen_plans-")
    try:
        # the round's persisted frames stay cached until every plan is explained
        with scope():
            write_plans(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def write_plans(work: str) -> None:
    from pyspark.sql import functions as F

    from storm_focused_crawler_spark import spec
    from storm_focused_crawler_spark.fixtures import gen_pages
    from storm_focused_crawler_spark.functions import langid as L
    from storm_focused_crawler_spark.functions import topic_nb as TN
    from storm_focused_crawler_spark.operators import bloom as B
    from storm_focused_crawler_spark.operators import robots as RB
    from storm_focused_crawler_spark.operators import seen_filter as SFL
    from storm_focused_crawler_spark.sources.session import get_spark

    spark = get_spark(app="gen_plans", master="local[8]", shuffle_partitions=8)
    paths = gen_pages.ensure(SF)

    from storm_focused_crawler_spark.driver import (
        FRONTIER_SCHEMA,
        SEEN_SCHEMA,
        CrawlConfig,
        prepare_corpus,
        run_round,
    )

    import json

    with open(paths["seeds"]) as f:
        seeds = [spec.canon(u) for u in json.load(f)]
    frontier = spark.createDataFrame(
        [(u, spec.xxh64(u), 0.0, 0, 0) for u in seeds], FRONTIER_SCHEMA
    )
    empty_seen = spark.createDataFrame([], SEEN_SCHEMA)
    robots = spark.read.parquet(paths["robots"])
    budgets = spark.read.parquet(paths["host_budget"])
    cfg = CrawlConfig(rounds=1, capacity=64, keywords=("data",), host_rank_weight=0.25)
    ranks = spark.createDataFrame(
        [("site-0.example", 10_000_000)], "host string, rank_i long"
    )
    # the crawl's own corpus: the pages table, read as run_crawl reads it
    corpus = prepare_corpus(spark, paths["pages"], work)
    out = run_round(
        spark, corpus, frontier, empty_seen,
        robots, budgets, cfg, 0,
        host_ranks=ranks,
    )

    from storm_focused_crawler_spark.plans import crawl_ops  # noqa: F401
    from storm_focused_crawler_spark.plans import pipeline_ops  # noqa: F401
    from storm_focused_crawler_spark.plans.queries import REGISTRY

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    docs = spark.read.parquet(f"{SF}/documents.parquet")

    hashes = spark.range(0, 2000).select(F.xxhash64("id").alias("url_hash"))
    shards = B.build_shards(hashes, 4, 1 << 12)

    from storm_focused_crawler_spark.operators import cuckoo as CK

    ck_shards = CK.build_shards(hashes, 4, 1 << 10)

    # one iteration of the connected-components loop, exactly as
    # operators/dedup.cluster_keepers builds it (post-localCheckpoint
    # inputs modeled by fresh leaf frames)
    cc_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "u long, v long"
    )
    cc_lab = cc_edges.select("u").distinct().select("u", F.col("u").alias("lab"))
    cc_nb = cc_edges.join(cc_lab.select(F.col("u").alias("v"), "lab"), "v").select("u", "lab")
    cc_jump = cc_lab.join(
        cc_lab.select(F.col("u").alias("lab"), F.col("lab").alias("lab2")), "lab"
    ).select("u", F.col("lab2").alias("lab"))
    cc_iter = (
        cc_lab.unionByName(cc_nb).unionByName(cc_jump)
        .groupBy("u").agg(F.min("lab").alias("lab"))
    )

    rep_rules = spark.createDataFrame(
        [("h.ex", "/a", False), ("h.ex", "/a/b", True)], RB.RULES_SCHEMA
    )
    rep_urls = spark.createDataFrame(
        [("https://h.ex/a/b/c", "h.ex", "/a/b/c")], "url string, host string, path string"
    )

    sections: list[tuple[str, str, object]] = [
        ("Fetch join + extraction (crawl hot path)",
         "The dequeued set (≤ capacity rows) broadcasts INTO the page corpus "
         "— the corpus is never exchanged.  The corpus is the pages table "
         "as given: every round scans all of it.  The as-of window's Exchange "
         "(hashpartitioning on url) still carries `html` but not the corpus "
         "`text` column; `html` is dropped at extraction, so no exchange after "
         "it carries html.",
         out["results"]),
        ("Per-host top-k politeness dequeue, host-authority blended",
         "One host exchange: the rank filter's literal bound plans a Partial "
         "WindowGroupLimit below it (≤ max_budget rows per host per map task) "
         "and a Final one above it, BEFORE the window sort; the budget dim "
         "and the §2.1-7 host-rank table both join broadcast.",
         out["frontier"]),
        ("REP robots filter (longest-match + Allow)",
         "Rules group into ONE array per host (broadcast); the verdict is an "
         "order-independent fold — no row multiplication of the frontier, no "
         "Exchange introduced by the filter.",
         RB.rep_filter(rep_urls, rep_rules, F.col("path"))),
        ("Banded-LSH embedding near-dup",
         "Candidates come from (band, bucket) equi-joins — no "
         "CartesianProduct / BroadcastNestedLoopJoin anywhere; exact-cosine "
         "verify joins by id.",
         REGISTRY["dedup_embedding_cosine"][0](spark, SF)),
        ("Shard-routed Bloom probe (beyond-broadcast path)",
         "One Exchange on (shard) routes each hash to the task holding its "
         "bitset — a cogroup, not an N-times-replicated broadcast.",
         SFL.probe_routed(hashes, B, shards, 4, 1 << 12)),
        ("Shard-routed cuckoo probe (beyond-broadcast path)",
         "Same cogroup shape as the Bloom probe over the deletion-capable "
         "cuckoo sidecar (operators/cuckoo.py): one Exchange on (shard), "
         "each task deserializes exactly one fingerprint table.",
         SFL.probe_routed(hashes, CK, ck_shards, 4, 1 << 10)),
        ("Char-n-gram language ID — Arrow scorer (hot path)",
         "ONE narrow ArrowEvalPython pass: no Generate (explode), no "
         "Exchange at all.  The relational twin below remains the "
         "DuckDB-oracled spec.",
         L.classify_arrow(docs)),
        ("Char-n-gram language ID — relational spec",
         "Profile table (≤2000 rows) broadcasts; the wide shuffles are the "
         "(doc, gram) dedup aggregate and the per-doc argmax window.",
         L.classify(docs)),
        ("NB topic classifier",
         "Integer log-weight table broadcasts; one hash aggregate per "
         "(doc, topic) + argmax window — the same shape DuckDB verifies.",
         TN.classify(docs)),
        ("Cluster-resolution iteration (dedup_cluster_keeper)",
         "ONE round of min-label propagation + pointer jumping: two "
         "shuffle hash joins + a hash aggregate over node-cardinality "
         "tables, no broadcast of anything data-sized, no cross product.  "
         "The loop localCheckpoints each round, so THIS is the whole plan "
         "every iteration — plan depth does not grow with iteration count.",
         cc_iter),
        ("Multi-band LSH kNN (sim_knn_lsh)",
         "n_bands OR-ed band buckets (geometry derived from the design "
         "point by dedup.lsh_geometry): the corpus's band buckets stream "
         "against the BROADCAST query buckets — the corpus is never "
         "exchanged for candidate generation; only surviving pairs are "
         "exact-cosine scored.",
         REGISTRY["sim_knn_lsh"][0](spark, SF)),
        ("RFC 9309 robots.txt group-selection parse",
         "posexplode lines + regex classify + lag/running-max windows "
         "assign rules to user-agent runs; group selection is a per-host "
         "aggregate + join.  Robots tables are dim-sized — every window "
         "partitions by host over one file's lines.",
         RB.parse_robots(
             spark.createDataFrame(
                 [("h.ex", "User-agent: a\nDisallow: /x\nUser-agent: *\nAllow: /y")],
                 "host string, content string"),
             "focused-crawler")),
        ("Crawl-delay dequeue (min_interval_ms cap)",
         "The interval cap folds into the broadcast budget join as a "
         "scalar expression (integer-exact ceil); the rank filter keeps "
         "its LITERAL bound, so WindowGroupLimit survives unchanged — "
         "the politeness cap costs no extra exchange.",
         __import__("storm_focused_crawler_spark.operators.frontier",
                    fromlist=["dequeue"]).dequeue(
             frontier.withColumn("host", F.lit("h.ex")),
             spark.createDataFrame([("h.ex", 4, 15000)],
                                   "host string, budget int, min_interval_ms int"),
             capacity=64, max_budget=4)),
        ("Gopher repetition filter (text_repetition_gopher)",
         "One Generate (gram explode) + TWO map-side-combinable hash "
         "aggregates; gram rows carry (doc_id, n, gram) only — the text "
         "column never crosses an Exchange.",
         REGISTRY["text_repetition_gopher"][0](spark, SF)),
        ("PII detect + redact (pii_detect_redact)",
         "Pure per-row JVM regex inside one WholeStageCodegen span over "
         "the scan — ZERO Exchange in the whole plan.",
         REGISTRY["pii_detect_redact"][0](spark, SF)),
        ("Benchmark n-gram decontamination (decontam_ngram)",
         "Per-doc gram dedup is LOCAL (array_distinct before the explode), "
         "so the corpus side reaches the eval-gram BroadcastHashJoin with "
         "no gram-keyed Exchange; the only corpus shuffle is the final "
         "per-doc count over contamination-sized hits.",
         REGISTRY["decontam_ngram"][0](spark, SF)),
        ("ExactSubstr dedup (dedup_substring_exact)",
         "The candidate Exchange ships (xxhash64, doc_id, i) ONLY — window "
         "text never crosses the shuffle (a groupBy(window_text) would "
         "amplify the corpus ~W× through the network); flagged windows "
         "re-derive their text by an id-keyed join against the doc's own "
         "token array, and the exactness-restoring verify is one analytic "
         "count over the candidate subset.",
         REGISTRY["dedup_substring_exact"][0](spark, SF)),
        ("BM25 ranked retrieval (rank_bm25)",
         "Query terms and the df table broadcast into the postings "
         "stream — the inverted lists are pruned BEFORE any exchange "
         "of corpus-sized data; one per-doc hash agg + a bounded "
         "top-k window; the corpus text is never touched.",
         REGISTRY["rank_bm25"][0](spark, SF)),
        ("Bigram-LM perplexity bucketing (quality_lm_perplexity)",
         "The LM tables (reference-slice-sized) broadcast into the "
         "pair stream; scoring is one explode + three BroadcastHashJoins "
         "+ one per-doc agg.  The only global sort is the ntile over "
         "DOC-level rows — 3-4 orders of magnitude fewer than tokens.",
         REGISTRY["quality_lm_perplexity"][0](spark, SF)),
        ("Incremental batch-vs-corpus MinHash (dedup_minhash_incremental)",
         "The stored-signature side streams its band buckets; the BATCH "
         "side broadcasts into the (band, bh) equi-join; corpus text is "
         "re-read only via candidate-id joins.  No cross product, no "
         "full-corpus re-signature.",
         REGISTRY["dedup_minhash_incremental"][0](spark, SF)),
        ("SimHash near-dup (dedup_simhash)",
         "The exchange after the signature select is load-bearing: it "
         "stops codegen from inlining the 64-bit getbit fold into all "
         "eight downstream references (4 band structs x 2 join sides) — "
         "measured 2.4x at sf0.1.  The shuffle ships 24 bytes/doc.",
         REGISTRY["dedup_simhash"][0](spark, SF)),
        ("Gopher quality rules (quality_gopher_rules)",
         "All seven A1 heuristics are per-row JVM array/string expressions "
         "over the derived multi-line corpus — ZERO Exchange in the whole "
         "plan (pinned in tests/test_curation.py).",
         REGISTRY["quality_gopher_rules"][0](spark, SF)),
        ("Domain-level quality gate (host_quality_gate)",
         "Integer quality sums hash-aggregate onto the dim-sized source "
         "key (map-side combinable); the per-source verdict broadcasts "
         "back onto the docs — the corpus itself never shuffles.",
         REGISTRY["host_quality_gate"][0](spark, SF)),
        ("Scan pruning (scan_pages)",
         "Projection reaches the parquet scan: ReadSchema carries only the "
         "selected columns.",
         REGISTRY["scan_pages"][0](spark, SF)),
    ]

    lines = [
        "# PLANS — formatted physical plans of the load-bearing operators",
        "",
        "Generated against sf0.001 on local[8] (plans are scale-invariant in",
        "structure; AQE may re-plan exchanges at runtime).  These are the plan",
        "properties the test suite pins (tests/test_plans.py, test_bloom.py,",
        "test_langid.py, test_pipeline_ops.py, test_topic_nb.py) — this file",
        "is the human-readable evidence.  Regenerate: python BENCH/gen_plans.py",
        "",
    ]
    for title, blurb, df in sections:
        lines += [f"## {title}", "", blurb, "", "```", tree_of(df), "```", ""]

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote PLANS.md,", len(sections), "sections")


if __name__ == "__main__":
    main()
