"""Crawl round driver — the engine's replacement for the Storm topology.

The reference wires RedisSpout → URLExpanderBolt → WebPageFetcherBolt →
ArticleExtractionBolt → RankerBolt → UpdaterBolt as a continuously
running topology with Redis as mutable shared state ([R], SURVEY.md
§3).  Here each crawl round is ONE DataFrame DAG (SURVEY.md §3 entry
point 1) over immutable snapshot tables, committed atomically per
round, with lineage cut at every round boundary by reading state back
from the committed snapshot (so a 1000-round crawl never accumulates a
1000-round plan).  Inside a round, the dequeued set and the fetched
pages are built once, as eager local checkpoints, before the commit.

Scale notes (the 100 TB story, graded against BASELINE.md):
  * the crawl reads every input where it lies.  The per-round fetch
    join broadcasts the (tiny, ≤ capacity rows) dequeued set into the
    page corpus as given, so the corpus is never exchanged by the
    join; a bucketed copy would buy nothing, since a round of C urls
    hits nearly every bucket (ROADMAP direction 6);
  * the fat ``html`` column is extracted right after the fetch join,
    but the as-of window in udfs.fetch_extract shuffles the fetched
    rows by url WITH their html; nothing downstream of extraction
    shuffles html bytes (SURVEY.md §7.4-4);
  * politeness runs one per-host top-k whose map-side partial limit
    (operators/frontier.py) keeps one hot host from skewing a task;
  * the seen-set probe is an exact anti-join on url_hash (with an
    optional Bloom or cuckoo pre-filter, ``CrawlConfig.seen_filter``,
    probed broadcast or shard-routed by operators/seen_filter.py).
    Hash partitioning does not survive the parquet commit, so the
    frontier and seen scans are both shuffled by url_hash for it (AQE
    may broadcast seen instead while it is small); with a seen filter,
    only the filter-positive frontier rows enter that join.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from storm_focused_crawler_spark import spec
from storm_focused_crawler_spark.functions.udfs import (
    canonicalize_udf,
    close_mapping,
    expand_urls,
    fetch_extract,
    host_col,
    score_col,
)
from storm_focused_crawler_spark.operators import graph, seen_filter
from storm_focused_crawler_spark.operators.frontier import dequeue, eligible
from storm_focused_crawler_spark.operators.robots import rules_by_host
from storm_focused_crawler_spark.sources.session import (
    checkpoint,
    column_tree,
    persist,
    scope,
)
from storm_focused_crawler_spark.sources.storage import ParquetSnapshotStore

FRONTIER_SCHEMA = "url string, url_hash long, score double, depth int, discovered_round int"
SEEN_SCHEMA = "url_hash long"
# append-only per-round deltas (read with store.read_union); a compaction
# round also commits <table>_full so reads start there
DELTA_TABLES = ("seen", "host_edges", "postings")
# full snapshots rewritten every round, only the latest ever read; a
# compaction round prunes the older ones
SNAPSHOT_TABLES = ("bloom", "host_sched", "host_used")


@dataclass
class CrawlConfig:
    rounds: int = 3
    capacity: int = 64
    keywords: tuple[str, ...] = ()
    # not fields: ignored, kept only for perfbench/workloads.py to read
    n_salts = 8
    url_buckets = 16
    # advisory seen-filter sidecar in front of the exact seen anti-join:
    # None (off), "bloom" (bitset OR-merge, operators/bloom.py) or
    # "cuckoo" (fingerprint table with deletion support,
    # operators/cuckoo.py).  Both honor the same §2.1-3 contract —
    # probe-negative ⇒ definitively unseen; the exact anti-join stays
    # the membership authority — so the crawl ordering is identical
    # under any kind (tested).  The probe broadcasts the filter up to
    # seen_filter.BROADCAST_MAX_BYTES and is shard-routed beyond.
    seen_filter: str | None = None
    bloom_shards: int = 8
    bloom_bits_per_shard: int = 1 << 20
    # cuckoo sizing: buckets/shard (power of two, 4 slots each) — size
    # for load ≤ 0.8; 2^17 buckets ≈ 524k slots ≈ 1 MiB/shard
    cuckoo_buckets_per_shard: int = 1 << 17
    # every N rounds: write the full set of each DELTA_TABLES table and
    # prune old SNAPSHOT_TABLES snapshots (bounds read fan-in and state size)
    compact_every: int = 64
    # commit an inverted-index postings delta per round ([R] TextIndexerBolt
    # counterpart; read the full index with store.read_union(..., 'postings'))
    build_text_index: bool = False
    # §2.1-7: blend host link-graph authority (integer PageRank over the
    # host edges discovered so far) into the dequeue priority —
    # priority = round6(score + weight · rank_i/SCALE).  0.0 keeps pure
    # relevance ordering.  The sequential oracle implements the identical
    # semantics (oracle/seqcrawler.py), so parity stays exact with the
    # flag on.  Edges are committed as per-round append-only deltas
    # (host_edges), like `seen`.
    host_rank_weight: float = 0.0
    host_rank_iters: int = 5
    # page relevance scorer: "keywords" = §2.1-4 keyword overlap (the
    # parity default); "topic_nb" = trained multinomial-NB posterior of
    # nb_target_topic (functions/topic_nb.score_text — one python
    # function shared with the oracle, so parity stays byte-exact)
    scorer: str = "keywords"
    nb_target_topic: str = "databases"
    # product token for RFC 9309 robots group selection — used only when
    # the robots fixture carries raw robots.txt bodies (host, content);
    # pre-parsed rule tables bypass group selection entirely
    user_agent: str = "focused-crawler"
    # per-host crawl-delay window: when host_budget carries
    # min_interval_ms, a host's per-round budget is capped at
    # ceil(round_ms / interval) — requests spaced interval ms apart
    # inside a round_ms round (operators/frontier.dequeue; oracle twin
    # in seqcrawler applies the identical integer-exact cap)
    round_ms: int = 60_000
    # cumulative per-host page quota ([R] crawl-budget guard): across
    # ALL rounds, a host is fetched at most this many times; the spent
    # count is a checkpointed dim snapshot (host_used) like host_sched.
    # None = unbounded.  Oracle twin: seqcrawler max_pages_per_host.
    max_pages_per_host: int | None = None
    # focused-crawl depth cap ([R] the topology's crawl-depth guard):
    # links at depth > max_depth are OBSERVED (host graph, metrics) but
    # never enqueued; None = unbounded.  Seeds are depth 0.  Oracle
    # twin: seqcrawler.CrawlConfig.max_depth.
    max_depth: int | None = None


def _seen_filter(cfg: CrawlConfig) -> tuple:
    """(kind module, size parameter per shard, manifest ``bloom_cfg``)
    for cfg.seen_filter; all None when the filter is off.

    The one place a kind is chosen and its ``bloom_cfg`` built:
    run_crawl and recrawl both call it, so a resume compares manifests
    written the same way (a mismatch rebuilds the filter)."""
    if cfg.seen_filter is None:
        return None, None, None
    from storm_focused_crawler_spark.operators import bloom, cuckoo

    if cfg.seen_filter == "bloom":
        return bloom, cfg.bloom_bits_per_shard, {
            "n_shards": cfg.bloom_shards, "n_bits": cfg.bloom_bits_per_shard}
    if cfg.seen_filter == "cuckoo":
        return cuckoo, cfg.cuckoo_buckets_per_shard, {
            "kind": "cuckoo", "n_shards": cfg.bloom_shards,
            "n_buckets": cfg.cuckoo_buckets_per_shard}
    raise ValueError(
        f"unknown seen_filter {cfg.seen_filter!r}; expected None, 'bloom' or 'cuckoo'"
    )


def _prev_filter(spark: SparkSession, store: ParquetSnapshotStore, rnd: int,
                 m: dict, filt_cfg: dict | None) -> DataFrame | None:
    """Round *rnd*'s committed filter shards (*m* is its manifest) if
    they were built under *filt_cfg*, else None (ADVICE r01: resuming
    with changed kind or sizes must not merge incompatible shards;
    resuming with the filter newly enabled must not treat a delta-only
    filter as the full history)."""
    if filt_cfg is not None and "bloom" in m["tables"] and m.get("bloom_cfg") == filt_cfg:
        return store.read(spark, rnd, "bloom")
    return None


def _page_score(scorer: str, keywords: tuple[str, ...], nb_target_topic: str) -> Column:
    """The page relevance score over ``text_x`` (CrawlConfig.scorer)."""
    if scorer == "topic_nb":
        from storm_focused_crawler_spark.functions.topic_nb import score_nb_col

        return score_nb_col(F.col("text_x"), nb_target_topic)
    if scorer == "keywords":
        return score_col(F.col("text_x"), list(keywords))
    raise ValueError(f"unknown scorer {scorer!r}")


# --------------------------------------------------------------------------
# crawl inputs, read where they lie
# --------------------------------------------------------------------------

def _read_input(spark: SparkSession, path: str, workdir: str) -> DataFrame:
    """The parquet input at *path*, read with the schema recorded for
    it in *workdir*.  Only the first read of a path in a workdir runs
    Spark's schema-inference job; it records the result by tmp file +
    rename, so a killed run leaves the old record or the new one.  An
    input must keep its schema for the life of the workdir."""
    record = os.path.join(workdir, "input_schemas.json")  # {path: schema JSON}
    try:
        with open(record) as f:
            schemas = json.load(f)
    except FileNotFoundError:
        schemas = {}
    if path in schemas:
        return spark.read.schema(StructType.fromJson(schemas[path])).parquet(path)
    df = spark.read.parquet(path)
    schemas[path] = df.schema.jsonValue()
    os.makedirs(workdir, exist_ok=True)
    with open(record + ".tmp", "w") as f:
        json.dump(schemas, f)
    os.replace(record + ".tmp", record)
    return df


def prepare_corpus(spark: SparkSession, pages_path: str, out_dir: str,
                   n_buckets: int | None = None) -> DataFrame:
    """The page corpus a crawl in *out_dir* fetches from: *pages_path*
    as given.  Writes no data; records the pages schema, so the
    crawl's own read of it runs no job.  *n_buckets* is ignored."""
    return _read_input(spark, pages_path, out_dir)


# --------------------------------------------------------------------------
# one crawl round = one DataFrame DAG
# --------------------------------------------------------------------------


def run_round(
    spark: SparkSession,
    corpus: DataFrame,
    frontier: DataFrame,
    seen: DataFrame,
    robots: DataFrame,
    host_budget: DataFrame,
    cfg: CrawlConfig,
    rnd: int,
    filter_shards: DataFrame | None = None,
    url_expansions: DataFrame | None = None,
    host_ranks: DataFrame | None = None,
    host_sched: DataFrame | None = None,
    host_used: DataFrame | None = None,
    redirects: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The previous round's state in, the complete next state out —
    every table round *rnd* commits, in one dict.

    Two frames are built here, before the commit, as eager local
    checkpoints: ``deq``, the dequeued set (≤ capacity rows), and
    ``ex``, the fetched pages with their extraction and page score.
    Every committed table reads one of them, so the commit plans over
    their small checkpointed leaves and recomputes nothing upstream of
    them.  The other tables stay lazy; ``links`` and the next frontier
    are persisted and built by the commit's first writes.

    In: *frontier* (round 0 also marks it seen), the full *seen* set
    and the previous round's full snapshots *filter_shards* (built
    under cfg's seen filter), *host_sched* and *host_used*, each None
    when not committed.  Out:
    ``ordering``, ``results``, ``frontier``, the ``seen`` delta,
    ``metrics``; the full snapshots ``host_sched`` (host_budget has
    delays), ``host_used`` (a quota) and ``bloom`` (a seen filter); the
    ``host_edges`` / ``postings`` deltas when enabled.

    A round's lineage (north rule: "per-partition lineage + metrics")
    is the ``metrics`` table — rows per (stage, partition) for the
    dequeued set, the discovered links and the next frontier — plus
    the per-table row counts the commit writes into the round
    manifest.  Its checkpointed and persisted frames are released by
    the caller's ``session.scope()``; a lost executor fails the round
    (local checkpoints are not recomputed), and the crawl resumes from
    the last committed manifest.

    *robots* may already be host-grouped (``robots.rules_by_host``).
    """
    filt, filt_param, _ = _seen_filter(cfg)
    probe = None
    if filter_shards is not None:
        # advisory only — eligible() re-checks positives exactly (§2.1-3)
        probe = seen_filter.probe_transform(
            spark, filt, filter_shards, cfg.bloom_shards, filt_param
        )
    elig = eligible(frontier, seen, robots, probe)
    if host_ranks is not None:
        # §2.1-7 authority blend: EXACTLY spec.blended_priority's
        # expression tree (add(score, mul(w, div(rank_i, SCALE)))) +
        # half-even round — bit-identical to the oracle's doubles.
        # host_ranks is host-cardinality (~10^6 at web scale): broadcast.
        elig = (
            elig.join(F.broadcast(host_ranks), "host", "left")
            .withColumn(
                "score",
                F.bround(
                    F.col("score")
                    + F.lit(cfg.host_rank_weight)
                    * (F.coalesce(F.col("rank_i"), F.lit(0).cast("long"))
                       / F.lit(float(spec.PAGERANK_SCALE))),
                    6,
                ),
            )
            .drop("rank_i")
        )
    delayed = host_carry = None
    if "min_interval_ms" in host_budget.columns:
        delayed = host_budget.filter(F.col("min_interval_ms") > 0).select(
            "host", "min_interval_ms"
        )
        if host_sched is not None:
            # cross-round crawl-delay continuity (VERDICT r04 #2): the
            # politeness debt a delayed host starts this round with —
            # its last fetch + interval, past this round's start.  Both
            # tables are dim-sized; the whole computation broadcasts.
            host_carry = (
                host_sched.join(F.broadcast(delayed), "host", "inner")
                .select(
                    "host",
                    (F.col("last_abs_ms") + F.col("min_interval_ms")
                     - F.lit(rnd * cfg.round_ms).cast("long")).alias("carry_ms"),
                )
                .filter(F.col("carry_ms") > 0)
            )
    deq = dequeue(elig, host_budget, cfg.capacity,
                  round_ms=cfg.round_ms, host_carry=host_carry,
                  host_cap=cfg.max_pages_per_host, host_used=host_used)
    # built here, before the commit: every committed table reads the
    # dequeued set, and a checkpoint cuts the eligible -> dequeue
    # lineage out of each table's plan
    deq = checkpoint(
        deq.select("url", "url_hash", "score", "depth", "seq", "host", "sched_ms"),
        eager=True,
    )

    # ≤ capacity rows: one partition sorted in place, no range-partition
    # sampling job
    ordering = (
        deq.select(F.lit(rnd).alias("round"), "seq", "url")
        .coalesce(1)
        .sortWithinPartitions("seq")
    )

    # --- fetch = broadcast-join the tiny dequeued set into the corpus ------
    fetch_keys = deq.select("url", "seq", "depth")
    if redirects is not None:
        # 3xx chains ([R] fetcher redirect handling; VERDICT r04 #5):
        # *redirects* is the CLOSED canonical (url → final_url) dim
        # mapping, broadcast like url_expansions.  The hop was already
        # charged to the ORIGINAL host's budget by the dequeue above.
        # Two dedup layers keep exactly-once fetching: (a) same-round —
        # several dequeued urls landing on one final_url keep the
        # lowest seq (tiny ≤capacity window); (b) cross-round — finals
        # already in the seen set are dropped via a broadcast semi-join
        # that SCANS seen but never shuffles it (the tiny side
        # broadcasts both times; a left_anti against 10^10-row seen
        # would sort-merge it).
        fetch_keys = fetch_keys.join(F.broadcast(redirects), "url", "left").withColumn(
            "final_url", F.coalesce(F.col("final_url"), F.col("url"))
        )
        w_rf = Window.partitionBy("final_url").orderBy("seq")
        fetch_keys = (
            fetch_keys.withColumn("_rf", F.row_number().over(w_rf))
            .filter(F.col("_rf") == 1)
            .drop("_rf")
        )
        fh = fetch_keys.withColumn("_fh", F.xxhash64("final_url"))
        hits = seen.select("url_hash").join(
            F.broadcast(fh.select(F.col("_fh").alias("url_hash")).distinct()),
            "url_hash",
            "left_semi",
        )
        fetch_keys = (
            fh.join(
                F.broadcast(hits.select(F.col("url_hash").alias("_fh"))),
                "_fh",
                "left_anti",
            )
            .select(F.col("final_url").alias("url"), "seq", "depth")
            .transform(persist)
        )
    # the fetched pages, built here like deq: results, links, postings
    # and (through links) the next frontier all read them
    ex = checkpoint(
        fetch_extract(corpus, fetch_keys)
        .withColumn("page_score", column_tree(_page_score, cfg.scorer, tuple(cfg.keywords),
                                              cfg.nb_target_topic))
        .withColumn("n_links", F.size("links_raw")),
        eager=True,
    )

    results = ex.select(
        F.lit(rnd).alias("round"),
        "seq",
        "url",
        F.col("page_score").alias("score"),
        F.col("text_x").alias("text"),
        "lang",
        "n_links",
    )

    # --- link discovery → next frontier ------------------------------------
    links = ex.select(
        host_col(F.col("url")).alias("_src_host"),  # for the host graph
        F.explode("links_raw").alias("link_raw"),
        F.col("page_score").alias("score"),
        (F.col("depth") + 1).alias("depth"),
    )
    if url_expansions is not None:
        # shortener resolution BEFORE canonicalization ([R] URLExpanderBolt)
        links = expand_urls(links, url_expansions, "link_raw")
    links = (
        links.withColumn("url", canonicalize_udf(F.col("link_raw")))
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("discovered_round", F.lit(rnd + 1))
        .select("_src_host", "url", "url_hash", "score", "depth", "discovered_round")
    ).transform(persist)  # feeds the seen anti-join; don't re-run the UDF chain
    host_edges = links.select(
        F.col("_src_host").alias("src"), host_col(F.col("url")).alias("dst")
    )
    links = links.drop("_src_host")

    # --- seen set: append-only DELTA (O(capacity) per round, never a
    # rewrite of the accumulated 10^10-hash set; readers union the
    # per-round deltas in one multi-path scan — storage.read_union) ----------
    emitted = deq.select("url_hash")
    seen_delta = emitted
    if redirects is not None:
        # the fetched FINAL urls become seen too (a later round must not
        # re-fetch a landing page directly or via another alias); misses
        # included — a miss stays a miss when fetched directly
        seen_delta = seen_delta.unionByName(
            fetch_keys.select(F.xxhash64("url").alias("url_hash"))
        ).distinct()
    if rnd == 0:
        # round 0 marks its input frontier (seeds + sitemap urls) seen;
        # the delta is ≤ capacity + |seeds| rows, so distinct is cheap
        seen_delta = seen_delta.unionByName(frontier.select("url_hash")).distinct()
    seen_next = seen.select("url_hash").unionByName(seen_delta)

    enqueueable = links
    if cfg.max_depth is not None:
        # depth cap gates ENQUEUE only — the host graph above already
        # observed every extracted edge, like the oracle
        enqueueable = links.filter(F.col("depth") <= cfg.max_depth)
    new_unseen = enqueueable.join(seen_next, "url_hash", "left_anti")
    # emitted is ≤ capacity rows: broadcast it, so the frontier is not
    # shuffled by url_hash for this anti-join
    rest = frontier.join(F.broadcast(emitted), "url_hash", "left_anti")
    merged = rest.unionByName(new_unseen)
    # per-url best entry by (max score, min depth, min discovered_round):
    # a hash AGGREGATE with map-side partial combine, not a sort window —
    # at 10^10 frontier rows this avoids a full shuffle-sort every round.
    # Deterministic: ties on the full struct are byte-identical rows.
    best = F.max(
        F.struct(
            F.col("score"),
            (-F.col("depth")).alias("nd"),
            (-F.col("discovered_round")).alias("nr"),
        )
    ).alias("b")
    frontier_next = (
        merged.groupBy("url", "url_hash")
        .agg(best)
        .select(
            "url",
            "url_hash",
            F.col("b.score").alias("score"),
            (-F.col("b.nd")).cast("int").alias("depth"),
            (-F.col("b.nr")).cast("int").alias("discovered_round"),
        )
        # NOTE: no repartition here — the groupBy already hash-distributed
        # the rows, and hash partitioning does not survive a parquet write;
        # an extra exchange would be pure shuffle cost every round.
        .transform(persist)  # computed twice: frontier write + lineage metrics
    )

    # --- per-partition lineage metrics (north rule) -------------------------
    # all three inputs are materialized (deq checkpointed, links and
    # frontier_next persisted), so the union scans the cache only,
    # and one aggregation (one exchange) counts rows per stage and partition
    def _part_ids(df: DataFrame, stage: str) -> DataFrame:
        return df.select(F.lit(stage).alias("stage"),
                         F.spark_partition_id().alias("partition_id"))

    metrics = (
        _part_ids(frontier_next, "frontier_next")
        .unionByName(_part_ids(deq, "dequeued"))
        .unionByName(_part_ids(links, "links"))
        .groupBy("stage", "partition_id")
        .agg(F.count("*").alias("rows"))
        .select(F.lit(rnd).alias("round"), "stage", "partition_id", "rows")
    )

    out_tables = {
        "ordering": ordering,
        "results": results,
    }
    if delayed is not None:
        # cross-round politeness clock ([R] fetcher wall-clock spacing):
        # per delayed host, the absolute ms of its last fetch — the
        # previous snapshot's rows and this round's (round start +
        # sched_ms) rows, max per host in one aggregation.  Dim-sized.
        sched = deq.join(F.broadcast(delayed.select("host")), "host", "inner").select(
            "host",
            (F.lit(rnd * cfg.round_ms).cast("long") + F.col("sched_ms")).alias("last_abs_ms"),
        )
        if host_sched is not None:
            sched = host_sched.select("host", "last_abs_ms").unionByName(sched)
        out_tables["host_sched"] = sched.groupBy("host").agg(
            F.max("last_abs_ms").alias("last_abs_ms")
        )
    if cfg.max_pages_per_host is not None:
        # cumulative per-host quota spend: the previous snapshot's rows
        # and one row per dequeued url, summed per host (dim-sized)
        spent = deq.select("host", F.lit(1).cast("long").alias("used"))
        if host_used is not None:
            spent = host_used.select("host", "used").unionByName(spent)
        out_tables["host_used"] = spent.groupBy("host").agg(F.sum("used").alias("used"))
    out_tables.update({
        "frontier": frontier_next,
        "seen": seen_delta,
        "metrics": metrics,
    })
    if filt is not None:
        if filter_shards is not None:
            # incremental: hash only this round's delta, merge into prev
            out_tables["bloom"] = filt.merge_shards(
                filter_shards, filt.build_shards(seen_delta, cfg.bloom_shards, filt_param)
            )
        else:
            # no usable prior filter (round 0, filter newly enabled
            # mid-crawl, or config changed): build from the FULL seen
            # set so earlier rounds stay covered — a delta-only filter
            # would route their URLs past the anti-join as sure_new
            out_tables["bloom"] = filt.build_shards(seen_next, cfg.bloom_shards, filt_param)
    if cfg.host_rank_weight > 0:
        # per-round edge DELTA off the cached links (append-only like
        # `seen`; next round's pagerank reads read_union('host_edges'))
        out_tables["host_edges"] = host_edges
    if cfg.build_text_index:
        # per-round postings DELTA off this round's (unique-url) results —
        # append-only like `seen`; readers union via store.read_union
        from storm_focused_crawler_spark.operators import text_index as TI

        out_tables["postings"] = TI.postings(
            ex.select("url", "text_x"), "url", "text_x"
        )
    return out_tables


# --------------------------------------------------------------------------
# multi-round crawl with exact resume
# --------------------------------------------------------------------------


def run_crawl(
    spark: SparkSession,
    fixture_paths: dict[str, str],
    cfg: CrawlConfig,
    workdir: str,
    resume: bool = True,
) -> ParquetSnapshotStore:
    """Crawl rounds up to ``cfg.rounds`` into ``<workdir>/state``; with
    *resume*, continue after the last committed round.

    What does not change during a crawl is built once, before the first
    round: the host-grouped robots rules and the crawl-delay-merged
    host_budget (persisted when parsed from raw robots bodies, inside
    one outer ``session.scope()`` that releases them when the crawl
    returns) and the closed url-expansion and redirect maps; the REP
    verdict, extraction and page-score Column trees are built once per
    driver JVM (``session.column_tree``).  Seeds and sitemaps are read,
    canonicalized and hashed only when the crawl starts at round 0.
    Each round reads the previous round's committed state at its top
    (a resume takes the same path), runs :func:`run_round` and commits
    its tables in one ``write_round``; nothing is read after the last
    commit.  Inputs are read where they lie, with the schemas recorded
    in *workdir* (:func:`_read_input`): a resume infers none.
    """
    import time

    # rejects an unknown kind before any commit
    filt_cfg = _seen_filter(cfg)[2]
    store = ParquetSnapshotStore(os.path.join(workdir, "state"))
    last = store.latest_round() if resume else None
    start = 0 if last is None else last + 1

    def read(name: str) -> DataFrame:
        return _read_input(spark, fixture_paths[name], workdir)

    corpus = read("pages")
    robots = read("robots")
    host_budget = read("host_budget")
    robots_bodies = None  # raw bodies, kept for sitemap discovery
    if "content" in robots.columns:
        robots_bodies = robots
        # raw robots.txt bodies: RFC 9309 §2.2.1 user-agent group
        # selection happens HERE, once per crawl (robots is dim-sized);
        # the oracle twin parses with robots.parse_robots_py in lockstep.
        # The selected group's Crawl-delay directive merges into
        # host_budget.min_interval_ms (max with any explicit column) so
        # the dequeue's interval cap honors robots-declared politeness.
        from storm_focused_crawler_spark.operators.robots import (
            parse_crawl_delays,
            parse_robots,
        )

        delays = parse_crawl_delays(robots, cfg.user_agent).withColumnRenamed(
            "delay_ms", "_robots_delay_ms"
        )
        robots = parse_robots(robots, cfg.user_agent)
        have = (
            F.coalesce(F.col("min_interval_ms"), F.lit(0))
            if "min_interval_ms" in host_budget.columns
            else F.lit(0)
        )
        eff = F.greatest(have, F.coalesce(F.col("_robots_delay_ms"), F.lit(0)))
        host_budget = (
            # FULL outer: a delay-only host still gets its interval cap
            # (budget stays null there — dequeue coalesces to DEFAULT)
            host_budget.join(delays, "host", "full")
            .withColumn("min_interval_ms", F.when(eff > 0, eff).cast("int"))
            .drop("_robots_delay_ms")
        )
    seed_frontier = None
    if start == 0:
        seed_frontier = _seed_frontier(spark, fixture_paths, workdir, robots_bodies)
    url_expansions = None
    if "url_expansions" in fixture_paths:
        # close shortener→shortener chains ONCE on the dim table so the
        # per-round broadcast join resolves any chain in one hop
        url_expansions = close_mapping(read("url_expansions"))
    redirects = None
    if "redirects" in fixture_paths:
        # (url, final_url[, status]) 3xx hop table: keep redirect
        # statuses only, canonicalize both endpoints, close chains once
        # (bounded, cycle-safe — close_mapping) so fetch-time resolution
        # is a single broadcast hop; oracle twin: seqcrawler.load_redirects
        rd = read("redirects")
        if "status" in rd.columns:
            rd = rd.filter((F.col("status") >= 300) & (F.col("status") < 400))
        rd = rd.select(
            canonicalize_udf(F.col("url")).alias("short_url"),
            canonicalize_udf(F.col("final_url")).alias("long_url"),
        )
        redirects = close_mapping(rd).select(
            F.col("short_url").alias("url"), F.col("long_url").alias("final_url")
        )

    with scope():  # the crawl-invariant frames, released when the crawl returns
        robots = rules_by_host(robots)
        if robots_bodies is not None:
            # parsed from raw bodies: parse once, not once per round
            robots, host_budget = persist(robots), persist(host_budget)
        for rnd in range(start, cfg.rounds):
            with scope():  # releases the round's cached frames after its commit
                t0 = time.time()
                # the previous round's state: its frontier, the seen set
                # up to it and the full snapshots this round carries
                # forward, found through one manifest read
                prev: dict[str, DataFrame | None] = {}
                if rnd == 0:
                    frontier = seed_frontier
                    seen = spark.createDataFrame([], SEEN_SCHEMA)
                else:
                    pm = store.manifest(rnd - 1)
                    frontier = store.read(spark, rnd - 1, "frontier")
                    seen = store.read_union(spark, rnd - 1, "seen")
                    prev = {t: store.read(spark, rnd - 1, t)
                            for t in ("host_sched", "host_used") if t in pm["tables"]}
                    prev["filter_shards"] = _prev_filter(spark, store, rnd - 1, pm, filt_cfg)
                host_ranks = None
                if cfg.host_rank_weight > 0 and rnd > 0:
                    try:
                        pr_edges = store.read_union(spark, rnd - 1, "host_edges")
                    except FileNotFoundError:
                        pr_edges = None  # flag enabled mid-crawl on resume: no graph yet
                    if pr_edges is not None:
                        ranks = graph.pagerank(pr_edges, cfg.host_rank_iters)
                        host_ranks = ranks.select(F.col("node").alias("host"), "rank_i")
                compact_now = cfg.compact_every > 0 and (rnd + 1) % cfg.compact_every == 0
                out = run_round(
                    spark, corpus, frontier, seen, robots, host_budget, cfg, rnd,
                    url_expansions=url_expansions,
                    host_ranks=host_ranks,
                    redirects=redirects,
                    **prev,
                )
                if compact_now:
                    # a 1000-round crawl otherwise pays an unbounded multi-path
                    # fan-in on read_union of every delta table each round.
                    # <table>_full in this round's atomic commit + the manifest
                    # pointer resolve the read in O(1).  The _full set must
                    # include THIS round's delta (read_union starts deltas at
                    # base+1).
                    for tbl in DELTA_TABLES:
                        if tbl not in out:
                            continue
                        try:
                            prior = store.read_union(spark, rnd - 1, tbl) if rnd > 0 else None
                        except FileNotFoundError:
                            prior = None  # table joined the crawl this round
                        out[f"{tbl}_full"] = (
                            out[tbl] if prior is None else prior.unionByName(out[tbl])
                        )
                counts = store.write_round(rnd, out)
                amend = {"wall_sec": round(time.time() - t0, 3)}
                if filt_cfg is not None:
                    amend["bloom_cfg"] = filt_cfg
                store.amend_manifest(rnd, amend)
                if compact_now:
                    # only the latest snapshot is ever read, so the state dir
                    # holds O(compact_every) of each on a 1000-round crawl
                    for tbl in SNAPSHOT_TABLES:
                        if tbl in counts:
                            store.prune_table(tbl, rnd)
    return store


def _seed_frontier(spark: SparkSession, fixture_paths: dict[str, str], workdir: str,
                   robots_bodies: DataFrame | None) -> DataFrame:
    """The round-0 frontier, which round 0 also marks seen: the
    canonical seeds (score 0.0) and, with a ``sitemaps`` fixture, the
    sitemap-discovered urls."""
    with open(fixture_paths["seeds"]) as f:
        seeds = [spec.canon(u) for u in json.load(f)]
    sitemap_entries: list[tuple[str, float]] = []
    if "sitemaps" in fixture_paths:
        # sitemaps.org URL discovery ([R] the reference's seed-discovery
        # path): parse the (host, body) <urlset> table relationally,
        # then collect — it is a dim-sized discovery table (one body per
        # sitemap), the same trust level as the seeds JSON it extends.
        # Discovered urls enter the round-0 frontier with
        # score = protocol priority (max across duplicate <loc>s; seeds
        # keep 0.0 and the better entry wins), and are seen-marked at
        # round 0 exactly like seeds.  Oracle twin:
        # seqcrawler.load_sitemaps + crawl(sitemap_entries=...).
        from storm_focused_crawler_spark.operators import sitemap as SM

        sm_raw = _read_input(spark, fixture_paths["sitemaps"], workdir)
        if "sitemap_url" in sm_raw.columns and robots_bodies is not None:
            # full discovery chain: crawl only the sitemaps DECLARED by
            # a robots body's `Sitemap:` directive (group-independent,
            # RFC 9309 §2.2.4 / sitemaps.org).  Twin filter in
            # seqcrawler.load_sitemaps.
            from storm_focused_crawler_spark.operators import robots as RB

            declared = (
                RB.extract_sitemaps(robots_bodies)
                .select("sitemap_url").distinct()
            )
            sm_raw = sm_raw.join(F.broadcast(declared), "sitemap_url", "left_semi")
        _sm = SM.parse_sitemap_xml(sm_raw)
        _agg: dict[str, float] = {}
        for r in _sm.select("loc", "priority").collect():
            u = spec.canon(r["loc"])
            if _agg.get(u, -1.0) < r["priority"]:
                _agg[u] = r["priority"]
        sitemap_entries = sorted(_agg.items())
    init: dict[str, float] = {u: 0.0 for u in seeds}
    for u, pr in sitemap_entries:  # _better twin: higher score wins
        if pr > init.get(u, -1.0):
            init[u] = pr
    return spark.createDataFrame(
        [(u, spec.xxh64(u), sc, 0, 0) for u, sc in sorted(init.items())], FRONTIER_SCHEMA
    )


# --------------------------------------------------------------------------
# refresh policy + recrawl maintenance commit (cuckoo deletion load-bearing)
# --------------------------------------------------------------------------


def refresh_victims(
    spark: SparkSession, store: ParquetSnapshotStore, max_age_rounds: int
) -> DataFrame:
    """Age-based refresh policy ([R] UpdaterBolt tracked page status;
    a long-running crawl re-fetches stale pages): urls whose LAST
    successful fetch is ≥ *max_age_rounds* rounds behind the latest
    committed round — the df feeds :func:`recrawl` unchanged.

    One multi-path scan of the per-round ``results`` tables + one hash
    agg (max round per url): O(results) once per maintenance commit,
    no driver-side iteration.  Deterministic: a pure function of
    committed state, so the sequential oracle derives the identical
    victim set from its own results history (test_recrawl.py)."""
    last = store.latest_round()
    if last is None:
        raise ValueError("refresh needs at least one committed round")
    res = store.read_union(spark, last, "results").select("url", "round")
    cutoff = last - max_age_rounds
    return (
        res.groupBy("url")
        .agg(F.max("round").alias("last_round"))
        .filter(F.col("last_round") <= cutoff)
        .select("url")
    )


def recrawl(
    spark: SparkSession,
    store: ParquetSnapshotStore,
    cfg: CrawlConfig,
    victims: DataFrame,
    rescore: float = 0.0,
) -> int:
    """Evict *victims* (df with a ``url`` column — canonicalized HERE,
    so CLI/user input in any equivalent spelling evicts the right hash;
    ADVICE r03 #2) from the URL-seen state and re-enqueue them, so
    subsequent rounds fetch them again — the refresh/recrawl policy of
    a long-running crawl.

    Commits ONE maintenance round (``latest_round()+1``) through the
    normal atomic snapshot protocol — no in-place mutation, a kill
    mid-maintenance loses nothing:

      * ``seen_full``  — compacted seen set MINUS victims; the manifest
        compaction pointer makes every later ``read_union('seen')``
        resolve to it in O(1), so deletion costs one seen-set rewrite
        exactly like a scheduled compaction round (O(|seen|), amortized
        by ``compact_every`` at 10^10 scale);
      * ``frontier``   — previous frontier ∪ victims (anti-joined first
        so an already-queued victim is not duplicated), victims carry
        ``score=rescore`` and ``discovered_round=maintenance round``;
      * ``bloom``      — the seen-filter sidecar, updated to match:
        the CUCKOO sidecar supports targeted ``delete_from_shards``
        (touches each victim's one shard, no rebuild, no full-seen
        scan); a BLOOM sidecar cannot delete and is REBUILT from the
        new ``seen_full`` — this asymmetry is exactly why the north
        star names a cuckoo option;
      * ``host_sched`` / ``host_used`` — the crawl-delay clock and the
        cumulative ``max_pages_per_host`` spend, carried unchanged.

    Returns the committed maintenance round number.  Resume semantics:
    the maintenance round consumes one round slot; continue crawling by
    calling ``run_crawl`` with a larger ``cfg.rounds``.
    """
    # rejects an unknown kind before the maintenance commit
    filt, filt_param, filt_cfg = _seen_filter(cfg)
    last = store.latest_round()
    if last is None:
        raise ValueError("recrawl needs at least one committed round")
    # canonicalize FIRST (oracle twin: seqcrawler.recrawl's spec.canon):
    # hashing a non-canonical spelling would silently miss the stored
    # seen hash AND enqueue a non-canonical url into the frontier,
    # breaking the frontier's canonical-url invariant
    v = (
        victims.select(canonicalize_udf(F.col("url")).alias("url"))
        .withColumn("url_hash", F.xxhash64("url"))
        .dropDuplicates(["url_hash"])
    )

    seen_now = store.read_union(spark, last, "seen").select("url_hash")
    seen_full = seen_now.join(v.select("url_hash"), "url_hash", "left_anti")

    prev_frontier = store.read(spark, last, "frontier")
    mnt = last + 1
    requeued = (
        v.join(prev_frontier.select("url_hash"), "url_hash", "left_anti")
        .select(
            "url",
            "url_hash",
            F.lit(float(rescore)).alias("score"),
            F.lit(0).alias("depth"),
            F.lit(mnt).alias("discovered_round"),
        )
    )
    tables: dict[str, DataFrame] = {
        "frontier": prev_frontier.unionByName(requeued),
        "seen_full": seen_full,
    }
    # the crawl-delay clock (host_sched) and the per-host quota spend
    # (host_used) must survive a maintenance commit: the next round
    # reads them from this round only.  The filter sidecar is the one
    # snapshot this commit rewrites (below).
    pm = store.manifest(last)
    for tbl in SNAPSHOT_TABLES:
        if tbl != "bloom" and tbl in pm["tables"]:
            tables[tbl] = store.read(spark, last, tbl)

    amend: dict = {"maintenance": "recrawl"}
    if filt is not None:
        prev_shards = _prev_filter(spark, store, last, pm, filt_cfg)
        if prev_shards is not None and hasattr(filt, "delete_from_shards"):
            # cuckoo: targeted deletion, each victim touches one shard
            tables["bloom"] = filt.delete_from_shards(
                prev_shards, v.select("url_hash"), cfg.bloom_shards
            )
        else:
            # Bloom cannot delete (nor can a filter built under another
            # config be edited) — rebuild from the compacted seen set
            tables["bloom"] = filt.build_shards(seen_full, cfg.bloom_shards, filt_param)
        amend["bloom_cfg"] = filt_cfg

    store.write_round(mnt, tables)
    store.amend_manifest(mnt, amend)
    return mnt
