"""Structured Streaming twins of the round-batched crawl operators.

The reference is a continuously-running Storm topology ([R] SURVEY.md
§0: RedisSpout feeding fetch→extract→rank bolts, Redis as the evolving
URL-seen state).  Our engine is round-batched (SURVEY.md §2.2
"streaming-equivalent operators"), but every streaming-shaped semantics
has a live twin here for deployments that want a continuous crawl:

  * pages_stream            — readStream over the page-corpus directory
                              (file source; Kafka swaps in by config on
                              a real cluster)
  * tumbling_counts_stream  — watermarked tumbling-window counts
                              (batch twin: queries.stream_tumbling_rounds)
  * session_counts_stream   — session windows per key, 30 min gap
                              (batch twin: queries.stream_session_host)
  * seen_filter_stream      — applyInPandasWithState URL-seen dedup:
                              the Redis SISMEMBER/SADD loop as sharded
                              per-group state (batch twin: the exact
                              anti-join in operators/frontier.eligible)
  * live_crawl_generation   — the WHOLE topology end-to-end: chained
                              checkpointed queries (seen dedup →
                              politeness bucket → foreachBatch fetch/
                              extract/score) with discovered links fed
                              back into the frontier source — the
                              reference's continuous loop, exactly-once
                              across restarts (tests/test_live_crawl.py)

All stateful ops key their state by a hash shard, NOT by url — state
per group stays bounded and the shard count (not the key cardinality)
sets the parallelism, exactly like the sharded seen-set tables in the
batch engine.  Tests drive these with availableNow triggers over file
sources so the same assertions run here and on a real cluster.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from storm_focused_crawler_spark.sources.session import persist, scope

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def pages_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of Common-Crawl-style pages (input_hint schema)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def events_stream(spark: SparkSession, path: str) -> DataFrame:
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(path)


def tumbling_counts_stream(events: DataFrame, window: str = "5 minutes",
                           watermark: str = "1 hour") -> DataFrame:
    """Tumbling counts per (window, event_type); late rows beyond the
    watermark are dropped — the streaming twin of the reference's
    tick-window counters and of stream_tumbling_rounds."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )


def session_counts_stream(events: DataFrame, gap: str = "30 minutes",
                          watermark: str = "1 hour") -> DataFrame:
    """Session windows per user (gap-based) — burst detection per host
    in the reference; twin of stream_session_host."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# first-seen stream state — the URL-seen filter (the Redis SISMEMBER/SADD
# loop) and exact document dedup share one sharded state function
# ---------------------------------------------------------------------------

SEEN_STATE_SCHEMA = "hashes binary"
N_SHARDS_DEFAULT = 32


def _first_seen_fn(hash_col: str):
    """applyInPandasWithState body: emit only the rows whose *hash_col*
    this shard has never seen (within a batch, the first occurrence in
    input order); state = sorted int64 hash array (numpy bytes —
    bounded, vectorized probes)."""

    def fn(key, pdf_iter: "Iterator[pd.DataFrame]", state) -> "Iterator[pd.DataFrame]":
        import numpy as np

        seen = (
            np.frombuffer(state.get[0], dtype=np.int64)
            if state.exists
            else np.empty(0, dtype=np.int64)
        )
        for pdf in pdf_iter:
            h = pdf[hash_col].to_numpy(dtype=np.int64)
            # within-batch first occurrence, then against accumulated state
            first_ix = ~pdf[hash_col].duplicated().to_numpy()
            if len(seen):
                idx = np.clip(np.searchsorted(seen, h), 0, len(seen) - 1)
                unseen = seen[idx] != h
            else:
                unseen = np.ones(len(h), dtype=bool)
            keep = first_ix & unseen
            if keep.any():
                seen = np.unique(np.concatenate([seen, h[keep]]))
                yield pdf.loc[keep]
        state.update((seen.tobytes(),))

    return fn


def _first_seen_stream(df: DataFrame, id_col: str, value_col: str, hash_col: str,
                       n_shards: int) -> DataFrame:
    """(id_col, hash_col = xxhash64(value_col), shard) rows of *df* whose
    value was never seen before, exactly once across all micro-batches.
    State is keyed by ``shard = pmod(hash, n_shards)``, so its size per
    group is |distinct|/n_shards and parallelism scales with shards."""
    h = F.xxhash64(value_col)
    keyed = df.select(id_col, h.alias(hash_col),
                      F.pmod(h, F.lit(n_shards)).cast("int").alias("shard"))
    return keyed.groupBy("shard").applyInPandasWithState(
        _first_seen_fn(hash_col),
        outputStructType=T.StructType(
            [T.StructField(f.name, f.dataType) for f in keyed.schema]),
        stateStructType=SEEN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


BUDGET_OUT_SCHEMA = "url string, host string, n_used long, sched_ms long"
BUDGET_STATE_SCHEMA = "used long"


def _budget_fn(key, pdf_iter: "Iterator[pd.DataFrame]", state) -> "Iterator[pd.DataFrame]":
    """Emit at most min(budget − already-used, icap) urls for this
    host, in (url asc) order — the token bucket from [R]
    WebPageFetcherBolt's per-host politeness, keyed by host like
    Storm's fieldsGrouping.  The deterministic url-order tiebreak
    matches §2.1-5.  ``icap`` (key[2]) is the per-batch crawl-delay
    cap — ceil(round_ms / min_interval_ms), each micro-batch being one
    round-window of wall time — so inter-request spacing holds per
    generation while the lifetime budget keeps counting across them.
    ``sched_ms`` = (rank-in-batch − 1) × min_interval_ms (key[3]) — the
    IDENTICAL integer math as the batch dequeue's within-round spacing
    (operators/frontier.dequeue), so a deployment spaces requests the
    same way in both modes (VERDICT r04 'Next round' #7)."""
    budget = key[1]
    icap = key[2]
    ival = key[3]
    used = int(state.get[0]) if state.exists else 0
    # one host group can arrive as MULTIPLE Arrow chunks in a micro-batch;
    # sorting/heading per chunk would make the picks chunk-boundary-
    # dependent.  Keep a running top-(budget-used) ACROSS chunks so the
    # emitted set is the global url-asc minimum whatever the chunking —
    # memory stays O(budget), never O(group).
    import pandas as pd

    remaining = min(budget - used, icap)
    best = None
    for pdf in pdf_iter:
        if remaining <= 0:
            break
        chunk = pdf.sort_values("url").head(remaining)
        best = (
            chunk
            if best is None
            else pd.concat([best, chunk]).sort_values("url").head(remaining)
        )
    if best is not None and len(best):
        take = best.copy()
        used += len(take)
        take["n_used"] = range(used - len(take) + 1, used + 1)
        take["sched_ms"] = [k * ival for k in range(len(take))]
        yield take[["url", "host", "n_used", "sched_ms"]]
    state.update((used,))


def politeness_limit_stream(urls: DataFrame, budget: int,
                            min_interval_ms: int = 0,
                            round_ms: int = 60_000) -> DataFrame:
    """Streaming per-host politeness cap: applyInPandasWithState keyed
    by host, emitting at most *budget* urls per host over the stream's
    lifetime (the continuous twin of the batch two-phase dequeue's
    per-host budget), and — when *min_interval_ms* > 0 — at most
    ceil(round_ms / min_interval_ms) per micro-batch (the crawl-delay
    token bucket: one batch ≈ one round_ms window, requests spaced
    min_interval_ms apart inside it; the batch dequeue applies the
    identical integer-exact cap).  State per group is ONE counter —
    bounded by host count, never by frontier size."""
    from storm_focused_crawler_spark.functions.udfs import host_col

    icap = (
        (round_ms + min_interval_ms - 1) // min_interval_ms
        if min_interval_ms > 0
        else budget
    )
    keyed = urls.select(
        "url",
        host_col(F.col("url")).alias("host"),
        F.lit(budget).alias("budget"),
        F.lit(icap).alias("icap"),
        F.lit(max(min_interval_ms, 0)).alias("ival"),
    )
    return keyed.groupBy("host", "budget", "icap", "ival").applyInPandasWithState(
        _budget_fn,
        outputStructType=BUDGET_OUT_SCHEMA,
        stateStructType=BUDGET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def seen_filter_stream(urls: DataFrame, n_shards: int = N_SHARDS_DEFAULT) -> DataFrame:
    """Streaming URL-seen dedup — the Redis SISMEMBER/SADD loop as
    sharded stream state, the same sharding discipline as the batch
    seen tables.  Input: streaming DataFrame with a ``url`` column.
    Output: (url, url_hash, shard) rows the crawl has never seen
    before, exactly once across all micro-batches."""
    return _first_seen_stream(urls, "url", "url", "url_hash", n_shards)


def doc_dedup_stream(docs: DataFrame, n_shards: int = N_SHARDS_DEFAULT) -> DataFrame:
    """Streaming exact document dedup for continuous curation
    ingestion (the curation pipeline's exact-dedup stage as stream
    state): each distinct text is emitted exactly once across all
    micro-batches (survivor = first arrival; within a batch, input
    order).  Input: streaming frame with (doc_id, text).  Output:
    (doc_id, text_hash, shard).  Downstream batch stages (near-dup,
    decontam) run per landing partition via jobs/pipeline.py
    --dedup-against."""
    return _first_seen_stream(docs, "doc_id", "text", "text_hash", n_shards)


# ---------------------------------------------------------------------------
# end-to-end continuous crawl — the reference topology as chained
# streaming queries with a link feedback loop
# ---------------------------------------------------------------------------

FRONTIER_IN_SCHEMA = T.StructType([T.StructField("url", T.StringType())])


def make_fetch_batch(corpus: DataFrame, keywords: list[str],
                     results_dir: str, frontier_dir: str):
    """The foreachBatch body of the continuous crawl's Q2, as a
    module-level factory so tests can REPLAY a batch (the crash-between-
    sink-and-checkpoint case) and assert idempotency.

    Exactly-once story (ADVICE r03 #3): foreachBatch re-runs a batch if
    the process dies after the sink writes but before the checkpoint
    commit.  Two sinks, two mechanisms:

      * results/ — partitioned by batch_id with DYNAMIC partition
        overwrite, so a replay overwrites its own partition instead of
        appending duplicate rows: idempotent, hence exactly-once.
      * frontier_dir feedback — plain append; a replay duplicates a
        link FILE, but Q1's stateful seen filter emits each url's
        first occurrence only, so duplicates cost bytes, never a
        second crawl of any url.
    """

    from storm_focused_crawler_spark.functions.udfs import (
        canonicalize_udf,
        fetch_extract,
        score_col,
    )

    def fetch_batch(batch_df: DataFrame, batch_id: int) -> None:
        with scope():  # one per micro-batch: ex is released after both sinks
            ex = (
                fetch_extract(corpus, batch_df.select("url"))
                .withColumn("score", score_col(F.col("text_x"), list(keywords)))
                .transform(persist)
            )
            (
                ex.select(
                    F.lit(batch_id).alias("batch_id"),
                    "url",
                    "score",
                    F.col("text_x").alias("text"),
                    "lang",
                    F.size("links_raw").alias("n_links"),
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(results_dir)
            )
            links = (
                ex.select(F.explode("links_raw").alias("link_raw"))
                .withColumn("url", canonicalize_udf(F.col("link_raw")))
                .select("url")
                .distinct()
            )
            # feedback edge: discovered links become the next generation's
            # frontier input (Q1's checkpointed source picks up new files)
            links.write.mode("append").parquet(frontier_dir)

    return fetch_batch


def _frontier_stream(spark: SparkSession, frontier_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(FRONTIER_IN_SCHEMA)
        # one batch per availableNow generation → politeness picks are a
        # deterministic function of the generation's file set
        .option("maxFilesPerTrigger", 10_000)
        .parquet(frontier_dir)
    )


def live_crawl_generation(
    spark: SparkSession,
    corpus: DataFrame,
    frontier_dir: str,
    workdir: str,
    keywords: list[str],
    budget_per_host: int = 4,
    n_shards: int = N_SHARDS_DEFAULT,
    robots: DataFrame | None = None,
    user_agent: str = "focused-crawler",
    min_interval_ms: int = 0,
    round_ms: int = 60_000,
) -> None:
    """Run ONE generation of the continuous crawl over whatever URL
    files have accumulated in *frontier_dir* since the last call.

    This is the reference's continuously-running topology ([R] SURVEY
    §0: RedisSpout → fetch → extract → rank → Updater feeding URLs
    back to Redis) rebuilt as Structured Streaming:

      Q1  frontier files → sharded stateful URL-seen dedup
          (seen_filter_stream; the Redis SADD/SISMEMBER loop) →
          parquet ``unseen/``
      Q2  ``unseen/`` → per-host politeness token bucket
          (politeness_limit_stream; budget holds over the WHOLE stream
          lifetime, not per batch) → foreachBatch: broadcast the tiny
          admitted set into the static page corpus, take the as-of
          latest capture per url, extract text/links, keyword-score —
          append ``results/`` and write discovered links BACK into
          *frontier_dir* (the topology's feedback edge).

    Both queries checkpoint state + source progress under *workdir*, so
    repeated calls resume exactly: a URL admitted in generation k stays
    seen in generation k+n across process restarts (exactly-once,
    pytest: tests/test_live_crawl.py), and per-host budgets keep
    counting across generations.  ``trigger(availableNow)`` drains what
    exists and stops — a production deployment swaps in
    ``trigger(processingTime=...)`` and a Kafka source with no other
    code change.

    Scale: state per group is |seen|/n_shards (seen filter) and one
    counter (politeness); the fetch join broadcasts ≤ Σ budgets rows
    into the bucketed corpus — the same plan shape as the batch
    driver's fetch; html never leaves the batch function.
    """
    import os

    unseen_dir = os.path.join(workdir, "unseen")
    results_dir = os.path.join(workdir, "results")
    fetch_batch = make_fetch_batch(corpus, keywords, results_dir, frontier_dir)

    stream = _frontier_stream(spark, frontier_dir)
    if robots is not None:
        # REP politeness on the STREAM, before the seen filter — a
        # robots-blocked url never enters the seen state (the batch
        # engine's §2.1 semantics: blocked entries are dropped, not
        # marked seen, so a later policy change can admit them) and
        # never consumes politeness budget.  Raw (host, content) bodies
        # get RFC 9309 group selection exactly like the batch driver.
        from storm_focused_crawler_spark.functions.udfs import host_col, path_col
        from storm_focused_crawler_spark.operators.robots import (
            parse_robots,
            rep_filter,
        )

        if "content" in robots.columns:
            robots = parse_robots(robots, user_agent)
        stream = rep_filter(
            stream.withColumn("host", host_col(F.col("url"))),
            robots,
            path_col(F.col("url")),
        ).drop("host")

    q1 = (
        seen_filter_stream(stream, n_shards)
        .writeStream.format("parquet")
        .option("path", unseen_dir)
        .option("checkpointLocation", os.path.join(workdir, "ckpt_seen"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination()

    unseen = (
        spark.readStream.schema(
            T.StructType(
                [
                    T.StructField("url", T.StringType()),
                    T.StructField("url_hash", T.LongType()),
                    T.StructField("shard", T.IntegerType()),
                ]
            )
        )
        .option("maxFilesPerTrigger", 10_000)
        .parquet(unseen_dir)
    )
    q2 = (
        politeness_limit_stream(unseen.select("url"), budget_per_host,
                                min_interval_ms=min_interval_ms,
                                round_ms=round_ms)
        .writeStream.foreachBatch(fetch_batch)
        .option("checkpointLocation", os.path.join(workdir, "ckpt_fetch"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
