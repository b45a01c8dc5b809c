"""Host-graph link analysis — iterative PageRank, Spark-first.

A focused crawler's frontier scoring can fold in link-graph authority
(the reference's RankerBolt scored pages; host-level PageRank is the
classic public-knowledge authority signal).  This is the repo's
representative ITERATIVE algorithm: per iteration one join + one
hash aggregate, state materialized and lineage truncated each step so
a 50-iteration run never builds a 50-deep plan; the caller's open
``session.scope()`` releases that state, so run the action inside it.

Determinism discipline: ranks are INTEGER micro-units (parts of
``SCALE``), contributions use integer division, and per-node sums are
integer sums — order-independent regardless of partitioning, unlike
double accumulation whose last-ulp depends on reduce order.  A
pure-python twin (``pagerank_py``) computes bit-identical ranks for
the pytest lock.

Scale shape: edges shuffle ONCE per iteration on dst (hash agg with
map-side combine); ranks/degrees are node-cardinality tables (hosts,
~10^6 at web scale — orders smaller than the 10^10 URL level).  The
dangling-mass scalar is one tiny agg per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from storm_focused_crawler_spark.sources.session import checkpoint, persist
from storm_focused_crawler_spark.spec import (  # single source of truth (§2.1-7)
    PAGERANK_DAMP_DEN as DAMP_DEN,
    PAGERANK_DAMP_NUM as DAMP_NUM,
    PAGERANK_SCALE as SCALE,
    pagerank_py,  # noqa: F401 — re-exported pytest oracle twin
)


def pagerank(edges: DataFrame, iters: int = 10) -> DataFrame:
    """(node, rank_i, rank) after *iters* synchronous iterations.

    edges(src string, dst string); multi-edges count once per
    occurrence, self-loops allowed.  rank_i is the exact integer
    state (sums to ≤ SCALE with deterministic floor losses); rank is
    the float view rank_i / SCALE.  Every table materialized here stays
    until the caller's ``session.scope()`` closes.
    """
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .transform(persist)
    )
    n = nodes.count()
    if n == 0:  # a crawl round may extract zero links; no graph, no ranks
        return edges.sparkSession.createDataFrame(
            [], "node string, rank_i long, rank double"
        )
    # pre-join out-degrees into the edge list ONCE — deg is static, so
    # doing it per iteration paid an extra join every step (guide §2.4)
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    edges_deg = (
        edges.join(deg.withColumnRenamed("node", "src"), "src")
        .select("src", "dst", "deg")
        .transform(checkpoint)  # materialized by the first consumer
    )
    ranks = nodes.select("node", F.lit(SCALE // n).cast("long").alias("rank_i"))

    base = (SCALE * (DAMP_DEN - DAMP_NUM)) // (DAMP_DEN * n)  # teleport term
    # dangling nodes (no out-edges) spread their mass uniformly; the
    # membership is fixed, so detect ONCE and pay the per-iteration
    # mass term only when the set is non-empty
    dangling = persist(nodes.join(deg, "node", "left_anti"))
    has_dangling = dangling.count() > 0
    for _ in range(iters):
        contrib = edges_deg.join(ranks.withColumnRenamed("node", "src"), "src").select(
            F.col("dst").alias("node"),
            F.expr("rank_i DIV deg").cast("long").alias("c"),
        )
        summed = contrib.groupBy("node").agg(F.sum("c").cast("long").alias("s"))
        upd = nodes.join(summed, "node", "left")
        if has_dangling:
            # the dangling-mass SCALAR is folded in as a broadcast
            # 1-row aggregate instead of a per-iteration collect():
            # the whole loop now runs without any driver action —
            # r5 paid (collect + count) = 2 jobs per iteration.
            # `_dang DIV n` over non-negative ints == the python
            # int(dang) // n it replaces (twin-locked, test_graph).
            dang_df = dangling.join(ranks, "node").agg(
                F.coalesce(F.sum("rank_i"), F.lit(0)).cast("long").alias("_dang")
            )
            upd = upd.crossJoin(F.broadcast(dang_df))
            dang_term = f"(_dang DIV {n})"
        else:
            dang_term = "0L"
        new_ranks = upd.select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"({DAMP_NUM} * (coalesce(s, 0L) + {dang_term})) DIV {DAMP_DEN}"
                )
            ).cast("long").alias("rank_i"),
        )
        # LAZY checkpoint: truncates the logical plan immediately (no
        # per-iteration job); the RDD materializes when the caller's
        # action — or the next iteration's broadcast — first computes
        # it, and stays persisted for every later reference.
        ranks = checkpoint(new_ranks)

    return ranks.select(
        "node", "rank_i", F.round(F.col("rank_i") / F.lit(float(SCALE)), 9).alias("rank")
    )
