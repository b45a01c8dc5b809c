"""Frontier dequeue: per-host politeness + global round capacity.

This is the engine's replacement for the reference's per-host
politeness buckets inside WebPageFetcherBolt and its
fieldsGrouping("host") hash partitioning ([R], SURVEY.md §3).  Storm's
fieldsGrouping sends ALL of a hot host's tuples to one executor —
unbounded skew.  Here politeness is one per-host top-k with an
explicit skew bound: the literal rank bound ``max_budget`` makes
Catalyst plan a Partial WindowGroupLimit below the one host exchange
and a Final one above it, so each map task forwards ≤ ``max_budget``
rows per host and a reducer gets ≤ (map partitions × ``max_budget``)
rows of any host.  Above ``spark.sql.optimizer.windowGroupLimitThreshold``
Catalyst plans no limit, so dequeue raises ValueError at plan build.

Ranking by (score DESC, url ASC), a total order, keeps the dequeue
deterministic under any partitioning (SURVEY.md §7.4-1): tests run it
at 1 and 8 shuffle partitions on skewed input (test_crawl_delay.py) and
whole crawls at 2/4 and 2/32 (test_parity.py, test_host_rank_blend.py).

The global top-C window runs single-partition BY DESIGN: its input is
already pruned to ≤ Σ budgets rows (a few rows per host), so at a
10^10-URL frontier with ~10^6 hosts it sees ~10^6 small rows, not
10^10 (SURVEY.md §7.4-6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from storm_focused_crawler_spark.functions.udfs import host_col, path_col
from storm_focused_crawler_spark.sources.session import column_tree

DEFAULT_BUDGET = 2  # hosts missing from host_budget (oracle twin: seqcrawler)
_WGL_THRESHOLD = "spark.sql.optimizer.windowGroupLimitThreshold"


def _rep_verdict() -> Column:
    """The robots verdict over a row's url path: ``robots.rep_allowed``
    on the host-grouped ``rules`` column (~1,000 py4j calls to build)."""
    from storm_focused_crawler_spark.operators.robots import rep_allowed

    return rep_allowed(path_col(F.col("url")), F.col("rules"))


def eligible(
    frontier: DataFrame,
    seen: DataFrame,
    robots: DataFrame,
    bloom_probe=None,
) -> DataFrame:
    """frontier ∖ seen, minus robots-blocked (§2.1-5 pre-filter).

    seen is probed by url_hash with an exact LEFT ANTI join — the Bloom
    or cuckoo sidecar pre-filters the probe side when *bloom_probe* is
    given (a DataFrame transformer adding a boolean ``_maybe`` column —
    broadcast or shard-routed, seen_filter.probe_transform), but the
    anti-join stays the membership authority (§2.1-3): filter-negative
    rows are DEFINITIVELY unseen (no false negatives, property-tested)
    and skip the join entirely; only filter-positive rows —
    ~FPR·|frontier| + |actually seen| — touch the 10^10-hash seen table.

    robots carries full REP semantics (operators/robots.py: Allow +
    longest-match, RFC 9309); legacy (host, disallow_prefix) tables are
    adapted to Disallow-only rules — identical verdicts when each host
    has one Disallow rule, which is what the old filter supported.
    *robots* may already be host-grouped (``robots.rules_by_host``); the
    verdict Column is built once per driver JVM (session.column_tree).
    """
    from storm_focused_crawler_spark.operators.robots import rep_filter

    if bloom_probe is not None:
        fr = bloom_probe(frontier)
        sure_new = fr.filter(~F.col("_maybe")).drop("_maybe")
        candidates = fr.filter(F.col("_maybe")).drop("_maybe")
        e = candidates.join(seen.select("url_hash"), "url_hash", "left_anti").unionByName(
            sure_new
        )
    else:
        e = frontier.join(seen.select("url_hash"), "url_hash", "left_anti")
    e = e.withColumn("host", host_col(F.col("url")))
    return rep_filter(e, robots, allowed=column_tree(_rep_verdict))


def _check_wgl_bound(df: DataFrame, max_budget: int) -> None:
    threshold = int(df.sparkSession.conf.get(_WGL_THRESHOLD))
    if max_budget > threshold:  # no WindowGroupLimit: hot hosts ship whole
        raise ValueError(f"max_budget {max_budget} > {_WGL_THRESHOLD}={threshold}")


def dequeue(
    elig: DataFrame,
    host_budget: DataFrame,
    capacity: int,
    n_salts: int = 8,
    max_budget: int | None = None,
    round_ms: int = 60_000,
    host_carry: DataFrame | None = None,
    host_cap: int | None = None,
    host_used: DataFrame | None = None,
) -> DataFrame:
    """§2.1-5: per host top-budget, then global top-C; adds ``seq``.

    Input must have columns (url, url_hash, score, depth, host).
    Output: same + seq (1-based global rank) + sched_ms (the row's
    politeness-spaced fetch offset within the round, 0 without delay).

    Per-host crawl-delay ([R] fetcher inter-request interval; VERDICT
    r03 'Next round' #3): when host_budget carries a
    ``min_interval_ms`` column, a host's requests are spaced that many
    ms apart inside the round's ``round_ms`` window, so its effective
    per-round budget is min(budget, ceil(round_ms / interval)) —
    integer-exact ceil via (round_ms + i − 1) div i, so the engine and
    the sequential oracle compute the identical cap.  The cap can only
    LOWER a host's budget, so the literal WindowGroupLimit bound
    (max_budget, below) still dominates every row.  ``sched_ms`` =
    (per-host rank − 1) × interval is the round-time bookkeeping a
    fetcher executes against.

    Cross-round continuity (VERDICT r04 'Next round' #2): *host_carry*
    — a dim-sized (host, carry_ms) table, carry_ms ≥ 0 — shifts a
    host's first fetch of THIS round to carry_ms into the window, so
    the spacing guarantee holds across the round boundary: the driver
    computes carry_ms = max(0, last_abs_fetch_ms + interval −
    round_start_ms) from the checkpointed ``host_sched`` table.  The
    effective window shrinks to round_ms − carry_ms (a host whose debt
    exceeds the round gets ZERO fetches this round), and sched_ms =
    carry_ms + (rank−1)·interval.  Carry can only lower the cap, so
    the literal WindowGroupLimit bound still dominates.

    The rank filter is split in two: a LITERAL bound (``max_budget``)
    first, then the exact per-host column bound.  Catalyst can only
    compile ``row_number <= <literal>`` into WindowGroupLimit (a k-row
    heap per group instead of a full sort), split Partial/Final around
    the host exchange (module docstring; pinned by tests/test_plans.py).
    ``n_salts`` is accepted and ignored.
    """
    if max_budget is not None:
        _check_wgl_bound(elig, max_budget)  # before any job
    # one scalar off a broadcast-sized dim table, computed at plan build:
    # a top-1 runs one job, agg(max) a shuffle stage and a result stage
    top = (host_budget.select("budget")
           .orderBy(F.col("budget").desc_nulls_last()).limit(1).collect())
    row = top[0][0] if top else None
    table_max = max(int(row or 0), DEFAULT_BUDGET)
    if max_budget is None:
        max_budget = table_max
        _check_wgl_bound(elig, max_budget)
    elif max_budget < table_max:
        # the literal WindowGroupLimit bound MUST dominate every row's
        # budget or rows below the real per-host budget are silently pruned
        raise ValueError(
            f"max_budget literal {max_budget} < host_budget table max "
            f"{table_max}; dequeue would under-schedule hosts"
        )
    b = elig.join(F.broadcast(host_budget), "host", "left").withColumn(
        "budget", F.coalesce(F.col("budget"), F.lit(DEFAULT_BUDGET))
    )
    if host_cap is not None:
        # cumulative per-host page quota ([R] crawl-budget guard): a
        # host that has fetched `used` pages across all prior rounds
        # has quota host_cap − used left; like the crawl-delay cap this
        # can only LOWER budgets, so the literal WindowGroupLimit bound
        # still dominates.  host_used is the checkpointed dim snapshot.
        if host_used is not None:
            b = b.join(F.broadcast(host_used), "host", "left")
            used = F.coalesce(F.col("used"), F.lit(0).cast("long"))
        else:
            used = F.lit(0).cast("long")
        quota = F.greatest(
            F.lit(host_cap).cast("long") - used, F.lit(0).cast("long")
        ).cast("int")
        b = b.withColumn("budget", F.least(F.col("budget"), quota))
        if host_used is not None:
            b = b.drop("used")
    has_interval = "min_interval_ms" in host_budget.columns
    if has_interval:
        if host_carry is not None:
            b = b.join(F.broadcast(host_carry), "host", "left")
            b = b.withColumn("_carry", F.coalesce(F.col("carry_ms"), F.lit(0)).cast("long"))
        else:
            b = b.withColumn("_carry", F.lit(0).cast("long"))
        # politeness window left this round after the carried-over debt;
        # ≤ 0 ⇒ the host's next allowed fetch falls past this round
        b = b.withColumn("_left", F.lit(round_ms).cast("long") - F.col("_carry"))
        icap = (
            F.when(F.col("_left") <= 0, F.lit(0))
            .otherwise(F.expr("(_left + min_interval_ms - 1) div min_interval_ms"))
            .cast("int")
        )
        b = b.withColumn(
            "budget",
            F.when(
                F.col("min_interval_ms").isNotNull() & (F.col("min_interval_ms") > 0),
                F.least(F.col("budget"), icap),
            ).otherwise(F.col("budget")),
        )
    order = [F.col("score").desc(), F.col("url").asc()]
    # per-host top-k: Partial WindowGroupLimit → host exchange → Final
    w = Window.partitionBy("host").orderBy(*order)
    b = (
        b.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.lit(max_budget))  # literal → WindowGroupLimit
        .filter(F.col("_rn") <= F.col("budget"))  # exact per-host bound
    )
    # sched_ms: politeness-spaced fetch offset inside the round window,
    # starting from the cross-round carry (0 when no debt / no delay)
    if has_interval:
        ival = F.coalesce(
            F.when(F.col("min_interval_ms") > 0, F.col("min_interval_ms")),
            F.lit(0),
        )
        sched = F.when(ival > 0, F.col("_carry")).otherwise(F.lit(0)) + (
            F.col("_rn") - 1
        ) * ival
    else:
        sched = F.lit(0)
    b = b.withColumn("sched_ms", sched.cast("long"))
    # global top-C → seq (input ≤ Σ budgets rows; single-partition window OK)
    wg = Window.orderBy(*order)
    out = (
        b.withColumn("seq", F.row_number().over(wg))
        .filter(F.col("seq") <= capacity)
        .drop("_rn", "budget")
    )
    if has_interval:
        out = out.drop("min_interval_ms", "_carry", "_left")
        if host_carry is not None:
            out = out.drop("carry_ms")
    return out
