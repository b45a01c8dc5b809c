"""Operator registry: Spark implementation + DuckDB oracle per operator.

Every operator id from SURVEY.md §2.2 that is tagged `sql` appears here
with BOTH a Spark callable (spark, sf_dir) -> DataFrame and an ANSI-SQL
string DuckDB can run over the driver's pre-registered views (region
nation customer supplier part orders lineitem events documents
embeddings).  Column names are aliased identically on both sides (the
driver's value-hash sorts columns by name).

Crawl-flavored operators need a URL universe; it is derived from
``documents`` with integer-arithmetic + string-concat rules that both
engines evaluate identically (same strings, same doubles), so the
DuckDB oracle stays authoritative without any crawl fixture.

Determinism rules applied throughout (SURVEY.md §7.4):
  * every LIMIT/top-k is ordered by a key that includes a unique column;
  * double aggregates are ROUND()ed so cross-engine summation-order
    noise in the last ulp cannot flip the value hash;
  * no raw timestamps in output — formatted to strings (UTC pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# shared derivations
# --------------------------------------------------------------------------

# DuckDB CTE producing the derived URL universe (twin of _urls below)
URLS_CTE = """
urls AS (
  SELECT doc_id, lang, text, n_chars,
    'h' || lpad(CAST(doc_id % 40 AS VARCHAR), 3, '0') || '.example-' ||
      CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END AS host,
    CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END AS tld,
    '/d' || CAST(doc_id AS VARCHAR) || '/p' || CAST(doc_id % 7 AS VARCHAR) AS path,
    'https://h' || lpad(CAST(doc_id % 40 AS VARCHAR), 3, '0') || '.example-' ||
      CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END ||
      '/d' || CAST(doc_id AS VARCHAR) || '/p' || CAST(doc_id % 7 AS VARCHAR) AS url,
    ((doc_id * 37) % 1000) / 1000.0 AS score
  FROM documents
)
"""


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # DOCUMENTED SESSION OVERRIDE: timestamp semantics (date_trunc,
    # date_format) must match the DuckDB oracle regardless of the host
    # session's default timezone, so these ops pin the session to UTC.
    # Our own sessions (sources/session.get_spark, which bench.py and
    # tests/conftest use) are built UTC already — this only fires when the
    # driver harness hands us a non-UTC session, and it is intentional
    # for every query in this registry (the correctness contract is
    # "identical values to the oracle", which requires one timezone).
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism floor for single-split fixture scans
    — measured 4-8x of several dedup queries' wall time (see
    functions/udfs.rebalance_small_scan, the canonical implementation
    shared with the operators)."""
    from storm_focused_crawler_spark.functions.udfs import rebalance_small_scan

    return rebalance_small_scan(df)


def _urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of URLS_CTE."""
    d = _t(spark, sf_dir, "documents")
    hostnum = F.lpad((F.col("doc_id") % 40).cast("string"), 3, "0")
    tld = (
        F.when(F.col("doc_id") % 3 == 0, "com")
        .when(F.col("doc_id") % 3 == 1, "org")
        .otherwise("net")
    )
    host = F.concat(F.lit("h"), hostnum, F.lit(".example-"), tld)
    path = F.concat(
        F.lit("/d"), F.col("doc_id").cast("string"), F.lit("/p"),
        (F.col("doc_id") % 7).cast("string"),
    )
    return d.select(
        "doc_id", "lang", "text", "n_chars",
        host.alias("host"), tld.alias("tld"), path.alias("path"),
        F.concat(F.lit("https://"), host, path).alias("url"),
        (((F.col("doc_id") * 37) % 1000) / F.lit(1000.0)).alias("score"),
    )


_ROBOTS_ROWS = [
    ("h000.example-com", "/d1"), ("h007.example-org", "/d2"),
    ("h014.example-net", "/d3"), ("h021.example-com", "/d4"),
    ("h028.example-org", "/d1"), ("h035.example-net", "/d2"),
]
_ROBOTS_CTE = (
    "robots(host, disallow_prefix) AS (VALUES "
    + ", ".join(f"('{h}', '{p}')" for h, p in _ROBOTS_ROWS)
    + ")"
)

_BUDGET_ROWS = [(f"h{i:03d}.example-" + ("com", "org", "net")[i % 3], 2 + (i * 7) % 4)
                for i in range(40)]
_BUDGET_CTE = (
    "budget(host, budget) AS (VALUES "
    + ", ".join(f"('{h}', {b})" for h, b in _BUDGET_ROWS)
    + ")"
)


def _robots_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(_ROBOTS_ROWS, "host string, disallow_prefix string")


def _budget_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(_BUDGET_ROWS, "host string, budget int")


# --------------------------------------------------------------------------
# registry: name -> (spark_fn, duckdb_sql_or_None)
# --------------------------------------------------------------------------

REGISTRY: dict[str, tuple] = {}


def op(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


# ======================= sources / sinks ====================================


# scan_pages / scan_frontier / seed_inject / project_url_host /
# filter_scheme / filter_lang are rows-only in the DRIVER window (the
# harness records the first 50 sql keys; parse_crawl_delay took
# scan_frontier's slot in r5-prep; text_repetition_gopher /
# pii_detect_redact / decontam_ngram took the next three; and
# quality_gopher_rules / host_quality_gate displaced the two trivial
# single-predicate filters: scan/projection/predicate shapes are
# exercised implicitly by every other oracled plan).  All six stay
# DuckDB-verified locally: tests/test_queries_duckdb.py runs the
# driver-identical compare against DISPLACED_ORACLES explicitly.
SCAN_FRONTIER_ORACLE = f"WITH {URLS_CTE} SELECT url, host, score FROM urls"

DISPLACED_ORACLES: dict[str, str] = {
    "scan_frontier": SCAN_FRONTIER_ORACLE,
    "scan_pages": "SELECT doc_id, lang FROM documents",
    "seed_inject": f"""WITH {URLS_CTE},
    seeds AS (SELECT url FROM urls WHERE doc_id < 5),
    frontier AS (SELECT url FROM urls WHERE doc_id % 2 = 0)
    SELECT DISTINCT url FROM (SELECT url FROM seeds UNION ALL SELECT url FROM frontier)""",
    "project_url_host": f"""WITH {URLS_CTE}
    SELECT url, regexp_extract(url, 'https://([^/]+)', 1) AS host_x,
           regexp_extract(url, '\\.example-([a-z]+)', 1) AS tld_x,
           regexp_extract(url, 'https://[^/]+(/.*)$', 1) AS path_x
    FROM urls""",
    # r5: displaced by quality_gopher_rules / host_quality_gate —
    # trivial single-predicate filters, exercised implicitly by every
    # crawl-path oracle (scheme gate inside URLS, lang gate in crawl).
    "filter_scheme": f"""WITH {URLS_CTE},
    mixed AS (SELECT CASE WHEN doc_id % 4 = 0
                      THEN replace(url, 'https://', 'ftp://') ELSE url END AS url
              FROM urls)
    SELECT url FROM mixed WHERE regexp_matches(url, '^https?://')""",
    "filter_lang": "SELECT doc_id, lang FROM documents WHERE lang = 'en'",
}


@op("scan_pages", None)  # DuckDB-checked via DISPLACED_ORACLES pytest
def scan_pages(spark, sf_dir):
    # column pruning: explain() must show ReadSchema with only 2 cols
    return _t(spark, sf_dir, "documents").select("doc_id", "lang")


@op("scan_frontier", None)  # DuckDB-checked via DISPLACED_ORACLES pytest
def scan_frontier(spark, sf_dir):
    return _urls(spark, sf_dir).select("url", "host", "score")


@op("seed_inject", None)  # DuckDB-checked via DISPLACED_ORACLES pytest
def seed_inject(spark, sf_dir):
    u = _urls(spark, sf_dir)
    seeds = u.filter(F.col("doc_id") < 5).select("url")
    frontier = u.filter(F.col("doc_id") % 2 == 0).select("url")
    return seeds.unionByName(frontier).distinct()


# ======================= projections / filters ==============================


@op("project_url_host", None)  # DuckDB-checked via DISPLACED_ORACLES pytest
def project_url_host(spark, sf_dir):
    u = _urls(spark, sf_dir)
    return u.select(
        "url",
        F.regexp_extract("url", r"https://([^/]+)", 1).alias("host_x"),
        F.regexp_extract("url", r"\.example-([a-z]+)", 1).alias("tld_x"),
        F.regexp_extract("url", r"https://[^/]+(/.*)$", 1).alias("path_x"),
    )


@op("filter_scheme", None)  # DuckDB-checked via DISPLACED_ORACLES pytest
def filter_scheme(spark, sf_dir):
    u = _urls(spark, sf_dir)
    mixed = u.select(
        F.when(F.col("doc_id") % 4 == 0,
               F.regexp_replace("url", "^https://", "ftp://"))
        .otherwise(F.col("url")).alias("url")
    )
    return mixed.filter(F.col("url").rlike("^https?://"))


@op("filter_lang", None)  # DuckDB-checked via DISPLACED_ORACLES pytest
def filter_lang(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select("doc_id", "lang").filter(F.col("lang") == "en")


@op(
    "filter_robots",
    f"""WITH {URLS_CTE}, {_ROBOTS_CTE}
    SELECT u.url FROM urls u LEFT JOIN robots r ON u.host = r.host
    WHERE r.disallow_prefix IS NULL OR NOT starts_with(u.path, r.disallow_prefix)""",
)
def filter_robots(spark, sf_dir):
    u = _urls(spark, sf_dir)
    r = u.join(F.broadcast(_robots_df(spark)), "host", "left")
    return r.filter(
        F.col("disallow_prefix").isNull()
        | ~F.startswith(F.col("path"), F.col("disallow_prefix"))
    ).select("url")


@op(
    "url_expand",
    f"""WITH {URLS_CTE},
    short AS (SELECT doc_id, CASE WHEN doc_id % 10 = 0
                THEN 'https://sho.rt/' || CAST(doc_id AS VARCHAR) ELSE url END AS url
              FROM urls),
    mapping AS (SELECT 'https://sho.rt/' || CAST(doc_id AS VARCHAR) AS short_url,
                       url AS long_url
                FROM urls WHERE doc_id % 10 = 0)
    SELECT s.url AS raw_url, coalesce(m.long_url, s.url) AS expanded
    FROM short s LEFT JOIN mapping m ON s.url = m.short_url""",
)
def url_expand(spark, sf_dir):
    """Short-URL expansion ([R] URLExpanderBolt): broadcast mapping
    join, unmapped urls pass through — functions/udfs.expand_urls."""
    from storm_focused_crawler_spark.functions.udfs import expand_urls

    u = _urls(spark, sf_dir)
    short = u.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.lit("https://sho.rt/"), F.col("doc_id").cast("string")),
        ).otherwise(F.col("url")).alias("url"),
    )
    mapping = u.filter(F.col("doc_id") % 10 == 0).select(
        F.concat(F.lit("https://sho.rt/"), F.col("doc_id").cast("string")).alias("short_url"),
        F.col("url").alias("long_url"),
    )
    ex = expand_urls(short.withColumn("raw_url", F.col("url")), mapping, "url")
    return ex.select("raw_url", F.col("url").alias("expanded"))


# DuckDB oracle for url_redirect_resolve — an INDEPENDENT closure via
# WITH RECURSIVE (the engine closes driver-side in close_mapping), kept
# outside the driver's 50-key sql window; tests/test_redirects.py runs
# the compare explicitly.
URL_REDIRECT_ORACLE = f"""WITH RECURSIVE {URLS_CTE},
    mapping AS (
      SELECT 'https://re.dir/a' || CAST(doc_id AS VARCHAR) AS src,
             'https://re.dir/b' || CAST(doc_id AS VARCHAR) AS dst
      FROM urls WHERE doc_id % 10 = 3
      UNION ALL
      SELECT 'https://re.dir/b' || CAST(doc_id AS VARCHAR), url
      FROM urls WHERE doc_id % 10 = 3),
    universe AS (SELECT doc_id, CASE WHEN doc_id % 10 = 3
                   THEN 'https://re.dir/a' || CAST(doc_id AS VARCHAR)
                   ELSE url END AS raw_url
                 FROM urls),
    chase(raw_url, cur, depth) AS (
      SELECT raw_url, raw_url, 0 FROM universe
      UNION ALL
      SELECT c.raw_url, m.dst, c.depth + 1
      FROM chase c JOIN mapping m ON c.cur = m.src
      WHERE c.depth < 16)
    SELECT raw_url, max_by(cur, depth) AS final_url
    FROM chase GROUP BY raw_url"""


@op("url_redirect_resolve", None)  # DuckDB-checked via URL_REDIRECT_ORACLE pytest
def url_redirect_resolve(spark, sf_dir):
    """3xx chain resolution ([R] fetcher redirect handling; the crawl
    integration is driver.run_round's fetch path, parity-locked in
    tests/test_redirects.py): a synthetic 2-hop redirect mapping over
    the url universe is CLOSED once (functions/udfs.close_mapping —
    bounded, cycle-safe) and applied as one broadcast hop; unmapped
    urls pass through."""
    from storm_focused_crawler_spark.functions.udfs import close_mapping

    u = _urls(spark, sf_dir)
    sel = u.filter(F.col("doc_id") % 10 == 3)
    a = F.concat(F.lit("https://re.dir/a"), F.col("doc_id").cast("string"))
    b = F.concat(F.lit("https://re.dir/b"), F.col("doc_id").cast("string"))
    mapping = sel.select(a.alias("short_url"), b.alias("long_url")).unionByName(
        sel.select(b.alias("short_url"), F.col("url").alias("long_url"))
    )
    universe = u.select(
        F.when(F.col("doc_id") % 10 == 3, a).otherwise(F.col("url")).alias("raw_url")
    )
    closed = close_mapping(mapping).select(
        F.col("short_url").alias("raw_url"), F.col("long_url").alias("final")
    )
    return universe.join(F.broadcast(closed), "raw_url", "left").select(
        "raw_url", F.coalesce(F.col("final"), F.col("raw_url")).alias("final_url")
    )


# ======================= joins ==============================================


@op(
    "join_fetch",
    f"""WITH {URLS_CTE},
    frontier AS (SELECT url FROM urls WHERE doc_id % 3 = 0)
    SELECT u.url, u.n_chars, u.lang FROM frontier f JOIN urls u ON f.url = u.url""",
)
def join_fetch(spark, sf_dir):
    u = _urls(spark, sf_dir)
    frontier = u.filter(F.col("doc_id") % 3 == 0).select("url")
    return frontier.join(u, "url", "inner").select("url", "n_chars", "lang")


@op(
    "join_seen_anti",
    f"""WITH {URLS_CTE},
    seen AS (SELECT url FROM urls WHERE doc_id % 5 = 0)
    SELECT url FROM urls WHERE url NOT IN (SELECT url FROM seen)""",
)
def join_seen_anti(spark, sf_dir):
    u = _urls(spark, sf_dir)
    seen = u.filter(F.col("doc_id") % 5 == 0).select("url")
    return u.select("url").join(seen, "url", "left_anti")


@op(
    "join_robots_broadcast",
    f"""WITH {URLS_CTE}, {_ROBOTS_CTE}
    SELECT u.url, r.disallow_prefix FROM urls u LEFT JOIN robots r ON u.host = r.host""",
)
def join_robots_broadcast(spark, sf_dir):
    u = _urls(spark, sf_dir)
    return u.join(F.broadcast(_robots_df(spark)), "host", "left").select(
        "url", "disallow_prefix"
    )


@op(
    "join_semi_host_budget",
    f"""WITH {URLS_CTE}, {_BUDGET_CTE}
    SELECT url FROM urls u WHERE EXISTS
      (SELECT 1 FROM budget b WHERE b.host = u.host AND b.budget >= 4)""",
)
def join_semi_host_budget(spark, sf_dir):
    u = _urls(spark, sf_dir)
    b = _budget_df(spark).filter(F.col("budget") >= 4)
    return u.join(F.broadcast(b), "host", "left_semi").select("url")


@op(
    "join_asof_warc",
    """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM (SELECT user_id, event_id, ts,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE ts <= TIMESTAMP '2024-06-01 00:00:00')
    WHERE rn = 1""",
)
def join_asof_warc(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("ts") <= F.lit("2024-06-01 00:00:00").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"))
    )


@op(
    "join_range_ts",
    """WITH f AS (SELECT event_id, ts, CAST(floor(epoch(ts)/3600) AS BIGINT) AS hb
                  FROM events WHERE event_type = 'click'),
         e AS (SELECT ts AS ets, CAST(floor(epoch(ts)/3600) AS BIGINT) AS hb
               FROM events WHERE event_type <> 'click'),
         fx AS (SELECT event_id, ts, hb - k AS hbk FROM f, unnest([0, 1, 2]) AS t(k))
    SELECT fx.event_id, count(*) AS n_prior
    FROM fx JOIN e ON e.hb = fx.hbk
                  AND e.ets >= fx.ts - INTERVAL 2 HOUR AND e.ets < fx.ts
    GROUP BY fx.event_id""",
)
def join_range_ts(spark, sf_dir):
    """Range join: per click-event, count other events in its prior-2h
    politeness interval.  Bucketized to defuse the nested loop: both
    sides get an integer hour bucket floor(epoch/3600); the 2h probe
    interval spans at most 3 hour buckets, so each probe row explodes
    to exactly those 3 candidate buckets (correct across midnight —
    the round-1 day-trunc plan could never match intervals spanning a
    day boundary and passed vacuously on 0 rows).  Equi-join on the
    bucket, exact range predicate inside.  Each matching (f, e) pair
    appears once: e has ONE bucket and f's 3 exploded buckets are
    distinct.  At 100 TB this is a shuffle hash join on a dense int
    key — no cross product (plan-asserted in tests/test_plans.py)."""
    ev = _t(spark, sf_dir, "events")
    hb = (F.floor(F.unix_timestamp("ts") / 3600)).cast("bigint")
    f = (
        ev.filter(F.col("event_type") == "click")
        .select("event_id", "ts", hb.alias("hb"))
        .withColumn("k", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))))
        .select("event_id", "ts", (F.col("hb") - F.col("k")).alias("hbk"))
    )
    e = ev.filter(F.col("event_type") != "click").select(
        F.col("ts").alias("ets"), hb.alias("hb")
    )
    joined = f.join(
        e,
        (e.hb == f.hbk)
        & (F.col("ets") >= F.col("ts") - F.expr("INTERVAL 2 HOURS"))
        & (F.col("ets") < F.col("ts")),
    )
    return joined.groupBy("event_id").agg(F.count("*").alias("n_prior"))


# ======================= aggregations =======================================


@op(
    "agg_host_counts",
    f"WITH {URLS_CTE} SELECT host, count(*) AS n FROM urls GROUP BY host",
)
def agg_host_counts(spark, sf_dir):
    return _urls(spark, sf_dir).groupBy("host").agg(F.count("*").alias("n"))


@op(
    "agg_distinct_urls",
    f"WITH {URLS_CTE} SELECT count(DISTINCT url) AS n_urls FROM urls",
)
def agg_distinct_urls(spark, sf_dir):
    return _urls(spark, sf_dir).agg(F.countDistinct("url").alias("n_urls"))


@op(
    "agg_approx_distinct",
    # the oracle checks the ACCURACY CONTRACT of the sketch (within 5% of
    # exact), not the estimate itself — HLL internals differ per engine
    f"WITH {URLS_CTE} SELECT true AS within_tol, count(DISTINCT url) AS n_exact FROM urls",
)
def agg_approx_distinct(spark, sf_dir):
    u = _urls(spark, sf_dir)
    return u.agg(
        (
            F.abs(F.approx_count_distinct("url", 0.02) - F.countDistinct("url"))
            / F.countDistinct("url")
            <= 0.05
        ).alias("within_tol"),
        F.countDistinct("url").alias("n_exact"),
    )


@op(
    "agg_quantile_latency",
    # accuracy-contract oracle (same pattern as agg_approx_distinct):
    # the sketch internals differ per engine, so the oracle checks the
    # CONTRACT — approx quantiles within 2% relative error of exact —
    # plus the exact values both engines agree on
    """SELECT true AS p50_ok, true AS p95_ok,
              round(quantile_cont(value, 0.5), 6) AS p50_exact,
              round(quantile_cont(value, 0.95), 6) AS p95_exact
    FROM events""",
)
def agg_quantile_latency(spark, sf_dir):
    """Quantile sketch over event values (crawl-latency-style metric):
    percentile_approx (Greenwald-Khanna) vs exact percentile, asserted
    within 2% relative error — the sketch family's accuracy-contract
    check."""
    e = _t(spark, sf_dir, "events")
    exact = F.expr("percentile(value, array(0.5, 0.95))")
    approx = F.expr("percentile_approx(value, array(0.5, 0.95), 10000)")
    agg = e.agg(exact.alias("ex"), approx.alias("ap")).select(
        (
            F.abs(F.element_at("ap", 1) - F.element_at("ex", 1))
            / F.abs(F.element_at("ex", 1))
            <= 0.02
        ).alias("p50_ok"),
        (
            F.abs(F.element_at("ap", 2) - F.element_at("ex", 2))
            / F.abs(F.element_at("ex", 2))
            <= 0.02
        ).alias("p95_ok"),
        F.round(F.element_at("ex", 1), 6).alias("p50_exact"),
        F.round(F.element_at("ex", 2), 6).alias("p95_exact"),
    )
    return agg


@op(
    "agg_rollup_host_tld",
    f"""WITH {URLS_CTE}
    SELECT tld, host, count(*) AS n, round(avg(score), 6) AS avg_score
    FROM urls GROUP BY ROLLUP (tld, host)""",
)
def agg_rollup_host_tld(spark, sf_dir):
    return (
        _urls(spark, sf_dir)
        .rollup("tld", "host")
        .agg(F.count("*").alias("n"), F.round(F.avg("score"), 6).alias("avg_score"))
    )


# ======================= window functions ===================================


@op(
    "window_rank_frontier",
    f"""WITH {URLS_CTE}
    SELECT url, host,
           row_number() OVER (PARTITION BY host ORDER BY score DESC, url ASC) AS rk
    FROM urls""",
)
def window_rank_frontier(spark, sf_dir):
    w = Window.partitionBy("host").orderBy(F.col("score").desc(), F.col("url").asc())
    return _urls(spark, sf_dir).select("url", "host", F.row_number().over(w).alias("rk"))


@op(
    "window_topk_global",
    f"""WITH {URLS_CTE}
    SELECT url, seq FROM (
      SELECT url, row_number() OVER (ORDER BY score DESC, url ASC) AS seq FROM urls)
    WHERE seq <= 25""",
)
def window_topk_global(spark, sf_dir):
    w = Window.orderBy(F.col("score").desc(), F.col("url").asc())
    return (
        _urls(spark, sf_dir)
        .select("url", F.row_number().over(w).alias("seq"))
        .filter(F.col("seq") <= 25)
    )


@op(
    "window_running_budget",
    f"""WITH {URLS_CTE},
    fetches AS (SELECT host, url, doc_id % 5 AS rnd FROM urls)
    SELECT host, url, CAST(count(*) OVER (PARTITION BY host ORDER BY rnd, url
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
    FROM fetches""",
)
def window_running_budget(spark, sf_dir):
    u = _urls(spark, sf_dir).select("host", "url", (F.col("doc_id") % 5).alias("rnd"))
    w = (
        Window.partitionBy("host")
        .orderBy(F.col("rnd").asc(), F.col("url").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return u.select("host", "url", F.count("*").over(w).alias("running"))


# ======================= sorts / limits / set ops ===========================


@op(
    "sort_priority",
    f"WITH {URLS_CTE} SELECT url, score FROM urls ORDER BY score DESC, url ASC",
)
def sort_priority(spark, sf_dir):
    return _urls(spark, sf_dir).select("url", "score").orderBy(
        F.col("score").desc(), F.col("url").asc()
    )


@op(
    "limit_round_capacity",
    f"WITH {URLS_CTE} SELECT url FROM urls ORDER BY score DESC, url ASC LIMIT 20",
)
def limit_round_capacity(spark, sf_dir):
    return (
        _urls(spark, sf_dir)
        .orderBy(F.col("score").desc(), F.col("url").asc())
        .limit(20)
        .select("url")
    )


@op(
    "set_union_frontier",
    f"""WITH {URLS_CTE}
    SELECT DISTINCT url FROM (
      SELECT url FROM urls WHERE doc_id % 2 = 0
      UNION ALL SELECT url FROM urls WHERE doc_id % 3 = 0)""",
)
def set_union_frontier(spark, sf_dir):
    u = _urls(spark, sf_dir)
    a = u.filter(F.col("doc_id") % 2 == 0).select("url")
    b = u.filter(F.col("doc_id") % 3 == 0).select("url")
    return a.unionByName(b).distinct()


@op(
    "set_except_seen",
    f"""WITH {URLS_CTE}
    SELECT url FROM urls WHERE doc_id % 2 = 0
    EXCEPT SELECT url FROM urls WHERE doc_id % 3 = 0""",
)
def set_except_seen(spark, sf_dir):
    u = _urls(spark, sf_dir)
    a = u.filter(F.col("doc_id") % 2 == 0).select("url")
    b = u.filter(F.col("doc_id") % 3 == 0).select("url")
    return a.exceptAll(b).distinct()


@op(
    "set_intersect_hosts",
    f"""WITH {URLS_CTE}
    SELECT host FROM urls WHERE doc_id % 2 = 0
    INTERSECT SELECT host FROM urls WHERE doc_id % 3 = 0""",
)
def set_intersect_hosts(spark, sf_dir):
    u = _urls(spark, sf_dir)
    a = u.filter(F.col("doc_id") % 2 == 0).select("host")
    b = u.filter(F.col("doc_id") % 3 == 0).select("host")
    return a.intersect(b)


# ======================= scalar functions ===================================


@op(
    "parse_props_json",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events",
)
def parse_props_json(spark, sf_dir):
    return _t(spark, sf_dir, "events").select(
        "event_id", F.get_json_object("props", "$.k").cast("bigint").alias("k")
    )


@op(
    "date_bucket_warc",
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
              strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
              count(*) AS n
    FROM events GROUP BY 1, 2""",
)
def date_bucket_warc(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
    ).agg(F.count("*").alias("n"))


@op(
    "math_norm_score",
    """SELECT o_orderkey,
              round(ln(1 + o_totalprice), 6) AS log_price,
              round((o_totalprice - min(o_totalprice) OVER ()) /
                    (max(o_totalprice) OVER () - min(o_totalprice) OVER ()), 6) AS norm_price
    FROM orders""",
)
def math_norm_score(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy()
    mn, mx = F.min("o_totalprice").over(w), F.max("o_totalprice").over(w)
    return o.select(
        "o_orderkey",
        F.round(F.log1p("o_totalprice"), 6).alias("log_price"),
        F.round((F.col("o_totalprice") - mn) / (mx - mn), 6).alias("norm_price"),
    )


@op(
    "array_map_meta",
    """SELECT doc_id,
              list_extract(string_split(text, ' '), 1) AS first_tok,
              CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
              CAST(doc_id % 7 AS VARCHAR) AS meta_bucket
    FROM documents""",
)
def array_map_meta(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    arr = F.split("text", " ")
    meta = F.map_from_entries(F.array(F.struct(F.lit("bucket"), (F.col("doc_id") % 7).cast("string"))))
    return d.select(
        "doc_id",
        F.element_at(arr, 1).alias("first_tok"),
        F.size(arr).alias("n_tok"),
        F.element_at(meta, "bucket").alias("meta_bucket"),
    )


# ======================= streaming-equivalent ops ===========================


@op(
    "stream_tumbling_rounds",
    """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS win_start,
              event_type, count(*) AS n
    FROM events GROUP BY 1, 2""",
)
def stream_tumbling_rounds(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        (F.floor(F.unix_timestamp("ts") / 300) * 300).cast("bigint").alias("win_start"),
        "event_type",
    ).agg(F.count("*").alias("n"))


@op(
    "stream_session_host",
    """WITH g AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events)
    SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions FROM g GROUP BY user_id""",
)
def stream_session_host(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    lag = F.lag("ts").over(w)
    new_sess = F.when(
        lag.isNull() | (F.col("ts") - lag > F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    return (
        e.select("user_id", new_sess.alias("new_sess"))
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"))
    )


@op("stateful_seen_set", None)
def stateful_seen_set(spark, sf_dir):
    """Live Structured-Streaming twin of the URL-seen set (SURVEY §2.2
    'stateful_seen_set'): sharded applyInPandasWithState dedup over a
    file-streamed URL feed derived from documents.  Rows-only oracle —
    pytest locks exactly-once emission (tests/test_streaming.py)."""
    import os
    import shutil
    import tempfile
    import uuid

    feed = tempfile.mkdtemp(prefix="seenfeed_")
    try:
        # deterministic overlapping micro-batches: Spark's bare limit()
        # picks partition-layout-dependent rows, so rank by a total
        # order first (hash, url) — the locked row set cannot drift
        u = _urls(spark, sf_dir).select("url")
        ranked = u.orderBy(F.xxhash64("url"), F.col("url")).limit(500)
        ranked.limit(300).write.mode("overwrite").parquet(os.path.join(feed, "b0"))
        ranked.write.mode("overwrite").parquet(os.path.join(feed, "b1"))

        from storm_focused_crawler_spark.streaming.live import seen_filter_stream

        stream = (
            spark.readStream.schema("url string")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed + "/*")
        )
        name = f"seen_{uuid.uuid4().hex[:8]}"
        q = (
            seen_filter_stream(stream, n_shards=8)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(120)
        assert finished, "stateful_seen_set stream did not drain within 120s"
        # materialize off the memory sink before the feed dir is removed
        rows = spark.sql(f"SELECT url, url_hash, shard FROM {name} ORDER BY url")
        out = spark.createDataFrame(rows.collect(), rows.schema)
        spark.catalog.dropTempView(name)
        return out
    finally:
        shutil.rmtree(feed, ignore_errors=True)


@op("stateful_host_budget", None)
def stateful_host_budget(spark, sf_dir):
    """Streaming per-host politeness cap (streaming/live.py
    politeness_limit_stream): token-bucket state per host across
    micro-batches.  Rows-only; budget-never-exceeded + determinism are
    pytest-locked (tests/test_streaming.py)."""
    import os
    import shutil
    import tempfile
    import uuid

    feed = tempfile.mkdtemp(prefix="budgetfeed_")
    try:
        u = _urls(spark, sf_dir).select("url")
        w = Window.orderBy(F.xxhash64("url"), F.col("url"))
        ranked = u.withColumn("rn", F.row_number().over(w))
        # two DISJOINT deterministic micro-batches
        ranked.filter(F.col("rn") <= 300).select("url").write.mode("overwrite").parquet(
            os.path.join(feed, "b0")
        )
        ranked.filter((F.col("rn") > 300) & (F.col("rn") <= 500)).select(
            "url"
        ).write.mode("overwrite").parquet(os.path.join(feed, "b1"))

        from storm_focused_crawler_spark.streaming.live import politeness_limit_stream

        stream = (
            spark.readStream.schema("url string")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed + "/*")
        )
        name = f"budget_{uuid.uuid4().hex[:8]}"
        q = (
            politeness_limit_stream(stream, budget=3)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(120)
        assert finished, "stateful_host_budget stream did not drain within 120s"
        rows = spark.sql(f"SELECT url, host, n_used FROM {name} ORDER BY host, n_used")
        out = spark.createDataFrame(rows.collect(), rows.schema)
        spark.catalog.dropTempView(name)
        return out
    finally:
        shutil.rmtree(feed, ignore_errors=True)


@op(
    "watermark_late_pages",
    """SELECT event_id FROM events
    WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR""",
)
def watermark_late_pages(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("mx"))
    return (
        e.crossJoin(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("mx") - F.expr("INTERVAL 1 HOUR"))
        .select("event_id")
    )
