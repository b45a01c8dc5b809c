"""Robots Exclusion Protocol evaluation — Allow + longest-match.

Real REP semantics (public spec, RFC 9309 §2.2.2 + §2.2.3): among the
rules whose path pattern matches the URL path, the one with the MOST
octets in its raw rule text wins; on a length tie between an Allow and
a Disallow, Allow wins; a URL with no matching rule is allowed.
Patterns are anchored at the path start; ``*`` matches any octet
sequence (including empty) and a trailing ``$`` anchors the match to
the path end (a ``$`` anywhere else is a literal octet) — the same
metacharacter semantics as the reference REP matchers published with
RFC 9309.  (VERDICT r02 'What's missing' #4 grew the evaluator from
single-Disallow to longest-match; VERDICT r04 'Next round' #1 grew the
match from literal prefixes to full §2.2.3 wildcards.)

Scale shape: rules are grouped into ONE array per host (robots tables
are dim-sized — a prefix list per host), broadcast, and evaluated with
an order-independent array fold — no row multiplication of the
frontier, no shuffle, pure codegen.  The fold's (best_len, best_allow)
accumulator makes the verdict independent of collect_list order.

Empty-prefix rules ("Disallow:" with nothing after it = allow-all in
REP) are dropped at parse time; parsers must not emit them.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

RULES_SCHEMA = "host string, prefix string, allow boolean"

# RFC 9309 line grammar (shared by the relational parser, the python
# twin, and the DuckDB oracle — all three run the SAME regexes):
#   * a user-agent line carries one non-empty product token;
#   * a rule line is allow/disallow with an optional (possibly empty)
#     value — an empty-value rule still closes a user-agent run (it IS
#     a rule in the ABNF) but is dropped from the output because the
#     evaluator treats no-match as allowed (empty prefix = allow-all);
#   * a crawl-delay line (the widely-supported extension; decimal
#     seconds) belongs to its group like a rule does — it also closes
#     a user-agent run;
#   * every other line (blank, comment, unknown directive) is
#     unparseable per §2.2.3 and ignored ENTIRELY — it neither joins
#     nor breaks a user-agent run.
_UA_PAT = r"(?i)^user-agent:\s*(\S+)\s*$"
_RULE_PAT = r"(?i)^(allow|disallow):\s*(\S*)"
_DELAY_PAT = r"(?i)^crawl-delay:\s*(\d+(?:\.\d+)?)\s*$"
_UA_RE = re.compile(_UA_PAT)
_RULE_RE = re.compile(_RULE_PAT)
_DELAY_RE = re.compile(_DELAY_PAT)
DEFAULT_AGENT = "focused-crawler"


def parse_robots_py(content: str, agent: str = DEFAULT_AGENT) -> list[tuple[str, bool]]:
    """Python twin of :func:`parse_robots` for ONE robots.txt body —
    the sequential oracle's parser (oracle/seqcrawler.py), kept in
    lockstep with the relational plan by tests/test_robots_groups.py.

    RFC 9309 §2.2.1 group selection: groups are maximal runs of
    consecutive user-agent lines (after dropping unparseable lines)
    plus the rules that follow them; ALL groups naming our exact
    product token (case-insensitive) are merged; if none does, all
    ``*`` groups are merged; rules before any user-agent line are
    ignored.  Returns [(prefix, allow)] for the selected groups.
    """
    out: list[tuple[str, bool]] = []
    for _agents, rules, _delays in _selected_groups_py(content, agent):
        out.extend(rules)
    return out


def parse_crawl_delay_py(content: str, agent: str = DEFAULT_AGENT) -> int | None:
    """Crawl-delay of the RFC 9309-selected group(s), in MILLISECONDS
    (int(float(seconds) * 1000)); None when no selected group carries
    the directive.  Multiple directives merge conservatively (max) —
    python twin of :func:`parse_crawl_delays`."""
    delays = [d for _a, _r, ds in _selected_groups_py(content, agent) for d in ds]
    return max(delays) if delays else None


def _selected_groups_py(content: str, agent: str):
    """Shared grouping + §2.2.1 selection: the groups (agents, rules,
    delays_ms) whose user-agent set names *agent* exactly — or ``*``
    when no group does."""
    agent = agent.lower()
    groups: list[tuple[list[str], list[tuple[str, bool]], list[int]]] = []
    prev_ua = False
    for raw in content.split("\n"):
        m = _UA_RE.match(raw)
        if m:
            if not prev_ua:
                groups.append(([], [], []))
            groups[-1][0].append(m.group(1).lower())
            prev_ua = True
            continue
        m = _RULE_RE.match(raw)
        if m:
            prev_ua = False
            if groups and m.group(2):
                groups[-1][1].append((m.group(2), m.group(1).lower() == "allow"))
            continue
        m = _DELAY_RE.match(raw)
        if m:
            prev_ua = False
            if groups:
                groups[-1][2].append(int(float(m.group(1)) * 1000))
        # unparseable lines: ignored entirely (prev_ua unchanged)
    has_exact = any(agent in agents for agents, _r, _d in groups)
    want = agent if has_exact else "*"
    return [g for g in groups if want in g[0]]


def parse_robots(df: DataFrame, agent: str = DEFAULT_AGENT,
                 host_col: str = "host", content_col: str = "content") -> DataFrame:
    """(host, content) robots.txt bodies → (host, prefix, allow) rules
    for the RFC 9309 §2.2.1-selected user-agent group(s).

    Relational, no python UDFs: posexplode lines, regex-classify,
    lag/window to assign each rule to the maximal user-agent run
    preceding it, then pick per host the runs naming our exact product
    token (case-insensitive) — or the ``*`` runs if none does — and
    emit their non-empty rules for the longest-match evaluator
    (:func:`rep_filter`).  Robots tables are dim-sized (one body per
    host), so the per-host line windows are trivially small; nothing
    here touches frontier-scale data.
    """
    runid, chosen = _classified_runs(df, agent, host_col, content_col)
    rules = runid.filter(F.col("is_rule")).select(
        "host",
        "run_id",
        F.regexp_extract("line", r"(?i)^(?:allow|disallow):\s*(\S*)", 1).alias("prefix"),
        F.col("line").rlike(r"(?i)^allow:").alias("allow"),
    )
    return (
        rules.join(chosen, ["host", "run_id"])
        .filter(F.length("prefix") >= 1)
        .select("host", "prefix", "allow")
    )


def parse_crawl_delays(df: DataFrame, agent: str = DEFAULT_AGENT,
                       host_col: str = "host",
                       content_col: str = "content") -> DataFrame:
    """(host, content) → (host, delay_ms): the selected group's
    ``Crawl-delay:`` directive (decimal seconds → int milliseconds),
    merged conservatively (max) when several selected groups carry one.
    Hosts without a selected-group directive are absent.  Feeds
    host_budget.min_interval_ms (driver.run_crawl); python twin:
    :func:`parse_crawl_delay_py`."""
    runid, chosen = _classified_runs(df, agent, host_col, content_col)
    delays = runid.filter(F.col("is_delay")).select(
        "host",
        "run_id",
        (F.regexp_extract("line", _DELAY_PAT, 1).cast("double") * 1000)
        .cast("int")
        .alias("delay_ms"),
    )
    return (
        delays.join(chosen, ["host", "run_id"])
        .groupBy("host")
        .agg(F.max("delay_ms").alias("delay_ms"))
    )


def _classified_runs(df: DataFrame, agent: str, host_col: str, content_col: str):
    """Shared relational grouping: explode lines, regex-classify
    (ua/rule/delay — anything else dropped), assign each kept line to
    the maximal user-agent run preceding it, and compute the §2.2.1
    chosen (host, run_id) set for *agent*."""
    agent = agent.lower()
    lines = df.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(content_col, "\n")).alias("idx", "line"),
    )
    is_ua = F.col("line").rlike(_UA_PAT)
    is_rule = F.col("line").rlike(r"(?i)^(allow|disallow):")
    is_delay = F.col("line").rlike(_DELAY_PAT)
    kept = lines.select(
        "host", "idx", "line",
        is_ua.alias("is_ua"), is_rule.alias("is_rule"), is_delay.alias("is_delay"),
    ).filter(is_ua | is_rule | is_delay)
    w = Window.partitionBy("host").orderBy("idx")
    runid = (
        kept.withColumn(
            "grp_start",
            F.when(
                F.col("is_ua") & ~F.coalesce(F.lag("is_ua").over(w), F.lit(False)),
                F.col("idx"),
            ),
        )
        .withColumn(
            "run_id",
            F.max("grp_start").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .filter(F.col("run_id").isNotNull())  # directives before any UA line
    )
    agents = runid.filter("is_ua").select(
        "host",
        "run_id",
        F.lower(F.regexp_extract("line", _UA_PAT, 1)).alias("token"),
    )
    per_run = agents.groupBy("host", "run_id").agg(
        F.max(F.col("token") == agent).alias("run_exact"),
        F.max(F.col("token") == "*").alias("run_star"),
    )
    sel = per_run.withColumn(
        "any_exact", F.max("run_exact").over(Window.partitionBy("host"))
    )
    chosen = sel.filter(
        (F.col("any_exact") & F.col("run_exact"))
        | (~F.col("any_exact") & F.col("run_star"))
    ).select("host", "run_id")
    return runid, chosen


def rules_by_host(rules: DataFrame) -> DataFrame:
    """(host, rules array<struct<prefix,allow>>) — one row per host.

    Input (host, prefix, allow); legacy single-Disallow tables
    (host, disallow_prefix) are adapted to (prefix, allow=false).  A
    frame that already has ``rules`` (this function's output) passes
    through, so a caller can group once and persist the result."""
    if "rules" in rules.columns:
        return rules
    if "disallow_prefix" in rules.columns and "prefix" not in rules.columns:
        rules = rules.select(
            "host",
            F.col("disallow_prefix").alias("prefix"),
            F.lit(False).alias("allow"),
        )
    return (
        rules.filter(F.length("prefix") >= 1)
        .groupBy("host")
        .agg(F.collect_list(F.struct("prefix", "allow")).alias("rules"))
    )


def rep_match_py(pattern: str, path: str) -> bool:
    """RFC 9309 §2.2.3 rule-path matching — the python twin of
    :func:`rep_match_col`, used by the sequential oracle
    (oracle/seqcrawler._blocked) and golden/fuzz-tested against both
    the engine column and a regex reference (tests/test_robots_rep.py).

    The pattern is anchored at the path START; ``*`` matches any octet
    sequence (including empty); one trailing ``$`` anchors the match to
    the path END; a ``$`` anywhere else is a literal octet.  Matching
    uses leftmost placement of each literal segment, which is exact for
    the existence question this answers."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    segs = body.split("*")
    if not path.startswith(segs[0]):
        return False
    if len(segs) == 1:
        return len(path) == len(segs[0]) if anchored else True
    pos = len(segs[0])
    for seg in segs[1:-1]:
        if seg:
            i = path.find(seg, pos)
            if i < 0:
                return False
            pos = i + len(seg)
    last = segs[-1]
    if anchored:
        return path.endswith(last) and len(path) - len(last) >= pos
    return (not last) or path.find(last, pos) >= 0


def rep_match_col(path: Column, pattern: Column) -> Column:
    """§2.2.3 matching as a pure-JVM column expression (no regex, no
    python): literal rules (the overwhelming majority) stay one
    ``startswith``; wildcard rules split on ``*`` and fold the segments
    with ``locate``, advancing a leftmost match position — O(|path|)
    string scans per rule, no per-row regex compilation, safe inside
    the broadcast rule-array fold at 10^10-frontier scale."""
    anchored = F.endswith(pattern, F.lit("$"))
    body = F.when(
        anchored, F.substr(pattern, F.lit(1), F.length(pattern) - 1)
    ).otherwise(pattern)
    segs = F.split(body, r"\*", -1)
    n = F.size(segs)
    first = F.element_at(segs, F.lit(1))
    last = F.element_at(segs, n)
    startok = F.startswith(path, first)

    def _advance(acc, seg):
        # acc: 0-based minimum start for the next segment; -1 = failed
        p = F.call_function("locate", seg, path, acc + 1)  # 1-based; 0 = miss
        return (
            F.when(acc < 0, acc)
            .when(F.length(seg) == 0, acc)  # '' between consecutive '*'s
            .when(p == 0, F.lit(-1))
            .otherwise(p - 1 + F.length(seg))
        )

    pos0 = F.length(first)
    # unanchored: every segment after the first needs an in-order occurrence
    tail_all = F.aggregate(F.slice(segs, F.lit(2), n - 1), pos0, _advance)
    # anchored: middles in order, then the last segment at the very end
    mid = F.aggregate(
        F.slice(segs, F.lit(2), F.greatest(n - 2, F.lit(0))), pos0, _advance
    )
    anchored_ok = (
        (mid >= 0)
        & F.endswith(path, last)
        & (F.length(path) - F.length(last) >= mid)
    )
    multi = F.when(anchored, anchored_ok).otherwise(tail_all >= 0)
    single = F.when(anchored, F.length(path) == F.length(first)).otherwise(F.lit(True))
    wildcard = startok & F.when(n == 1, single).otherwise(multi)
    has_meta = F.contains(pattern, F.lit("*")) | anchored
    return F.when(~has_meta, F.startswith(path, pattern)).otherwise(wildcard)


def rep_allowed(path: Column, rules: Column) -> Column:
    """True iff *path* is allowed under the rule array (most-octets
    match wins, Allow wins ties, no-match ⇒ allowed, null rules ⇒
    allowed).  Rule length is the RAW rule text's octet count —
    metacharacters included — per the RFC's most-specific ordering."""
    init = F.struct(F.lit(-1).alias("ln"), F.lit(1).alias("al"))

    def merge(acc, r):
        ln = F.length(r["prefix"])
        al = r["allow"].cast("int")
        wins = rep_match_col(path, r["prefix"]) & (
            (ln > acc["ln"]) | ((ln == acc["ln"]) & (al > acc["al"]))
        )
        return F.when(wins, F.struct(ln.alias("ln"), al.alias("al"))).otherwise(acc)

    best = F.aggregate(rules, init, merge)
    return rules.isNull() | (best["al"] == 1)


def rep_filter(urls: DataFrame, rules: DataFrame, path: Column | None = None,
               host_col: str = "host", allowed: Column | None = None) -> DataFrame:
    """Keep the allowed rows of *urls*; adds nothing to the schema.

    The verdict is ``rep_allowed(path, F.col("rules"))``; a caller that
    filters many frames passes it prebuilt as *allowed* instead of
    *path*."""
    grouped = rules_by_host(rules)
    if allowed is None:
        allowed = rep_allowed(path, F.col("rules"))
    joined = urls.join(F.broadcast(grouped), host_col, "left")
    return joined.filter(allowed).drop("rules")


def extract_sitemaps(df: DataFrame, host_col: str = "host",
                     content_col: str = "content") -> DataFrame:
    """(host, sitemap_url) from raw robots bodies — the `Sitemap:`
    directive is group-independent (sitemaps.org protocol / RFC 9309
    §2.2.4 "other records"), so this reads every occurrence regardless
    of user-agent groups, case-insensitively.

    One per-row JVM regexp_extract_all + explode over dim-sized robots
    bodies — no shuffle."""
    hits = F.regexp_extract_all(
        F.col(content_col), F.lit(r"(?im)^sitemap:\s*(\S+)\s*$"), F.lit(1)
    )
    return df.select(
        F.col(host_col), F.explode(hits).alias("sitemap_url")
    )
