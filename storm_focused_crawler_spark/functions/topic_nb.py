"""Trained topic classifier — multinomial Naive Bayes, integer-exact.

The reference crawl's focused ordering came from a trained topic
classifier ([B:6]; VERDICT r02 'What's missing' #3); §2.1-4's
keyword-overlap score remains the pinned parity stand-in, and this
module is the trained alternative: a multinomial NB (public-knowledge
method) over a small embedded labeled corpus.

Determinism / oracle discipline: training happens at import from the
seed corpus below (original prose written for this module, like the
langid corpora) into an INTEGER weight table — w(token, topic) =
round(ln((count+1)/(N_topic+V)) · 10⁶).  Scoring is then pure integer
relational algebra (tokenize → explode → broadcast join → integer sum →
argmax), so the Spark plan and a DuckDB VALUES-CTE oracle compute
identical values: the floats live only in the shared constants, never
in cross-engine math.  Unseen tokens get the per-topic Laplace default
weight times their count; priors are uniform and therefore dropped
from the argmax.

Scale shape: the weight table is ≤ V·T rows (broadcast); documents
shuffle once on doc_id for the per-(doc, topic) aggregate.  Tokenize
matches spec.tokenize (lower, split on [^a-z0-9]+).
"""

from __future__ import annotations

import math
from collections import Counter
from typing import TYPE_CHECKING

from storm_focused_crawler_spark.spec import tokenize

if TYPE_CHECKING:  # pyspark imports stay function-local so the
    from pyspark.sql import DataFrame  # Spark-free oracle can import
    #                                    this module (like spec.py)

SCALE = 10**6  # log-weight micro-units

SEED_CORPUS: dict[str, str] = {
    "databases": (
        "the query planner chooses a join order and pushes each filter "
        "below the scan so the index can prune pages early. a hash join "
        "builds its table in memory while a merge join needs both sides "
        "sorted. the optimizer rewrites the predicate, estimates row "
        "counts, and picks the cheapest plan. transactions commit through "
        "a write ahead log and isolation keeps readers consistent. the "
        "buffer pool caches hot pages and the vacuum process reclaims "
        "dead tuples. a window function ranks rows inside each partition "
        "without collapsing them. columnar storage compresses well and "
        "vectorized execution processes a batch of values per call. the "
        "checkpoint flushes every dirty page and records the position in "
        "the log so recovery replays only the tail. a unique constraint "
        "rejects the duplicate key and the statement rolls back."
    ),
    "networking": (
        "a packet leaves the host with a source address and travels hop "
        "by hop while every router consults its table for the longest "
        "matching route. the handshake sets the window size and both "
        "ends negotiate options before data flows. congestion control "
        "backs off when loss appears and retransmits the missing segment. "
        "the resolver asks a name server and caches the answer with its "
        "time to live. a firewall inspects each connection and drops "
        "traffic that matches no allowed rule. latency grows with "
        "distance while bandwidth depends on the narrowest link along "
        "the path. a proxy terminates the session and opens a second one "
        "toward the origin. the client opens a socket and the server "
        "accepts it on the listening port. when the timer expires before "
        "the ack arrives the sender retransmits and doubles the timeout. "
        "the lease expires and the host renews its address from the pool."
    ),
    "cooking": (
        "heat the pan until the butter foams then lower the flame so the "
        "onions soften without burning. season the sauce with salt and "
        "taste it before adding more. knead the dough until it turns "
        "smooth and let it rest so the gluten relaxes. roast the "
        "vegetables on a tray with oil until the edges brown. simmer the "
        "stock slowly and skim the foam from the surface. fold the egg "
        "whites gently into the batter to keep the air inside. a sharp "
        "knife makes the slices even and the garnish neat. bake the loaf "
        "until the crust sounds hollow when tapped and cool it on a rack "
        "before slicing."
    ),
    "astronomy": (
        "the telescope gathers faint light from a galaxy whose redshift "
        "tells us how fast it recedes. a planet transits its star and "
        "the dip in brightness reveals its radius. the moon raises tides "
        "as it orbits and its phase depends on the angle to the sun. a "
        "comet grows a tail when sunlight heats its ice. the supernova "
        "outshines its host for weeks and seeds space with heavy "
        "elements. gravity bends the light of a distant quasar into "
        "arcs around the cluster. astronomers measure parallax to fix "
        "the distance to a nearby star and calibrate the cosmic ladder."
    ),
}


def train() -> tuple[list[tuple[str, str, int]], list[tuple[str, int]]]:
    """(weights rows (topic, token, w_i), topic rows (topic, default_i)).

    Deterministic: sorted topics, sorted vocabulary, half-even rounding
    of the log weights into SCALE micro-units."""
    topics = sorted(SEED_CORPUS)
    counts = {t: Counter(tokenize(SEED_CORPUS[t])) for t in topics}
    vocab = sorted(set().union(*counts.values()))
    v = len(vocab)
    weights: list[tuple[str, str, int]] = []
    defaults: list[tuple[str, int]] = []
    for t in topics:
        n = sum(counts[t].values())
        defaults.append((t, round(math.log(1.0 / (n + v)) * SCALE)))
        for tok in vocab:
            c = counts[t].get(tok, 0)
            if c:
                weights.append((t, tok, round(math.log((c + 1.0) / (n + v)) * SCALE)))
    return weights, defaults


def classify(docs: "DataFrame", id_col: str = "doc_id",
             text_col: str = "text") -> "DataFrame":
    """(id, pred_topic, score_i): argmax over topics of the integer NB
    log-likelihood; empty docs score n_tok=0 ⇒ all topics tie ⇒
    lexicographically-first topic (deterministic, documented)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from storm_focused_crawler_spark.functions.udfs import tokens_col

    spark = docs.sparkSession
    weights, defaults = train()
    wdf = spark.createDataFrame(weights, "topic string, tok string, w long")
    tdf = spark.createDataFrame(defaults, "topic string, dflt long")

    base = docs.select(F.col(id_col).alias("_id"), tokens_col(F.col(text_col)).alias("_toks"))
    toks = base.select("_id", F.explode("_toks").alias("tok"))
    matched = (
        toks.join(F.broadcast(wdf), "tok")
        .groupBy("_id", "topic")
        .agg(F.sum("w").alias("s"), F.count("*").alias("m"))
    )
    per_topic = (
        base.select("_id", F.size("_toks").alias("n_tok"))
        .crossJoin(F.broadcast(tdf))
        .join(matched, ["_id", "topic"], "left")
        .withColumn(
            "score_i",
            (F.coalesce(F.col("s"), F.lit(0))
             + (F.col("n_tok") - F.coalesce(F.col("m"), F.lit(0))) * F.col("dflt"))
            .cast("long"),
        )
    )
    w = Window.partitionBy("_id").orderBy(F.col("score_i").desc(), F.col("topic").asc())
    return (
        per_topic.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("_id").alias(id_col),
                F.col("topic").alias("pred_topic"),
                "score_i")
    )


# ---------------------------------------------------------------------------
# Crawl-scorer surface (§2.1-4 alternative, CrawlConfig.scorer="topic_nb")
# ---------------------------------------------------------------------------

TARGET_TOPIC_DEFAULT = "databases"

_MODEL_CACHE: dict | None = None


def _model():
    """{(topic idx): ...} dict form of train(), built once per process."""
    global _MODEL_CACHE
    if _MODEL_CACHE is None:
        weights, defaults = train()
        topics = [t for t, _ in defaults]
        wmap: dict[str, list[int]] = {}
        dflt = [d for _, d in defaults]
        tidx = {t: i for i, t in enumerate(topics)}
        for t, tok, w in weights:
            row = wmap.setdefault(tok, list(dflt))
            row[tidx[t]] = w
        _MODEL_CACHE = {"topics": topics, "wmap": wmap, "dflt": dflt}
    return _MODEL_CACHE


def score_text(text: str, target: str = TARGET_TOPIC_DEFAULT) -> float:
    """Posterior P(target topic | text) under the NB model, float64,
    round half-even to 6 — the crawl's alternative relevance scorer.

    ONE python function shared between the sequential oracle and the
    engine's pandas UDF (score_nb_col), so crawl parity with
    scorer="topic_nb" is byte-exact by construction, exactly like
    spec.extract_text.  Uniform priors; empty text ⇒ uniform posterior.
    """
    m = _model()
    topics, wmap, dflt = m["topics"], m["wmap"], m["dflt"]
    ll = [0] * len(topics)
    for tok in tokenize(text):
        row = wmap.get(tok)
        if row is None:
            for i, d in enumerate(dflt):
                ll[i] += d
        else:
            for i, w in enumerate(row):
                ll[i] += w
    # softmax over micro-unit log-likelihoods; fixed (sorted-topic)
    # summation order keeps the doubles identical everywhere
    fl = [x / float(SCALE) for x in ll]
    mx = max(fl)
    exps = [math.exp(x - mx) for x in fl]
    return round(exps[topics.index(target)] / sum(exps), 6)


def score_nb_col(text_col, target: str = TARGET_TOPIC_DEFAULT):
    """Arrow-batched column twin of score_text (runs on the ≤capacity
    dequeued rows per crawl round — bounded, never the full corpus)."""
    from pyspark.sql import functions as F

    # no type hints: pandas is function-local, so string annotations
    # can't resolve under `from __future__ import annotations`
    def _s_impl(texts):
        return texts.map(lambda t: score_text(t or "", target))

    return F.pandas_udf("double")(_s_impl)(text_col)


def classify_sql(table: str = "documents", id_col: str = "doc_id",
                 text_col: str = "text") -> str:
    """DuckDB oracle twin of classify() over a registered view."""
    weights, defaults = train()
    wvals = ", ".join(
        "('{}', '{}', {})".format(t, tok.replace("'", "''"), w)
        for t, tok, w in weights
    )
    tvals = ", ".join(f"('{t}', {d})" for t, d in defaults)
    toks = (f"list_filter(regexp_split_to_array(lower({text_col}), "
            f"'[^a-z0-9]+'), x -> x <> '')")
    return f"""WITH w(topic, tok, wt) AS (VALUES {wvals}),
    topics(topic, dflt) AS (VALUES {tvals}),
    base AS (SELECT {id_col} AS _id, {toks} AS _toks FROM {table}),
    toks AS (SELECT _id, unnest(_toks) AS tok FROM base),
    matched AS (
      SELECT _id, topic, sum(wt) AS s, count(*) AS m
      FROM toks JOIN w USING (tok) GROUP BY 1, 2),
    per_topic AS (
      SELECT b._id, t.topic,
             CAST(coalesce(m.s, 0)
                  + (len(b._toks) - coalesce(m.m, 0)) * t.dflt AS BIGINT) AS score_i
      FROM base b CROSS JOIN topics t
      LEFT JOIN matched m ON b._id = m._id AND t.topic = m.topic),
    best AS (
      SELECT _id, topic, score_i,
             row_number() OVER (PARTITION BY _id
                                ORDER BY score_i DESC, topic ASC) AS rn
      FROM per_topic)
    SELECT _id AS {id_col}, topic AS pred_topic, score_i
    FROM best WHERE rn = 1"""
