"""Byte-pair-encoding merge learning over a corpus (Sennrich, Haddow &
Birch 2016, "Neural Machine Translation of Rare Words with Subword
Units") — the tokenizer-training step of an LLM data pipeline.

Scale shape (the classic map-reduce BPE): the corpus collapses ONCE
into a word histogram (one hash agg — corpus-sized shuffle of (word,
count) pairs only), and every merge iteration then runs on the
VOCABULARY (10^7-10^8 rows at web scale, not 10^11 tokens): explode
adjacent symbol pairs weighted by word count, one hash agg, a scalar
argmax collect, and a per-row regexp merge.  Each iteration
localCheckpoints the vocab-sized frame, so plan depth stays constant
(same discipline as dedup.cluster_keepers); the caller's open
``session.scope()`` releases the checkpoints.

Determinism: the winning pair is (count DESC, left ASC, right ASC) —
total order, no RNG.  Merges apply leftmost-first via zero-width
lookarounds, so adjacent repeats collapse pairwise ("a a a a" →
"aa aa"), identical in java.util.regex and python re — the python twin
(learn_merges_py) is exact and locked by tests/test_bpe.py.

Symbol alphabet: words are [a-z0-9]+ (the repo's tokenizer) plus the
word-end marker </w>, so merge patterns never need regex escaping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_focused_crawler_spark.functions.udfs import tokens_col
from storm_focused_crawler_spark.sources.session import checkpoint

END = "</w>"


def word_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt): the one corpus-wide aggregation BPE needs."""
    return (
        docs.select(F.explode(tokens_col(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _symbolize(hist: DataFrame) -> DataFrame:
    # "low" -> "l o w </w>"
    sym = F.concat(F.regexp_replace("word", "(.)", "$1 "), F.lit(END))
    return hist.select(sym.alias("sym"), "cnt")


def _pair_counts(work: DataFrame) -> DataFrame:
    arr = F.split("sym", " ")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(arr) - 1),
        lambda i: F.struct(
            F.element_at(arr, i).alias("left"),
            F.element_at(arr, (i + 1).cast("int")).alias("right"),
        ),
    )
    return (
        work.select(F.explode(pairs).alias("p"), "cnt")
        .groupBy("p.left", "p.right")
        .agg(F.sum("cnt").alias("pair_count"))
    )


def learn_merges(spark: SparkSession, hist: DataFrame, n_merges: int) -> list[tuple]:
    """Learn *n_merges* BPE merges from a (word, cnt) histogram.

    Returns [(rank, left, right, merged, pair_count)], rank 1-based.
    Stops early when no adjacent pair remains.

    Checkpoints are LAZY: each iteration's argmax collect is the one
    job that materializes the (plan-truncated) vocab frame, instead of
    the r5 shape's eager-checkpoint + collect = 2 jobs per merge."""
    work = checkpoint(_symbolize(hist))
    out: list[tuple] = []
    for rank in range(1, n_merges + 1):
        top = (
            _pair_counts(work)
            .orderBy(F.col("pair_count").desc(), F.col("left"), F.col("right"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["pair_count"])
        out.append((rank, left, right, left + right, cnt))
        pat = f"(?<= ){left} {right}(?= )"
        work = work.select(
            F.regexp_replace(
                F.concat(F.lit(" "), "sym", F.lit(" ")), pat, left + right
            ).alias("sym"),
            "cnt",
        ).select(F.trim("sym").alias("sym"), "cnt").transform(checkpoint)
    return out


def segment_word(word: str, merges: list[tuple]) -> list[str]:
    """Apply a learned merge list to one word (python-side helper for
    tests and small-scale encoding): greedy by merge rank."""
    import re

    sym = " ".join(word) + " " + END
    for _rank, left, right, merged, _c in merges:
        sym = re.sub(f"(?<= ){re.escape(left)} {re.escape(right)}(?= )",
                     merged, f" {sym} ").strip()
    return sym.split(" ")


def learn_merges_py(word_counts: dict[str, int], n_merges: int) -> list[tuple]:
    """Exact python twin of :func:`learn_merges` (same total order,
    same lookaround leftmost-first merge application)."""
    import re

    work = [(" ".join(w) + " " + END, c) for w, c in word_counts.items()]
    out: list[tuple] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for sym, c in work:
            parts = sym.split(" ")
            for a, b in zip(parts, parts[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((rank, left, right, left + right, cnt))
        pat = re.compile(f"(?<= ){re.escape(left)} {re.escape(right)}(?= )")
        work = [
            (pat.sub(left + right, f" {sym} ").strip(), c) for sym, c in work
        ]
    return out


def segment_expr(word_col, merges: list[tuple]):
    """Column expression applying a learned merge list to one word —
    symbolize, then the merges in rank order as chained lookaround
    regexp_replace (pure JVM; merge lists are small, 10^4-10^5 at
    production vocab sizes one would switch to a broadcast trie, noted
    in SURVEY).  Returns the array of subword symbols."""
    sym = F.concat(
        F.lit(" "), F.regexp_replace(word_col, "(.)", "$1 "), F.lit(END), F.lit(" ")
    )
    for _rank, left, right, merged, _c in merges:
        sym = F.regexp_replace(sym, f"(?<= ){left} {right}(?= )", merged)
    return F.split(F.trim(sym), " ")


def segment_docs(docs: DataFrame, merges: list[tuple],
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Encode each doc under the learned merges: per-doc subword token
    count and character count — the sequence-length accounting an LLM
    data pipeline does before packing.  One explode + chained per-row
    regexp merges + one hash agg; python twin segment_word."""
    w = docs.select(F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("word"))
    segd = w.select(id_col, F.size(segment_expr(F.col("word"), merges)).alias("n_sub"))
    return segd.groupBy(id_col).agg(
        F.count("*").alias("n_words"),
        F.sum("n_sub").cast("long").alias("n_subwords"),
    )
