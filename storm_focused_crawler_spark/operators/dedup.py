"""Document deduplication operators for training-data pipelines.

Four families, all designed Spark-first for the 100 TB case:

  * exact        — hash-groupBy on content (one shuffle, map-side combine)
  * ngram-jaccard— exact word-3-gram jaccard self-join (jaccard_pairs):
                   PPJoin prefix + positional filter candidates, exact
                   verify (the registered dedup_ngram_jaccard op is
                   DuckDB-oracled, plans/pipeline_ops.py)
  * minhash-LSH  — ENTIRELY JVM-side: shingle → xxhash64 → N_PERM
                   universal-hash mins (groupBy agg) → banded bucket
                   self-join → exact-jaccard verification of candidates.
                   No Python crosses the hot path at all; at scale the
                   band join is the only wide shuffle and its key space
                   (band_id, band_hash) is uniform by construction.
  * simhash      — 64-bit signature via array-fold over token hashes,
                   candidate pairs from 16-bit band buckets, hamming
                   verified with bit_count(xor).

ngram-jaccard and minhash-LSH are one set-similarity join with two
candidate generators: both read one (_id, sh) shingle table
(_shingle_table), produce (id_a, id_b) candidates (PPJoin prefix or
MinHash bands), and keep those whose exact jaccard _verify_pairs
confirms.

Sig math stays inside int64: h32 = url/shingle hash folded to 32 bits,
a_j < 2^31 so a_j*h32 + b_j < 2^63 (no ANSI overflow), mod the first
prime above 2^32.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from storm_focused_crawler_spark.sources.session import checkpoint

MINHASH_PERMS = 32
MINHASH_BANDS = 8  # 8 bands × 4 rows
_P = 4294967311  # first prime > 2^32


def _perm_consts(j: int) -> tuple[int, int]:
    """Deterministic universal-hash constants (public-knowledge scheme)."""
    a = (2654435761 * (j + 1) + 0x9E3779B9) % (1 << 31) | 1
    b = (40503 * (j + 7) * 2654435789 + j) % _P
    return a, b


def shingles_col(text, n: int = 3):
    """Distinct word n-gram shingles of a text column (JVM-side)."""
    toks = F.filter(F.split(text, " "), lambda t: t != "")
    k = F.size(toks) - (n - 1)
    return F.when(
        k >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), k), lambda i: F.concat_ws(" ", F.slice(toks, i, n))
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def _shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, sh): per-doc shingle sets, not materialized.  Docs with no
    shingle are dropped here: a doc without one makes no signature and
    no candidate anyway (an empty sh explodes to no rows).  The filter
    is on the CHEAP token count (sh non-empty ⟺ ≥ 3 tokens), not on
    size(sh) >= 1: a filter on the derived column gets pushed below the
    exchange and re-evaluates the whole shingle HOF three times per row
    (measured 3.1s -> 0.4s for the exploded ngram-jaccard stream)."""
    text = F.col(text_col)
    n_toks = F.size(F.filter(F.split(text, " "), lambda t: t != ""))
    return df.filter(n_toks >= 3).select(
        F.col(id_col).alias("_id"), shingles_col(text).alias("sh")
    )


def _shingle_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, sh): the materialized shingle-set table — computed ONCE
    per run (localCheckpoint) because every join path references it
    from several exchange branches (signature or prefix explode + both
    verify join sides), and each branch would otherwise recompute the
    shingle HOF from the scan."""
    return checkpoint(_shingles(df, id_col, text_col))  # materialized by the first consumer


def _signature_from_shingles(sh_tab: DataFrame) -> DataFrame:
    """(_id, sh) → (_id, sig array<long>[MINHASH_PERMS])."""
    sh = sh_tab.select("_id", F.explode("sh").alias("shingle")).withColumn(
        "h32", F.pmod(F.xxhash64("shingle"), F.lit(1 << 32))
    )
    aggs = []
    for j in range(MINHASH_PERMS):
        a, b = _perm_consts(j)
        aggs.append(F.min(F.pmod(F.lit(a) * F.col("h32") + F.lit(b), F.lit(_P))).alias(f"m{j}"))
    sig = sh.groupBy("_id").agg(*aggs)
    return sig.select("_id", F.array(*[f"m{j}" for j in range(MINHASH_PERMS)]).alias("sig"))


def minhash_signature(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """df → (_id, sig array<long>[MINHASH_PERMS]) via shuffle-light agg."""
    return _signature_from_shingles(_shingles(df, id_col, text_col))


def minhash_band_buckets(sig: DataFrame) -> DataFrame:
    """(_id, band, bh): one banded bucket key per signature band —
    the LSH candidate-generation key shared by the batch
    (minhash_lsh_pairs) and incremental (incremental_minhash_pairs)
    paths.  Input is minhash_signature's (_id, sig) shape."""
    rows_per_band = MINHASH_PERMS // MINHASH_BANDS
    return sig.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at(F.col("sig"), b * rows_per_band + r + 1).cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                    ).alias("bh"),
                ),
            )
        ).alias("e"),
    ).select("_id", "e.band", "e.bh")


def incremental_minhash_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs TOUCHING a new ingestion batch, against a corpus
    whose MinHash signatures were computed once and persisted — the
    recurring-ingestion shape: at 100 TB you cannot re-signature the
    whole corpus per batch, and you cannot co-locate its text either.

    Semantics: exactly ``minhash_lsh_pairs(corpus ∪ batch)`` restricted
    to pairs with ≥1 batch member (pytest-locked equivalence,
    tests/test_pipeline_ops.py).  Output (id_a, id_b, jaccard),
    id_a < id_b, jaccard ≥ threshold.

    Scale shape: the stored signature table re-derives band buckets
    without touching corpus text; cross candidates come from a
    (band, bh) equi-join with the batch bands broadcast — batch ≪
    corpus IS the incremental contract (a batch too big to broadcast
    its (id, band, bh) rows should run the full minhash_lsh_pairs
    path); exact verification shingles corpus text ONLY for candidate
    ids (the candidate-id set is materialized dup-sized and broadcast
    semi-joined into the corpus scan BEFORE any shingling, so the
    non-candidate corpus never pays the shingle pass — r5 shingled the
    whole corpus once per verify side).  Within-batch pairs run the
    batch path (``_lsh_pairs``) over the same batch shingle table."""
    new_sh = _shingle_table(new_docs, id_col, text_col)  # batch-sized
    cand = (
        minhash_band_buckets(corpus_sigs).alias("o")
        .join(
            F.broadcast(minhash_band_buckets(_signature_from_shingles(new_sh))).alias("n"),
            (F.col("o.band") == F.col("n.band")) & (F.col("o.bh") == F.col("n.bh")),
        )
        .select(
            F.least(F.col("o._id"), F.col("n._id")).alias("id_a"),
            F.greatest(F.col("o._id"), F.col("n._id")).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
        # dup-sized; materialized because both the candidate-id
        # derivation and the verify join read it
        .transform(checkpoint)
    )
    cand_ids = (
        cand.select(F.col("id_a").alias("_id"))
        .unionByName(cand.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    old_cand = corpus_docs.join(
        F.broadcast(cand_ids), corpus_docs[id_col] == cand_ids["_id"], "left_semi"
    )
    old_cand_sh = _shingle_table(old_cand, id_col, text_col)
    v = _verify_pairs(cand, old_cand_sh.unionByName(new_sh), threshold)
    return v.unionByName(_lsh_pairs(new_sh, threshold)).distinct()


def _verify_pairs(cand: DataFrame, sh_tab: DataFrame, threshold: float) -> DataFrame:
    """Exact-jaccard verification of candidate (id_a, id_b) pairs
    against a (_id, sh) shingle table: keeps a pair when the UNROUNDED
    ratio is ≥ threshold (as both DuckDB oracles do) and reports it
    rounded to 6 places — rounding first would admit a pair just below
    the threshold."""
    v = (
        cand.join(
            sh_tab.withColumnRenamed("_id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a"
        )
        .join(
            sh_tab.withColumnRenamed("_id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b"
        )
        .select("id_a", "id_b", F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
                F.size("sh_a").alias("na"), F.size("sh_b").alias("nb"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
    return v.filter(jac >= threshold).select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))


def jaccard_pairs(df: DataFrame, id_col: str, text_col: str, threshold: float) -> DataFrame:
    """Exact word-3-gram jaccard self-join: (id_a, id_b, jaccard) with
    id_a < id_b for every pair whose shingle-set jaccard is ≥ threshold
    — the naive all-pairs result, with no LSH recall loss.

    Candidates come from the PPJoin prefix filter (public literature):
    under ANY common total order of shingles, two sets with jaccard ≥ t
    must share at least one element within each other's first
    n - ceil(t·n) + 1 shingles.  Rare-first ordering (global df asc,
    then shingle) keeps the candidate join's key groups small — the
    hot-shingle quadratic blowup of a naive shingle self-join cannot
    happen.  A length filter and the PPJoin positional filter prune
    further, and _verify_pairs checks every candidate with the EXACT
    intersection over full shingle sets, so the output is identical to
    the naive plan.

    The shingle table is materialized ONCE (_shingle_table): it feeds
    four consumers (the exploded stream's two exchange branches + both
    verify sides), and each consuming exchange would otherwise recompute
    the shingle HOF from the scan (measured ~2x of the whole query).
    At scale this is PPJoin's standard "materialize the signature
    table" step — corpus-shaped, built exactly once per run."""
    t = threshold
    sh = _shingle_table(df, id_col, text_col)
    ex = sh.select("_id", F.explode("sh").alias("s"), F.size("sh").alias("n"))
    dfreq = ex.groupBy("s").agg(F.count("*").alias("dfreq"))
    w = Window.partitionBy("_id").orderBy(F.col("dfreq").asc(), F.col("s").asc())
    # keep r (position in the global rare-first order) for the
    # positional filter below
    prefix = (
        ex.join(dfreq, "s")
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= F.col("n") - F.ceil(t * F.col("n")) + 1)
        .select("_id", "s", "n", "r")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter (Xiao et al. 2008): a shared element at
    # rank (ra, rb) of the two ordered sets bounds the overlap by
    # 1 + min(na - ra, nb - rb); a pair with jaccard ≥ t needs overlap
    # ≥ ceil(t/(1+t)·(na+nb)).  For a true pair, its FIRST shared
    # element (which the prefix theorem proves lies in both prefixes)
    # always passes the bound, so this only prunes provably-impossible
    # candidates — measured 596k -> 325k candidate pairs, output
    # byte-identical.
    alpha = F.ceil(F.lit(t) / (1.0 + t) * (F.col("a.n") + F.col("b.n")))
    pos_ok = (1 + F.least(F.col("a.n") - F.col("a.r"), F.col("b.n") - F.col("b.r"))) >= alpha
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a._id") < F.col("b._id")))
        # length filter: |A| >= t*|B| is necessary for jaccard >= t
        .filter(
            (F.col("a.n") >= F.ceil(t * F.col("b.n")))
            & (F.col("b.n") >= F.ceil(t * F.col("a.n")))
        )
        .filter(pos_ok)
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    return _verify_pairs(cand, sh, t)


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      threshold: float = 0.5) -> DataFrame:
    """Candidate pairs by banded LSH, verified by exact shingle jaccard.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    The shingle table is materialized once (_shingle_table) and feeds
    both the signature aggregation and the two exact-verify join sides.
    """
    return _lsh_pairs(_shingle_table(df, id_col, text_col), threshold)


def _lsh_pairs(sh_tab: DataFrame, threshold: float) -> DataFrame:
    """Banded-LSH candidates within a (_id, sh) shingle table, verified
    by exact jaccard against the same table."""
    cand = _band_pairs(minhash_band_buckets(_signature_from_shingles(sh_tab)))
    return _verify_pairs(cand, sh_tab, threshold)


def _band_pairs(bands: DataFrame, *carry: str) -> DataFrame:
    """(id_a, id_b[, c_a, c_b for each carried column c]) once per _id
    pair sharing a (band, bh) bucket in any band, id_a < id_b."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
                *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"])
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_col(text):
    """64-bit SimHash of whitespace tokens, entirely JVM-side.

    Fold token hashes into a 64-wide counter array — each of the 64
    bits of xxhash64(token) contributes +1/-1 to its counter via
    getbit, pure integer arithmetic (the original implementation read
    bits out of a 64-char bin() string; at corpus scale the string
    allocations dominated the whole dedup_simhash runtime, and this
    integer rewrite computes IDENTICAL values — locked by the
    simhash_py twin test).  The counter signs then pack MSB-first into
    two 32-bit halves (hi = bits 63..32, lo = bits 31..0) that stay
    inside ANSI-safe long range.  Returns struct(hi long, lo long)."""
    toks = F.filter(F.split(text, " "), lambda t: t != "")
    hs = F.transform(toks, lambda t: F.xxhash64(t))
    zero64 = F.array_repeat(F.lit(0), 64)
    idx = F.sequence(F.lit(0), F.lit(63))  # bit position, LSB = 0
    acc = F.aggregate(
        hs,
        zero64,
        lambda a, h: F.zip_with(a, idx, lambda c, i: c + F.getbit(h, i) * 2 - 1),
    )
    bits = F.transform(acc, lambda c: F.when(c > 0, 1).otherwise(0).cast("long"))
    lo = F.aggregate(
        F.reverse(F.slice(bits, 1, 32)), F.lit(0).cast("long"),
        lambda v, b: v * 2 + b,
    )
    hi = F.aggregate(
        F.reverse(F.slice(bits, 33, 32)), F.lit(0).cast("long"),
        lambda v, b: v * 2 + b,
    )
    return F.struct(hi.alias("hi"), lo.alias("lo"))


def simhash_py(text: str) -> tuple[int, int]:
    """Pure-Python twin of :func:`simhash_col` (xxhash64 via
    spec.xxh64), used by tests to lock the JVM column's exact values."""
    from storm_focused_crawler_spark import spec

    counts = [0] * 64
    for t in text.split(" "):
        if not t:
            continue
        h = spec.xxh64(t) & ((1 << 64) - 1)  # two's-complement view
        for i in range(64):
            counts[i] += 1 if (h >> i) & 1 else -1
    hi = lo = 0
    for i in range(31, -1, -1):
        lo = lo * 2 + (1 if counts[i] > 0 else 0)
    for i in range(63, 31, -1):
        hi = hi * 2 + (1 if counts[i] > 0 else 0)
    return hi, lo


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by 16-bit-band LSH on simhash, hamming-verified.

    The localCheckpoint after the signature select is load-bearing:
    without a materialization boundary, whole-stage codegen INLINES the
    64-bit fold into every downstream reference (4 band structs × 2
    self-join sides ≈ 8 recomputations — measured 2.4× slower at
    sf0.1), and the r5 repartition boundary still recomputed the fold
    once per consuming exchange branch (exchange reuse shares the
    SHUFFLE, not the projection above it — measured another 3.5× at
    sf0.1).  The checkpoint materializes the slim 24-byte-per-doc
    (_id, sh) table exactly once; both self-join sides and the verify
    read it back."""
    s = df.select(F.col(id_col).alias("_id"), simhash_col(F.col(text_col)).alias("sh"))
    s = checkpoint(s)  # materialized by the first consumer
    band_exprs = []
    for b in range(4):  # python-literal shift amounts
        src = F.col("sh.hi") if b < 2 else F.col("sh.lo")
        sh = (1 - b % 2) * 16
        band_exprs.append(
            F.struct(F.lit(b).alias("band"),
                     F.shiftrightunsigned(src, sh).bitwiseAND(F.lit(65535)).alias("bh"))
        )
    bands = s.select("_id", "sh", F.explode(F.array(*band_exprs)).alias("e")).select(
        "_id", "sh", "e.band", "e.bh"
    )
    cand = _band_pairs(bands, "sh")
    hamming = F.bit_count(F.col("sh_a.hi").bitwiseXOR(F.col("sh_b.hi"))) + F.bit_count(
        F.col("sh_a.lo").bitwiseXOR(F.col("sh_b.lo"))
    )
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Rolling-hash fingerprint (word-level polynomial, mod 2^31 — stays in int64)
# ---------------------------------------------------------------------------


def fingerprint_col(text):
    toks = F.filter(F.split(text, " "), lambda t: t != "")
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * 31 + F.pmod(F.xxhash64(t), F.lit(1 << 31)), F.lit(1 << 31)),
    )


def fingerprint_py(text: str) -> int:
    """Pure-python oracle twin of fingerprint_col (pytest-locked)."""
    from storm_focused_crawler_spark import spec

    acc = 0
    for t in (x for x in text.split(" ") if x):
        acc = (acc * 31 + (spec.xxh64(t) % (1 << 31))) % (1 << 31)
    return acc


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep min-id row per identical text; one hash-agg shuffle."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies")
    ).select("keeper_id", "n_copies")


# ---------------------------------------------------------------------------
# Embedding near-dup: banded hyperplane-LSH candidates + exact-cosine verify
# ---------------------------------------------------------------------------

EMB_BANDS = 16
EMB_PLANES_PER_BAND = 3
EMB_SEED = 42


def lsh_geometry(threshold: float, target_recall: float = 0.99,
                 max_bands: int = 64) -> tuple[int, int]:
    """Derive (n_bands, planes_per_band) from the cosine threshold.

    Hyperplane-LSH collision probability for a pair at cosine t is
    p = 1 − acos(t)/π per plane; a pair collides in ≥1 of b bands of r
    planes w.p. 1 − (1 − p^r)^b.  For each r, the minimal band count
    meeting *target_recall* is b(r) = ⌈ln(1−target)/ln(1−p^r)⌉, and the
    expected candidate fraction for UNRELATED pairs is ~b·2^−r (balanced
    buckets).  Pick the r that minimizes that fraction subject to
    b(r) ≤ max_bands — at production thresholds (≥0.8) this prunes hard
    (e.g. t=0.8 → ~(44, 10), ~4% candidate fraction); at loose
    thresholds LSH fundamentally can't prune much and the derivation
    says so honestly (t=0.4 → ~(44, 5), ~1.4).
    """
    import math

    if not 0.0 <= threshold < 1.0:
        raise ValueError(f"threshold must be in [0, 1): {threshold}")
    p = 1.0 - math.acos(threshold) / math.pi
    best: tuple[float, int, int] | None = None
    for r in range(1, 21):
        pr = p**r
        if pr >= 1.0:
            b = 1
        else:
            b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pr))
        if b > max_bands:
            continue
        cost = b * 2.0**-r
        if best is None or cost < best[0]:
            best = (cost, b, r)
    assert best is not None  # r=1 always feasible for max_bands >= 1... guarded below
    return best[1], best[2]


def embedding_band_buckets_udf(dim: int, n_bands: int, planes_per_band: int,
                               seed: int = EMB_SEED):
    """Arrow-batched numpy: embedding → array of n_bands LSH bucket ids.

    All bands' hyperplanes are one (n_bands·planes, dim) matrix — a pure
    function of (seed, dim, bands, planes), regenerated identically on
    every executor, applied as ONE matmul per Arrow batch (no per-row
    Python, BASELINE.json input_hint)."""

    @F.pandas_udf("array<int>")
    def buckets(emb: pd.Series) -> pd.Series:
        planes = np.random.RandomState(seed).standard_normal(
            (n_bands * planes_per_band, dim)
        )
        m = np.vstack(emb.to_numpy()).astype(np.float64)
        signs = (m @ planes.T) > 0  # (batch, n_bands·planes)
        w = (1 << np.arange(planes_per_band)).astype(np.int64)
        sig = signs.reshape(len(m), n_bands, planes_per_band) @ w
        return pd.Series(list(sig.astype(np.int32)))

    return buckets


def embedding_near_pairs(
    emb: DataFrame, threshold: float, id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int = 64,
    n_bands: int | None = None, planes_per_band: int | None = None,
) -> DataFrame:
    """Near-dup embedding pairs: (id_a, id_b, cos) with cos ≥ threshold.

    Candidate generation is a banded random-hyperplane LSH self-join —
    two ids are candidates iff they share a bucket in ANY band — and
    every candidate is verified with the exact element-order cosine, so
    the only approximation is banding recall.  The round-1 plan was an
    unbounded all-pairs ``a.join(b, id_a < id_b)`` theta-join (O(N²) at
    any scale); here the joins are equi-joins on (band, bucket) and on
    id — plan-asserted cross-product-free.

    Recall discipline: candidates are probabilistically complete (a
    cos-t pair collides in ≥1 of B bands w.p. 1-(1-p^r)^B,
    p = 1-θ/π).  When n_bands/planes_per_band are not given, the
    geometry is DERIVED from the threshold by lsh_geometry() to meet
    0.99 recall at the minimum expected candidate fraction — at
    production near-dup thresholds (≥0.8) that is an actual prune
    (~(44, 10), ~4% of pairs), not the 2N² the loose 8-bucket bands
    yield.  The explicit (16 bands × 3 planes, seed 42) setting used by
    the registered fixture op is pytest-locked pair-for-pair IDENTICAL
    to the all-pairs plan on both fixture scales
    (tests/test_pipeline_ops.py) — deterministic planes + deterministic
    data make that a reproducible fact, not a probability.
    """
    if n_bands is None or planes_per_band is None:
        d_bands, d_planes = lsh_geometry(threshold)
        n_bands = n_bands if n_bands is not None else d_bands
        planes_per_band = planes_per_band if planes_per_band is not None else d_planes
    e = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("v"))
    bk = e.select(
        "_id",
        embedding_band_buckets_udf(dim, n_bands, planes_per_band)(F.col("v")).alias("bkts"),
    )
    cand = _band_pairs(bk.select("_id", F.posexplode("bkts").alias("band", "bh")))
    # exact verify with norms precomputed ONCE per vector (not per pair):
    # identical doubles to computing them inline — same elements, same
    # fold order — but 3× less higher-order-function work on the pair
    # stream, which dominates verify cost
    def _dot(x, y):
        return F.aggregate(F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda s, z: s + z)

    en = e.select(
        "_id", F.col("v").cast("array<double>").alias("vd")
    ).select("_id", "vd", F.sqrt(_dot(F.col("vd"), F.col("vd"))).alias("nrm"))
    va = en.select(F.col("_id").alias("id_a"), F.col("vd").alias("va"), F.col("nrm").alias("na"))
    vb = en.select(F.col("_id").alias("id_b"), F.col("vd").alias("vb"), F.col("nrm").alias("nb"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(cos >= threshold)
        .select("id_a", "id_b", F.round(cos, 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# cluster resolution — near-dup pairs → connected components → keeper
# ---------------------------------------------------------------------------


def cluster_keepers(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iters: int = 30
) -> DataFrame:
    """(doc_id, keeper_id) for every doc in any pair: keeper = the MIN
    doc id of its connected component — the last step of a real dedup
    pipeline (pairs say who matches; the cluster says which single copy
    to keep and which rows to drop).

    Min-label propagation WITH pointer jumping: each iteration every
    node takes the min over (its own label, its neighbors' labels, its
    label's label) — the neighbor step moves information one edge, the
    pointer-jump step (lab(u) := lab(lab(u)), classic parallel-CC path
    doubling) halves chain depth, so convergence is O(log diameter)
    rounds, not O(diameter): a 10^6-long chain resolves in ~20 rounds.
    Per round: two equi-joins + one hash aggregate, state materialized
    and lineage truncated per step (same discipline as graph.pagerank),
    fixpoint detected by the LABEL-SUM invariant — labels are int64 ids
    that can only DECREASE under the min fold over a fixed node set, so
    sum(lab) (in decimal(38,0): no overflow at any node count) is
    strictly decreasing until the fixpoint and equal exactly there.
    That lets ONE job per iteration both materialize the new state
    (lazy localCheckpoint) and compute the fixpoint probe, instead of
    the r5 shape's two (eager checkpoint + a join-based changed-count).
    All label math is int64 MIN — order- and partitioning-independent,
    so the result is exact and partition-invariant (tested), and DuckDB
    can reproduce it with a recursive CTE (the registered oracle).
    """
    e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    edges = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .transform(checkpoint, eager=True)
    )
    # each round references lab FOUR times (self + neighbor join +
    # pointer jump's two sides + the fixpoint probe), so a persist-only
    # "cut" leaves a logical plan that grows ~4^k — analysis time, not
    # execution, becomes the bottleneck by round ~6.  localCheckpoint
    # truncates the PLAN itself (as graph.pagerank does).  On a
    # cluster, executor loss invalidates local checkpoints — a restart
    # of this (single-job, minutes-long) resolution re-runs it; swap in
    # reliable checkpoint(dir) if that tradeoff is wrong for a caller.
    lab = (
        edges.select("u").distinct().select("u", F.col("u").alias("lab"))
        .transform(checkpoint, eager=True)
    )
    prev_sum = object()  # sentinel: never equal to a sum value
    for _ in range(max_iters):
        nb = edges.join(lab.select(F.col("u").alias("v"), "lab"), "v").select("u", "lab")
        jump = lab.join(
            lab.select(F.col("u").alias("lab"), F.col("lab").alias("lab2")), "lab"
        ).select("u", F.col("lab2").alias("lab"))
        new = (
            lab.unionByName(nb)
            .unionByName(jump)
            .groupBy("u")
            .agg(F.min("lab").alias("lab"))
            # LAZY checkpoint: the sum action below materializes it —
            # one job per iteration instead of eager-checkpoint + count
            .transform(checkpoint)
        )
        s = new.agg(F.sum(F.col("lab").cast("decimal(38,0)")).alias("s")).collect()[0]["s"]
        lab = new
        if s == prev_sum:
            break
        prev_sum = s
    # edges and every round's lab stay materialized until the caller's
    # session.scope() closes; the returned frame reads the last lab
    return lab.select(F.col("u").alias("doc_id"), F.col("lab").alias("keeper_id"))


def exact_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better" — public spec): per doc, the merged
    token spans covered by any `window`-token run that occurs >= 2
    times anywhere in the corpus (including same-doc repeats).  Returns
    (id, start_tok, end_tok, n_dup_windows), 1-based inclusive.

    The paper uses a suffix array; the relational equivalent is
    fixed-granularity window matching, in three scale-shaped phases:

    1. SLIM candidate pass: every window ships only (xxhash64, id, i)
       through the shuffle — 24-byte rows, never the window text (a
       naive groupBy(window_text) would amplify 100 TB of text ~W×).
    2. Text verification for CANDIDATES ONLY: flagged (id, i) pairs
       re-derive their window text by re-slicing the doc's token array
       (join by id — each doc's array meets only its own flagged rows;
       the flagged side is dup-sized and broadcasts, so the corpus
       arrays stay local — plan-verified; if flagged ever outgrows
       broadcast the fallback shuffle ships the corpus ONCE, still
       never W×), then an analytic count over the candidate subset
       keeps windows whose TEXT truly repeats — hash collisions die
       here, so the result is exact, not probabilistic.  That count
       partitions by candidate window text: dup-sized rows, not
       corpus-sized.
    3. Gaps-and-islands span merge per doc (running-max window), one
       partition-by-id window over dup-sized data.
    """
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col), F.split(text_col, " ").alias("w")
    ).filter(F.size("w") >= window)
    wins = toks.select(
        id_col,
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {window} + 1),"
                f" i -> struct(i AS i,"
                f" xxhash64(concat_ws(' ', slice(w, i, {window}))) AS h))"
            )
        ).alias("s"),
    ).select(id_col, F.col("s.i").alias("i"), F.col("s.h").alias("h"))
    cand = wins.groupBy("h").agg(F.count("*").alias("c")).filter(F.col("c") >= 2)
    flagged = wins.join(cand.select("h"), "h").select(id_col, "i")
    # re-derive the window text for candidates only (id-keyed join: a
    # doc's token array meets just its own flagged windows)
    rederived = flagged.join(toks, id_col).select(
        id_col, "i",
        F.expr(f"concat_ws(' ', slice(w, i, {window}))").alias("wtext"),
    )
    cw = F.count("*").over(W.partitionBy("wtext"))
    verified = (
        rederived.withColumn("cw", cw)
        .filter(F.col("cw") >= 2)
        .select(id_col, "i", (F.col("i") + window - 1).alias("e"))
    )
    prev = W.partitionBy(id_col).orderBy("i").rowsBetween(W.unboundedPreceding, -1)
    brk = F.when(F.max("e").over(prev) >= F.col("i") - 1, F.lit(0)).otherwise(F.lit(1))
    isl = verified.withColumn("brk", brk).withColumn(
        "island", F.sum("brk").over(W.partitionBy(id_col).orderBy("i"))
    )
    return (
        isl.groupBy(id_col, "island")
        .agg(
            F.min("i").cast("long").alias("start_tok"),
            F.max("e").cast("long").alias("end_tok"),
            F.count("*").alias("n_dup_windows"),
        )
        .drop("island")
    )


def exact_substring_scrub(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove the duplicated spans found by exact_substring_spans from
    each doc's text.  NOTE (ADVICE r05 #2): exact_substring_spans flags
    EVERY occurrence of a >=2x window, so this scrub removes ALL copies
    of duplicated content — including the first — which is stricter
    than Lee et al. 2021's keep-one-copy removal.  Content whose every
    occurrence lies inside flagged spans disappears from the corpus
    entirely; callers wanting keep-one semantics must exclude one
    occurrence per window text (min by (doc_id, start_tok)) from the
    spans before scrubbing.  Docs with no flagged span pass through
    unchanged.

    100 TB shape: spans collect to ONE array per flagged doc (dup-sized
    hash agg), join back by id (no text through that shuffle — the doc
    side keeps its text local to the join's probe side), and the token
    drop is a per-row JVM filter over positions."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("_spans")
    )
    w = F.split(F.col(text_col), " ")
    kept = F.filter(
        F.transform(w, lambda t, i: F.struct(t.alias("t"), (i + 1).alias("i"))),
        lambda s: ~F.exists(
            F.col("_spans"),
            lambda sp: (s["i"] >= sp["start_tok"]) & (s["i"] <= sp["end_tok"]),
        ),
    )
    out = df.join(per_doc, id_col, "left")
    return out.withColumn(
        text_col,
        F.when(F.col("_spans").isNull(), F.col(text_col)).otherwise(
            F.concat_ws(" ", F.transform(kept, lambda s: s["t"]))
        ),
    ).drop("_spans")
