"""Focused locks for the r06 optimization internals.

Each optimization that changed an operator's internals gets a direct
behavioural lock here, independent of the broader oracle compares:
  * PPJoin positional filter (dedup_ngram_jaccard, dedup.jaccard_pairs)
    — losslessness on a crafted corpus whose true pair's only shared
    prefix element sits exactly at the positional bound; the exact
    verify's threshold rule (unrounded ratio ≥ t);
  * cluster_keepers label-sum fixpoint — convergence on a long chain
    (the worst case for the fixpoint probe) equals naive CC;
  * pagerank folded dangling mass — bit-identical to pagerank_py on a
    graph WITH dangling nodes (the branch the broadcast fold replaced).
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F


def _naive_jaccard_pairs(docs, t=0.3, n=3):
    """All-pairs exact jaccard over word 3-gram shingle sets."""
    def sh(text):
        w = [x for x in text.split(" ") if x]
        return set(
            " ".join(w[i : i + n]) for i in range(len(w) - n + 1)
        ) if len(w) >= n else set()

    out = []
    for (ia, ta), (ib, tb) in itertools.combinations(sorted(docs.items()), 2):
        sa, sb = sh(ta), sh(tb)
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        denom = len(sa) + len(sb) - inter
        if denom and inter / denom >= t:
            out.append((ia, ib, round(inter / denom, 6)))
    return sorted(out)


def test_ppjoin_positional_filter_lossless(spark, tmp_path):
    """Boundary-heavy corpus: near-threshold pairs, identical docs, a
    pair whose overlap is exactly the alpha bound, plus unrelated docs
    sharing one rare shingle (the candidates the positional filter
    exists to kill).  Engine == naive all-pairs."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = {
        1: base,
        2: base,                                   # identical pair
        3: base + " lambda mu",                    # high-overlap pair
        4: "alpha beta gamma nu xi omicron pi rho sigma tau",  # partial
        5: "unrelated words entirely different from the others here now",
        6: "unrelated words entirely French toast with maple syrup today",
        7: "one shared alpha beta gamma rest is completely disjoint text",
        8: "zz yy xx ww vv uu tt ss rr qq",          # no overlap at all
    }
    pdf = spark.createDataFrame(
        [(k, v) for k, v in docs.items()], "doc_id long, text string"
    )
    d = tmp_path / "documents.parquet"
    pdf.coalesce(1).write.mode("overwrite").parquet(str(d))
    # the registry op reads <sf_dir>/documents.parquet
    from storm_focused_crawler_spark.plans.pipeline_ops import dedup_ngram_jaccard

    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    )
    assert got == _naive_jaccard_pairs(docs), got
    assert got, "fixture vacuous: no qualifying pair"


# the boundary corpus of test_ppjoin_positional_filter_lossless, plus a
# document too short to have a shingle
_JACCARD_DOCS = {
    1: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    2: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    3: "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
    4: "alpha beta gamma nu xi omicron pi rho sigma tau",
    5: "unrelated words entirely different from the others here now",
    6: "unrelated words entirely French toast with maple syrup today",
    7: "one shared alpha beta gamma rest is completely disjoint text",
    8: "zz yy xx ww vv uu tt ss rr qq",
    9: "alpha  beta",  # 2 tokens: no shingle, never in a pair
}


@pytest.mark.parametrize("t", [0.3, 0.5])
def test_jaccard_pairs_operator_equals_naive(spark, t):
    """dedup.jaccard_pairs called directly, on caller-named columns:
    exactly the naive all-pairs result at either threshold."""
    from storm_focused_crawler_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(list(_JACCARD_DOCS.items()), "id long, body string")
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_pairs(df, "id", "body", t).collect()
    )
    assert got == _naive_jaccard_pairs(_JACCARD_DOCS, t)
    assert got, "fixture vacuous: no qualifying pair"


def test_verify_pairs_compares_unrounded_jaccard(spark):
    """Sets of 9 and 7 shingles sharing 7: jaccard 7/9 = 0.7777...78.
    Just above it the pair is dropped (rounding to 6 places first would
    keep it as 0.777778); at exactly 7/9 it is kept, reported rounded."""
    from storm_focused_crawler_spark.operators.dedup import _verify_pairs

    sh = [f"s{i}" for i in range(9)]
    sh_tab = spark.createDataFrame([(1, sh), (2, sh[:7])], "_id long, sh array<string>")
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    assert _verify_pairs(cand, sh_tab, 0.7777779).collect() == []
    got = [tuple(r) for r in _verify_pairs(cand, sh_tab, 7 / 9).collect()]
    assert got == [(1, 2, 0.777778)]


def test_cluster_keepers_chain_fixpoint(spark):
    """A 40-node chain: the label-sum fixpoint must run to full
    convergence (min label reaches the far end via pointer jumping),
    not stop early — every node's keeper is the chain minimum."""
    from storm_focused_crawler_spark.operators.dedup import cluster_keepers

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["keeper_id"] for r in cluster_keepers(pairs).collect()}
    assert got == {i: 1 for i in range(1, 41)}


def test_cluster_keepers_two_components_and_empty(spark):
    from storm_focused_crawler_spark.operators.dedup import cluster_keepers

    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (100, 200)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["keeper_id"] for r in cluster_keepers(pairs).collect()}
    assert got == {10: 10, 20: 10, 30: 10, 100: 100, 200: 100}
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert cluster_keepers(empty).count() == 0


def test_pagerank_dangling_fold_matches_python_twin(spark):
    """Graph with dangling nodes (d has no out-edges): the broadcast
    1-row dangling-mass fold must reproduce the python twin's integer
    ranks exactly, including the `dang // n` floor division."""
    from storm_focused_crawler_spark.operators.graph import pagerank
    from storm_focused_crawler_spark.sources.session import scope
    from storm_focused_crawler_spark.spec import pagerank_py

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("b", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    with scope():
        got = {r["node"]: r["rank_i"] for r in pagerank(df, iters=7).collect()}
    want = pagerank_py(edges, iters=7)
    assert got == want
