"""Unit tests for the pure-function spec (SURVEY.md §2.1 / §5.2-3)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from storm_focused_crawler_spark import spec

GOLDEN_CANON = [
    ("HTTPS://H001.Example-COM:443/a/b/../c?b=2&a=1#frag", "https://h001.example-com/a/c?a=1&b=2"),
    ("http://x.com:80/", "http://x.com/"),
    ("http://x.com", "http://x.com/"),
    ("http://x.com/a/./b/", "http://x.com/a/b/"),
    ("http://x.com/%7Euser/%2fpath", "http://x.com/~user/%2Fpath"),
    ("http://x.com/a?", "http://x.com/a"),
    ("http://x.com:8080/a", "http://x.com:8080/a"),
    ("http://x.com/a/b/c/../../d", "http://x.com/a/d"),
    ("https://X.com/?z=1&y=2&z=0", "https://x.com/?y=2&z=0&z=1"),
    ("not a url", "not a url"),
]


@pytest.mark.parametrize("raw,want", GOLDEN_CANON)
def test_canon_golden(raw, want):
    assert spec.canon(raw) == want


@pytest.mark.parametrize("raw,_", GOLDEN_CANON)
def test_canon_idempotent(raw, _):
    c = spec.canon(raw)
    assert spec.canon(c) == c


@given(st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126), max_size=60))
@settings(max_examples=200, deadline=None)
def test_canon_idempotent_property(s):
    u = "http://host.example/" + s
    c = spec.canon(u)
    assert spec.canon(c) == c


def test_xxh64_reference_vectors():
    # public xxHash reference vectors, seed 0
    assert spec.xxh64(b"", 0) % (1 << 64) == 0xEF46DB3751D8E999
    assert spec.xxh64(b"a", 0) % (1 << 64) == 0xD24EC4F1A98C6E5B


def test_xxh64_matches_spark(spark):
    """Lock the pure-python twin to Spark's F.xxhash64 (seed=42)."""
    from pyspark.sql import functions as F

    urls = [
        "",
        "a",
        "https://h001.example-com/a/c?a=1&b=2",
        "x" * 7,
        "y" * 8,
        "z" * 31,
        "w" * 32,
        "v" * 33,
        "long-url-" * 20,
        "üñïçødé-ürl",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r["url"]: r["h"] for r in df.select("url", F.xxhash64("url").alias("h")).collect()}
    for u in urls:
        assert got[u] == spec.xxh64(u), u



def _fuzz_urls(n: int, seed: int) -> list[str]:
    """Seeded URL mix: scheme/host case, default and other ports, %
    escapes, dot segments, queries and fragments, plus canonical ones."""
    import random

    rnd = random.Random(seed)
    segs = ["a", "B", "d1.2", ".", "..", "%7e", "%7E", "%2f", "%41", "%zz", "~x",
            "ünï", "", "x y", "%", "a.b.", ".hidden"]
    out = []
    for _ in range(n):
        scheme = rnd.choice(["http", "https", "HTTP", "Https", "ftp"])
        host = "".join(
            c.upper() if rnd.random() < 0.15 else c
            for c in rnd.choice(["h1.example-com", "x.com", "sub.host.ex", "w"])
        )
        port = rnd.choice(["", "", "", ":80", ":443", ":8080", ":"])
        path = "".join("/" + rnd.choice(segs) for _ in range(rnd.randint(0, 4)))
        if rnd.random() < 0.5:
            path = path or "/"
        query = ""
        if rnd.random() < 0.2:
            params = [f"{rnd.choice('zyxa')}={rnd.choice(['1', '%2a', '', 'b%41'])}"
                      for _ in range(rnd.randint(0, 3))]
            query = "?" + "&".join(params)
        frag = "#f" if rnd.random() < 0.1 else ""
        out.append(f"{scheme}://{host}{port}{path}{query}{frag}")
    return out


def test_canonicalize_udf_matches_spec(spark):
    """The Arrow UDF (RE2 fast path + per-element fallback) returns
    exactly spec.canon for every row, null for null — on a mixed fuzz
    set, whitespace/unicode edge cases, and all-fast / all-slow batches."""
    from storm_focused_crawler_spark.functions.udfs import canonicalize_udf

    edge = [None, "", "\v", "http://x.com/a\vb", "http://x.com/a\u00a0b",
            "http://x.com/a\u00a0", "http://x.com/a\n", "http://X.com/a\n",
            "http://x.com/\u00fcn\u00ef/\u00e7\u00f8d\u00e9", "http://x.com/\u3000/..",
            "http://x.com/a b", "http://x.com/a\tb/./c"]
    mixed = [raw for raw, _ in GOLDEN_CANON] + _fuzz_urls(12_000, seed=7) + edge
    all_fast = [f"https://h{i % 97}.example-com/p/{i}/d{i % 7}.2" for i in range(3000)]
    all_slow = [f"HTTP://H{i % 97}.ex:80/a/../p{i}?b=2&a=1" for i in range(3000)]
    for urls in (mixed, all_fast, all_slow):
        df = spark.createDataFrame(list(enumerate(urls)), "id long, u string")
        got = dict(df.select("id", canonicalize_udf("u").alias("c")).collect())
        for i, u in enumerate(urls):
            assert got[i] == (None if u is None else spec.canon(u)), repr(u)
    # the two single-kind batches really are single-kind
    assert all(spec.canon(u) == u for u in all_fast)
    assert all(spec.canon(u) != u for u in all_slow)

def test_html_roundtrip_byte_identical():
    texts = [
        "plain words here",
        'with <tags> & "quotes" and \'apostrophes\'',
        "unicode ünïcode — em-dash",
        "",
        "&amp; pre-escaped looking &lt;thing&gt;",
    ]
    links = ["https://a.com/x", "http://b.org/y?q=1"]
    for i, t in enumerate(texts):
        h = spec.render_html(t, i, links)
        assert spec.extract_text(h) == t
        assert spec.extract_links(h) == links


@given(st.text(max_size=300), st.integers(min_value=0, max_value=10**6))
@settings(max_examples=200, deadline=None)
def test_html_roundtrip_property(t, doc_id):
    h = spec.render_html(t, doc_id, [])
    assert spec.extract_text(h) == t


def test_score_golden():
    kw = ["spark", "join", "window"]
    assert spec.relevance_score("spark join the window window", kw) == round(3 / (6 ** 0.5), 6)
    assert spec.relevance_score("", kw) == 0.0
    assert spec.relevance_score("nothing matches here", kw) == 0.0


def test_tokenize():
    assert spec.tokenize("Spark-SQL, 2nd join!") == ["spark", "sql", "2nd", "join"]
