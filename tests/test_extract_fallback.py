"""Robust extract_text fallback (VERDICT r01 'What's missing' #1):
pages WITHOUT an <article> element must still extract boilerplate-
stripped text, byte-identical across the pure spec function and the
JVM codegen twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from storm_focused_crawler_spark import spec
from storm_focused_crawler_spark.functions.udfs import extract_text_col

CASES = [
    # (html, expected extracted text)
    (
        '<!DOCTYPE html><html><head><title>T</title>'
        "<script>var x=1; if (x<2) { alert('</div>'); }</script>"
        "<style>p { color: red }</style></head>"
        "<body><h1>Header</h1><p>Hello &amp; goodbye</p>"
        "<div>multi\nline \t  text</div></body></html>",
        "T Header Hello & goodbye multi line text",
    ),
    (
        "<html><body><p>plain &lt;tag&gt; &quot;quoted&quot;</p></body></html>",
        'plain <tag> "quoted"',
    ),
    ("<html><body></body></html>", ""),
    ("no tags at all", "no tags at all"),
    ("   \n\t  ", ""),
    (
        # SCRIPT uppercase + attributes; style with newlines
        '<SCRIPT type="text/javascript">bad()</SCRIPT><p>kept</p>'
        "<style\n media='all'>x{}</style>done",
        "kept done",
    ),
    (
        # article present wins over fallback; chrome ignored
        "<header>chrome</header><article>the payload &amp; more</article>"
        "<footer>chrome</footer>",
        "the payload & more",
    ),
    (
        # empty article is NOT the fallback trigger (match exists)
        "<div>chrome</div><article></article>",
        "",
    ),
]


@pytest.mark.parametrize("html,want", CASES)
def test_spec_fallback_golden(html, want):
    assert spec.extract_text(html.encode("utf-8")) == want


def test_all_three_twins_byte_identical(spark):
    df = spark.createDataFrame(
        [(i, html.encode("utf-8")) for i, (html, _) in enumerate(CASES)],
        "i int, html binary",
    )
    rows = df.select(
        "i",
        "html",
        extract_text_col(F.col("html")).alias("jvm"),
    ).collect()
    for r in rows:
        want = CASES[r["i"]][1]
        assert r["jvm"] == want, f"jvm twin case {r['i']}: {r['jvm']!r}"
        assert r["jvm"] == spec.extract_text(r["html"]), f"spec twin case {r['i']}"


def test_synthetic_corpus_unchanged(spark, sf_dir):
    """The fallback must not perturb the parity contract: every
    synthetic page still extracts exactly its payload text."""
    from storm_focused_crawler_spark.fixtures import gen_pages

    paths = gen_pages.ensure(sf_dir)
    pages = spark.read.parquet(paths["pages"])
    bad = (
        pages.withColumn("x", extract_text_col(F.col("html")))
        .filter(F.col("x") != F.col("text"))
        .count()
    )
    assert bad == 0
