"""Deterministic crawl semantics — the single written spec (SURVEY.md §2.1).

These pure functions ARE the parity contract.  The reference repo
(``socialsensor/storm-focused-crawler``) was empty on disk in this
sandbox (SURVEY.md §0), so "identical to the reference" is defined as:
the Spark engine and the sequential oracle both implement *this file's*
semantics, and pytest proves they agree (crawl ordering, URL-seen set,
byte-identical extracted text per URL — BASELINE.json input_hint).

Reference counterparts (reconstructed, SURVEY.md §0 tag [R]):
  canon()          ~ URLExpanderBolt canonicalization
  xxh64()          ~ 64-bit URL hashing for the Redis seen-set
  relevance_score()~ RankerBolt topic-classifier scoring
  extract_text()   ~ ArticleExtractionBolt (boilerpipe)
  extract_links()  ~ link discovery in ArticleExtractionBolt

No Spark imports here — this module must be importable by the
sequential oracle and the fixture generator without a JVM.
"""

from __future__ import annotations

import html as _html
import math
import re
from collections.abc import Iterable

# --------------------------------------------------------------------------
# §2.1-2  xxHash64 (pure-python twin of Spark's F.xxhash64, seed=42)
# --------------------------------------------------------------------------
# Public-domain algorithm by Yann Collet (xxHash spec); byte-for-byte
# agreement with org.apache.spark.sql.catalyst.expressions.XxHash64 is
# locked by tests/test_spec.py::test_xxh64_matches_spark.

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = 0xFFFFFFFFFFFFFFFF

DEFAULT_SEED = 42  # Spark's default seed for xxhash64()


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def xxh64(data: bytes | str, seed: int = DEFAULT_SEED) -> int:
    """xxHash64 of *data*, returned as a SIGNED 64-bit int (Spark LongType)."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= _round(0, v)
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = _round(0, int.from_bytes(data[i : i + 8], "little"))
        h ^= k
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return (h + (1 << 63)) % (1 << 64) - (1 << 63)  # two's-complement signed


# --------------------------------------------------------------------------
# §2.1-1  URL canonicalization
# --------------------------------------------------------------------------
# lowercase scheme+host; strip default port; resolve ./..; strip fragment;
# drop trailing '?'; percent-decode unreserved / uppercase-hex reserved;
# sort query params bytewise by "key=value"; empty path -> '/'.
# Idempotent: canon(canon(u)) == canon(u).

_URL_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$")
_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_HEX = set("0123456789abcdefABCDEF")
_DEFAULT_PORT = {"http": "80", "https": "443"}


def _pnorm(s: str) -> str:
    """Normalize percent-escapes: decode unreserved bytes, uppercase the rest."""
    if "%" not in s:
        return s
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%" and i + 2 < n and s[i + 1] in _HEX and s[i + 2] in _HEX:
            b = int(s[i + 1 : i + 3], 16)
            ch = chr(b)
            if ch in _UNRESERVED:
                out.append(ch)
            else:
                out.append("%" + s[i + 1 : i + 3].upper())
            i += 3
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4."""
    if "." not in path:
        return path
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
                if not out:
                    out = [""]
            continue
        out.append(seg)
    # preserve leading slash; a trailing '.'/'..' segment leaves a trailing '/'
    if path.endswith(("/.", "/..")):
        out.append("")
    res = "/".join(out)
    if path.startswith("/") and not res.startswith("/"):
        res = "/" + res
    return res


def canon(url: str) -> str:
    """Canonical URL form per SURVEY.md §2.1-1.  Total: unparseable in, same out."""
    m = _URL_RE.match(url)
    if not m:
        return url
    scheme, netloc, path, query = m.group(1), m.group(2), m.group(3), m.group(4)
    scheme = scheme.lower()
    # host[:port] — lowercase host, strip default port
    if ":" in netloc:
        host, _, port = netloc.rpartition(":")
        if port.isdigit():
            host = host.lower()
            if port == _DEFAULT_PORT.get(scheme, ""):
                netloc = host
            else:
                netloc = f"{host}:{port}"
        else:
            netloc = netloc.lower()
    else:
        netloc = netloc.lower()
    path = _remove_dot_segments(_pnorm(path))
    if path == "":
        path = "/"
    q = ""
    if query:
        params = [p for p in query.split("&") if p]
        params = [_pnorm(p) for p in params]
        params.sort(key=lambda p: p.encode("utf-8"))
        q = "&".join(params)
    return f"{scheme}://{netloc}{path}" + (f"?{q}" if q else "")


# --------------------------------------------------------------------------
# §2.1-4  Relevance score (stand-in for the reference topic classifier)
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"[^a-z0-9]+")


def tokenize(text: str) -> list[str]:
    return [t for t in _TOKEN_RE.split(text.lower()) if t]


def relevance_score(text: str, keywords: Iterable[str]) -> float:
    """|tokens ∩ keywords| / sqrt(1+|tokens|), float64, round half-even to 6.

    The Spark twin computes the identical expression JVM-side
    (array_intersect + bround); IEEE-754 double ops are correctly
    rounded in both, so values match bit-for-bit.
    """
    toks = tokenize(text)
    matched = len(set(toks) & set(keywords))
    return round(matched / math.sqrt(1.0 + len(toks)), 6)


# --------------------------------------------------------------------------
# §2.1-6  HTML render / extract (byte-identical round trip)
# --------------------------------------------------------------------------
# The corpus generator embeds the payload text into deterministic
# boilerplate chrome; extract_text() must return *exactly* the payload
# (BASELINE.json: "byte-identical extracted text per url").  Escaping
# guarantees the payload cannot contain '<', so the <article> element
# bounds are unambiguous.

_N_CHROME = 7  # boilerplate variants, keyed by doc_id % _N_CHROME

_ARTICLE_RE = re.compile(r"(?s)<article>(.*?)</article>")
_HREF_RE = re.compile(r'<a href="([^"]*)"')


def render_html(text: str, doc_id: int, links: list[str], lang: str = "en") -> bytes:
    """Deterministic page HTML: payload text wrapped in boilerplate chrome."""
    chrome = doc_id % _N_CHROME
    esc = _html.escape(text, quote=True)
    nav = "".join(
        f'<li><a href="{_html.escape(u, quote=True)}">link {i}</a></li>'
        for i, u in enumerate(links)
    )
    page = (
        "<!DOCTYPE html>\n"
        f'<html lang="{lang}">\n'
        f"<head><title>doc {doc_id}</title>\n"
        f"<script>var chromeId={chrome};(function(){{var t={chrome * 17};}})();</script>\n"
        f"<style>.nav{{color:#{chrome:02d}{chrome:02d}{chrome:02d}}}</style>\n"
        "</head>\n<body>\n"
        f'<header class="nav">site chrome variant {chrome} — boilerplate, not content</header>\n'
        f"<article>{esc}</article>\n"
        f'<ul class="links">{nav}</ul>\n'
        f"<footer>footer chrome {chrome} | generated deterministically | seed=42</footer>\n"
        "</body></html>"
    )
    return page.encode("utf-8")


def extract_text(html_bytes: bytes) -> str:
    """Boilerplate-stripping extraction: payload text, byte-identical.

    Pure function shared verbatim between corpus synthesis, the Spark
    engine (its JVM regexp twin, locked by tests) and the
    sequential oracle.

    Primary path: pages with an ``<article>`` element (the synthetic
    corpus and article-shaped real pages) yield exactly the element's
    unescaped payload.  Fallback (real-web pages without ``<article>``
    — the reference ran boilerpipe's ArticleExtractor here [R]): strip
    script/style blocks, strip all tags, unescape entities, collapse
    whitespace.  Round 1 returned "" for every such page.
    """
    s = html_bytes.decode("utf-8", errors="replace")
    m = _ARTICLE_RE.search(s)
    if not m:
        return _fallback_extract(s)
    return _unescape(m.group(1))


# fallback regexes: character classes are spelled out (no \s) so the
# Java regex twin in functions/udfs.py matches byte-for-byte — Python's
# \s is unicode-wide, Java's is ASCII-only
_SCRIPT_STYLE_RE = re.compile(r"(?is)<(script|style)\b.*?</\1>")
_TAG_RE = re.compile(r"(?s)<[^>]*>")
_WS_RE = re.compile(r"[ \t\n\r\f\x0b]+")


def _fallback_extract(s: str) -> str:
    s = _SCRIPT_STYLE_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    s = _unescape(s)
    return _WS_RE.sub(" ", s).strip(" ")


def _unescape(s: str) -> str:
    # inverse of html.escape(text, quote=True); &amp; must be LAST
    return (
        s.replace("&lt;", "<")
        .replace("&gt;", ">")
        .replace("&quot;", '"')
        .replace("&#x27;", "'")
        .replace("&amp;", "&")
    )


def extract_links(html_bytes: bytes | str) -> list[str]:
    """Outlink hrefs in document order, http(s) only (not yet canonicalized)."""
    s = html_bytes.decode("utf-8", errors="replace") if isinstance(html_bytes, bytes) else html_bytes
    return [u for u in _HREF_RE.findall(s) if u.startswith(("http://", "https://"))]


# --------------------------------------------------------------------------
# §2.1-7  Host authority: integer-deterministic PageRank
# --------------------------------------------------------------------------
# The reference's RankerBolt fed crawl ordering from a page scorer; the
# engine optionally blends host-level link authority into the dequeue
# priority (CrawlConfig.host_rank_weight).  To keep the blended ordering
# bit-identical between the Spark plan and the sequential oracle under
# ANY partitioning, ranks are INTEGER micro-units (parts of PAGERANK_SCALE)
# with integer-division contributions — order-independent sums, unlike
# double accumulation.  operators/graph.pagerank is the distributed twin.

PAGERANK_SCALE = 10**9  # rank micro-units; all arithmetic stays in int64
PAGERANK_DAMP_NUM, PAGERANK_DAMP_DEN = 85, 100  # damping 0.85 as a ratio


def pagerank_py(edge_list: list[tuple[str, str]], iters: int = 10) -> dict[str, int]:
    """Pure-python integer PageRank: node -> rank micro-units.

    Bit-identical to operators/graph.pagerank (pytest-locked in
    tests/test_graph.py); multi-edges count per occurrence, dangling
    mass spreads uniformly, floor losses are deterministic."""
    nodes = sorted({s for s, _ in edge_list} | {d for _, d in edge_list})
    n = len(nodes)
    deg: dict[str, int] = {}
    for s, _ in edge_list:
        deg[s] = deg.get(s, 0) + 1
    rank = {v: PAGERANK_SCALE // n for v in nodes}
    base = (PAGERANK_SCALE * (PAGERANK_DAMP_DEN - PAGERANK_DAMP_NUM)) // (
        PAGERANK_DAMP_DEN * n
    )
    for _ in range(iters):
        dang = sum(r for v, r in rank.items() if v not in deg)
        s: dict[str, int] = {v: 0 for v in nodes}
        for src, dst in edge_list:
            s[dst] += rank[src] // deg[src]
        rank = {
            v: base + (PAGERANK_DAMP_NUM * (s[v] + dang // n)) // PAGERANK_DAMP_DEN
            for v in nodes
        }
    return rank


def blended_priority(score: float, rank_i: int, weight: float) -> float:
    """§2.1-7 dequeue priority: round6(score + w · rank_i/SCALE).

    The exact expression (same operation order) runs JVM-side in the
    engine; IEEE-754 doubles + half-even rounding make the two
    bit-identical.  rank_i = 0 for hosts absent from the graph."""
    return round(score + weight * (rank_i / float(PAGERANK_SCALE)), 6)
