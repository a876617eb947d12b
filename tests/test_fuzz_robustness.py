"""Hypothesis fuzz: the document-at-a-time functions must be total —
deterministic, character-preserving, and crash-free on arbitrary input
(a 10^12-page crawl WILL contain every byte sequence)."""

import gzip
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from coap_rfc_knowledge_graph_spark.functions.mp4 import build_mp4
from coap_rfc_knowledge_graph_spark.functions.pdf_text import PDFDocument
from coap_rfc_knowledge_graph_spark.functions.text_extract import (
    extract_web_sentences,
    sent_tokenize,
    strip_html,
)
from coap_rfc_knowledge_graph_spark.operators import html_extract, multimodal, robots, sitemap


@given(st.text(max_size=400))
@settings(max_examples=200, deadline=None)
def test_sent_tokenize_preserves_non_space_chars(text):
    """Splitting only cuts at whitespace runs: the concatenation of all
    sentences equals the input minus inter-sentence whitespace — no
    characters invented, dropped, or reordered."""
    sentences = sent_tokenize(text)
    joined = "".join("".join(s.split()) for s in sentences)
    assert joined == "".join(text.split())
    assert sentences == sent_tokenize(text)  # deterministic


@given(st.text(max_size=300))
@settings(max_examples=100, deadline=None)
def test_web_sentence_path_total(text):
    out = extract_web_sentences(text)
    for s in out:
        assert s == s.strip() and s != ""
        assert any(c.isalpha() for c in s)


@given(st.binary(max_size=300))
@settings(max_examples=100, deadline=None)
def test_strip_html_total(data):
    assert isinstance(strip_html(data), str)


@given(st.binary(max_size=600))
@settings(max_examples=150, deadline=None)
def test_pdf_parser_never_crashes_unexpectedly(data):
    """Arbitrary bytes (with or without a %PDF magic prefix) must yield
    either a parsed page list or ValueError — never a hang or an
    unhandled internal exception."""
    for payload in (data, b"%PDF-1.4\n" + data):
        try:
            doc = PDFDocument(payload)
            doc.pages()
        except ValueError:
            pass


_URLSET = (
    b'<?xml version="1.0"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
    b"<url><loc>https://a.example/x</loc><priority>0.8</priority></url>"
    b"<url><loc>https://a.example/y</loc><changefreq>daily</changefreq></url></urlset>"
)
_URLSET_GZ = gzip.compress(_URLSET, mtime=0)


@given(
    st.one_of(
        st.binary(max_size=600),
        # the gzip branch: a gzip magic prefix on random bytes, and
        # every truncation of a real gzipped urlset
        st.binary(max_size=600).map(lambda b: b"\x1f\x8b" + b),
        st.integers(0, len(_URLSET_GZ) - 1).map(lambda n: _URLSET_GZ[:n]),
    )
)
@settings(max_examples=200, deadline=None)
def test_sitemap_parser_total(data):
    """parse_sitemap_text never raises on arbitrary bytes (crawled
    sitemaps are routinely malformed, truncated, gzip-damaged, or not
    XML at all); every emitted row has a non-empty loc and a valid
    kind."""
    from coap_rfc_knowledge_graph_spark.operators.sitemap import parse_sitemap_text

    for kind, loc, lastmod, changefreq, prio in parse_sitemap_text(data):
        assert kind in ("url", "sitemap") and loc
        assert prio is None or 0 <= prio <= 1000


@given(st.text(max_size=500))
@settings(max_examples=200, deadline=None)
def test_robots_directive_parsers_total(text):
    """Both robots directive parsers are total over arbitrary text
    and agree on group semantics (shared iterator)."""
    from coap_rfc_knowledge_graph_spark.operators.robots import (
        parse_crawl_delay_text,
        parse_robots_text,
    )

    for allow, prefix in parse_robots_text(text):
        assert isinstance(allow, bool) and prefix
    d = parse_crawl_delay_text(text)
    assert d is None or d >= 0


@given(st.binary(max_size=400))
@settings(max_examples=100, deadline=None)
def test_media_hash_scaffold_skips_garbage(data):
    """image/audio hash extraction treats undecodable bytes as absent
    rows, never a raised task — the pure decode path must swallow any
    payload shape."""
    from coap_rfc_knowledge_graph_spark.operators.multimodal import (
        decode_backend,
        sniff_mime,
    )

    mime = sniff_mime(data)
    if mime.startswith(("image/", "audio/")):
        try:
            decode_backend(data, mime)
        except Exception:
            pass  # any exception class is fine — the scaffold catches all


_ROBOTS = (
    b"User-agent: *\nDisallow: /private\nAllow: /private/ok\nCrawl-delay: 2.5\n"
    b"Sitemap: https://a.example/sitemap.xml\n"
)
_HTML = (
    b'<html lang="en"><head><title>Spec</title><link rel="canonical" href="/canon#x">'
    b"</head><body><nav><a href='/home'>home</a></nav>"
    b"<p>The server sends a reply to every confirmable request it receives.</p>"
    b'<p>See <a href="https://b.example/doc">the other document</a> for details.</p></body></html>'
)
_BAD_UTF8 = b"\xff\xfe\x80User-agent: *\nDisallow: /\xc3\x28\n<p>\x80\x81 text</p>"
# a moov > trak > mdia > mdhd chain whose mdhd ends the payload, so the
# full-box version byte lies past the end (32 bytes)
_MP4_32 = b"".join(
    struct.pack(">I4s", size, box)
    for size, box in ((32, b"moov"), (24, b"trak"), (16, b"mdia"), (8, b"mdhd"))
)
# moov boxes nested 1,200 deep: deeper than the interpreter's recursion limit
_MOOV_NEST = b"".join(struct.pack(">I4s", 8 * (1200 - d), b"moov") for d in range(1200))
# a gzip header followed by a deflate block of the reserved type
_CORRUPT_GZ = b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\xff" + b"\xff" * 20

_HTML_BAD = [None, _BAD_UTF8]
_ROBOTS_BAD = [None, _BAD_UTF8, b"\x00" * 64]
# name -> (operator, input schema (key, payload), good payload, corrupt payloads)
_CORRUPT_CASES = {
    "video_metadata": (
        multimodal.video_metadata,
        "media_id bigint, payload binary",
        build_mp4(duration_ms=2000, video=(16, 8, 4), audio_samples=3),
        [_MP4_32, _MOOV_NEST, None, b"\x00\x00\x00garbage"],
    ),
    "image_hashes": (
        multimodal.image_hashes,
        "media_id bigint, payload binary",
        multimodal.encode_png((np.arange(48, dtype=np.uint8) * 5).reshape(4, 12)),
        [multimodal.encode_png(np.zeros((4, 12), np.uint8))[:30], None],
    ),
    "parse_sitemaps": (
        sitemap.parse_sitemaps,
        "host string, payload binary",
        _URLSET_GZ,
        [_URLSET_GZ[:-12], _CORRUPT_GZ, None, _BAD_UTF8],
    ),
    "parse_robots": (robots.parse_robots, "host string, payload binary", _ROBOTS, _ROBOTS_BAD),
    "parse_crawl_delays": (
        robots.parse_crawl_delays, "host string, payload binary", _ROBOTS, _ROBOTS_BAD
    ),
    "fill_text_from_html": (
        lambda pages: html_extract.fill_text_from_html(
            pages.withColumn("text", F.lit(None).cast("string"))
        ),
        "url string, html binary",
        _HTML,
        _HTML_BAD,
    ),
    "main_content": (html_extract.main_content, "url string, html binary", _HTML, _HTML_BAD),
    "html_links": (html_extract.html_links, "url string, html binary", _HTML, _HTML_BAD),
    "html_head_meta": (html_extract.html_head_meta, "url string, html binary", _HTML, _HTML_BAD),
}


@pytest.mark.parametrize("name", sorted(_CORRUPT_CASES))
def test_corrupt_payload_costs_only_its_own_rows(spark, name):
    """One Arrow batch mixing a good row with corrupt ones: the task
    succeeds and the good row's output equals its output alone. Every
    operator's first output column is its input key."""
    op, schema, good, corrupt = _CORRUPT_CASES[name]

    def key(i):
        return i if schema.startswith("media_id") else f"https://k{i}.example/"

    rows = [(key(i + 1), payload) for i, payload in enumerate(corrupt)]
    rows.insert(1, (key(0), good))
    mixed = spark.createDataFrame(rows, schema).coalesce(1)
    alone = spark.createDataFrame([(key(0), good)], schema)
    want = sorted(tuple(r) for r in op(alone).collect())
    got = sorted(tuple(r) for r in op(mixed).collect() if r[0] == key(0))
    assert want and got == want
