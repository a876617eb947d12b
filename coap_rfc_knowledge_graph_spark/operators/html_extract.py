"""Main-content extraction from the ``html`` binary column (jusText-lite).

The north-rule input table carries raw page bytes (``html: binary``);
``functions.text_extract.strip_html`` is the minimal regex fallback the
extraction dispatcher uses, but a curation pipeline needs real
block-level boilerplate removal: navigation, footers, and link farms
are the single largest contamination source in crawled training data.

This module implements the public jusText/Readability family's core
heuristic with only the stdlib ``html.parser``:

1. parse the page into TEXT BLOCKS at block-level tag boundaries,
   dropping script/style/noscript/template/head subtrees entirely;
2. per block, measure length in words and the fraction of those words
   inside ``<a>`` (link density);
3. keep blocks with at least ``min_words`` words and link density at
   most ``max_link_density`` — short and link-dense blocks are
   boilerplate (nav bars, cookie banners, share buttons).

Scale shape: one column-pruned ``mapInPandas`` over (url, html) — a
narrow projection, zero shuffle at any corpus size; the parse is
streaming and single-pass per page (HTMLParser is an event parser, no
DOM is materialized). Bytes decode as UTF-8 with replacement — a crawl
column has no reliable charset, and a hard failure on one page must
never kill a task. Malformed markup is tolerated by construction
(HTMLParser never raises on bad nesting).
"""

from __future__ import annotations

from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.rows import map_rows

# subtrees whose text is never content
_SKIP_TAGS = {"script", "style", "noscript", "template", "head", "svg", "iframe"}
# tags that open/close a text block
_BLOCK_TAGS = {
    "p", "div", "section", "article", "main", "aside", "header", "footer",
    "nav", "li", "ul", "ol", "dl", "dt", "dd", "table", "tr", "td", "th",
    "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre", "figure",
    "figcaption", "form", "fieldset", "hr", "br", "title", "body",
}
# (void elements like <br>/<hr> need no special skip-depth handling:
# none of them is a skip tag, so an unmatched start tag can only flush
# a block, never unbalance the skip counter)


class _BlockParser(HTMLParser):
    """Streaming block segmenter. Blocks are (tag, words, link_words)
    where words is the ordered word list and link_words how many of
    them were inside an <a> subtree."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, list[str], int]] = []
        self._words: list[str] = []
        self._link_words = 0
        self._tag = "body"
        self._skip = 0
        self._a_depth = 0

    def _flush(self, next_tag: str) -> None:
        if self._words:
            self.blocks.append((self._tag, self._words, self._link_words))
        self._words = []
        self._link_words = 0
        self._tag = next_tag

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip += 1
            return
        if self._skip:
            return  # an unclosed <a> in a skipped subtree must not leak a_depth
        if tag == "a":
            self._a_depth += 1
        if tag in _BLOCK_TAGS:
            self._flush(tag)

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
            return
        if self._skip:
            return
        if tag == "a":
            self._a_depth = max(0, self._a_depth - 1)
        if tag in _BLOCK_TAGS:
            self._flush(self._tag)

    def handle_data(self, data: str) -> None:
        if self._skip:
            return
        ws = data.split()
        if not ws:
            return
        self._words.extend(ws)
        if self._a_depth:
            self._link_words += len(ws)

    def close(self) -> None:  # final implicit block
        super().close()
        self._flush("body")


def parse_blocks(html: bytes | str | None) -> list[tuple[str, str, int, int]]:
    """One page -> [(tag, text, n_words, link_words)]. Pure function
    (no Spark) so tests and the oracle-side reference can call it."""
    if html is None:
        return []
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    p = _BlockParser()
    try:
        p.feed(html)
        p.close()
    except Exception:
        # event parsers are robust, but a pathological page must cost
        # us that page, never the task
        return []
    return [(tag, " ".join(w), len(w), lw) for tag, w, lw in p.blocks]


def keep_block(n_words: int, link_words: int, min_words: int, max_link_density: float) -> bool:
    """THE boilerplate gate — one definition shared by the distributed
    pass and tests: enough words, low enough link density."""
    return n_words >= min_words and link_words <= n_words * max_link_density


def extract_main_text(
    html: bytes | str | None, min_words: int, max_link_density: float
) -> tuple[str, int, int]:
    """One page -> (main text, blocks kept, blocks total). THE single
    parse-gate-join composition — main_content and fill_text_from_html
    must not diverge on the separator or the gate."""
    blocks = parse_blocks(html)
    kept = [t for _, t, nw, lw in blocks if keep_block(nw, lw, min_words, max_link_density)]
    return "\n".join(kept), len(kept), len(blocks)


MAIN_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_blocks_kept", T.IntegerType()),
        T.StructField("n_blocks_total", T.IntegerType()),
    ]
)


def main_content(
    pages: DataFrame,
    min_words: int = 5,
    max_link_density: float = 0.4,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """pages -> (url, text, n_blocks_kept, n_blocks_total): the
    boilerplate-stripped page text, surviving blocks joined with
    newlines in document order. A page's blocks never leave the row
    that produced them, so the whole pass is ONE narrow mapInPandas —
    no groupBy/shuffle of corpus-sized text at any scale (an earlier
    draft re-assembled via groupBy(url); pointless — the page is
    already co-located with itself)."""

    def page_main(url, html):
        yield (url, *extract_main_text(html, min_words, max_link_density))

    return map_rows(pages, [url_col, html_col], MAIN_SCHEMA, page_main)


class _LinkParser(HTMLParser):
    """Streaming hyperlink extractor: (href, anchor text) per <a>,
    script/style/head subtrees skipped, nested <a> tolerated (HTML
    forbids it but crawls contain it — inner link wins, outer closes)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[tuple[str, str]] = []
        self._skip = 0
        self._href: str | None = None
        self._words: list[str] = []

    def _close_link(self) -> None:
        if self._href is not None:
            self.links.append((self._href, " ".join(self._words)))
        self._href, self._words = None, []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip += 1
            return
        if self._skip:
            return  # <a> inside a skipped subtree is not a page link
        if tag == "a":
            if self._href is not None:
                self._close_link()
            href = next((v for k, v in attrs if k == "href"), None)
            self._href = href.strip() if href else None

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
            return
        if self._skip:
            return
        if tag == "a":
            self._close_link()

    def handle_data(self, data: str) -> None:
        if not self._skip and self._href is not None:
            self._words.extend(data.split())

    def close(self) -> None:
        super().close()
        self._close_link()


def parse_links(html: bytes | str | None) -> list[tuple[str, str]]:
    """One page -> [(raw href, anchor text)]. Pure function."""
    if html is None:
        return []
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    p = _LinkParser()
    try:
        p.feed(html)
        p.close()
    except Exception:
        return []
    return p.links


EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType()),
        T.StructField("dst", T.StringType()),
        T.StructField("anchor", T.StringType()),
    ]
)


def html_links(pages: DataFrame, url_col: str = "url", html_col: str = "html") -> DataFrame:
    """pages -> the REAL hyperlink graph: (src, dst, anchor) edges with
    hrefs resolved against the page url (urljoin), fragments dropped,
    http(s) only. Column-pruned mapInPandas — the web-graph input the
    ``webgraph`` operators (PageRank, degrees, components) consume at
    scale; dedup/weight downstream with a groupBy, which shuffles only
    (url, url, anchor) triples, never page bytes."""
    from urllib.parse import urldefrag, urljoin

    def page_links(url, html):
        for href, anchor in parse_links(html):
            try:
                dst = urldefrag(urljoin(url or "", href)).url
            except ValueError:
                continue  # pathological href (bad IPv6 bracket etc.)
            if dst.startswith(("http://", "https://")):
                yield url, dst, anchor

    return map_rows(pages, [url_col, html_col], EDGES_SCHEMA, page_links)


def anchor_text_stats(edges: DataFrame, k_anchors: int = 5) -> DataFrame:
    """Edge table -> per-target anchor-text profile: (dst, n_links,
    n_anchors, top_anchors) — the classic anchor-pretraining /
    retrieval signal (what the web calls this page). Two hash
    aggregations + a skew-safe two-level per-dst top-k (ties broken
    lexicographically, so output is deterministic). A plain per-dst
    window would sort a HEAD target's distinct anchors in one task —
    a page the whole web links to accumulates a corpus-scale anchor
    vocabulary, so the cut uses ``ranking.two_level_topk_per_key``
    (exactly equal, tie-breaks included)."""
    from ..functions.ranking import two_level_topk_per_key

    # counts has two consumers (top-k + stats agg); truncate lineage
    # so the upstream edge derivation — e.g. a per-page HTML parse
    # when fed by html_links — evaluates once, not twice.
    counts = (
        edges.groupBy("dst", "anchor")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    order = [F.desc("cnt"), F.asc("anchor")]
    # already cut to k_anchors per dst (rk is the within-key rank)
    ranked = two_level_topk_per_key(counts, ["dst"], order, k_anchors, rank_col="rk")
    top = (
        ranked.groupBy("dst")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rk", "anchor"))), lambda s: s["anchor"]
                ),
            ).alias("top_anchors")
        )
    )
    stats = counts.groupBy("dst").agg(
        F.sum("cnt").alias("n_links"), F.count("*").alias("n_anchors")
    )
    return stats.join(top, on="dst")


def fill_text_from_html(
    pages: DataFrame,
    min_words: int = 5,
    max_link_density: float = 0.4,
) -> DataFrame:
    """pages (full north-rule schema) -> same schema with NULL ``text``
    filled from ``html`` via the boilerplate gate (rows that already
    carry text pass through untouched — extraction must not second-
    guess an upstream extractor). Single mapInPandas over the existing
    row — NOT a join of ``main_content`` back onto pages, which would
    shuffle the whole corpus text on url for what is a per-row fill."""
    cols = pages.columns

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            need = out["text"].isna() & out["html"].notna()
            out.loc[need, "text"] = [
                extract_main_text(h, min_words, max_link_density)[0]
                for h in out.loc[need, "html"]
            ]
            yield out

    return pages.mapInPandas(fn, pages.schema).select(cols)


def synthetic_html_pages(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic (url, html) pages from a text corpus: each doc's
    text wrapped in a realistic page skeleton with the boilerplate the
    extractor must strip — head+script+style, a link-farm nav, a cookie
    banner, a footer. Pure Catalyst (concat + encode), so the corpus
    fans out without a UDF; used by tests and the driver contract (the
    parquet test tables carry no html column)."""
    nav = (
        '<nav><ul><li><a href="/">Home</a></li><li><a href="/a">News</a></li>'
        '<li><a href="/b">Shop</a></li><li><a href="/c">Contact us</a></li></ul></nav>'
    )
    head = (
        "<head><title>Page</title><style>body{color:red}</style>"
        '<script>var tracking = "beacon &amp; pixel";</script></head>'
    )
    banner = '<div class="cookie">Accept <a href="#">cookies</a>?</div>'
    footer = '<footer><a href="/tos">Terms</a> <a href="/privacy">Privacy</a> &copy; 2026</footer>'
    page = F.concat(
        F.lit(f"<html>{head}<body>{nav}{banner}<article><p>"),
        F.regexp_replace(F.col(text_col), r"\n\n+", "</p><p>"),
        F.lit(f"</p></article>{footer}</body></html>"),
    )
    return docs.select(
        F.concat(F.lit("https://synth.example/"), F.col(id_col).cast("string")).alias("url"),
        F.encode(page, "UTF-8").alias("html"),
    )


class _HeadParser(HTMLParser):
    """Head/metadata extractor: first <title> text, first
    <link rel="canonical" href>, og:url / og:title properties, meta
    description, and the <html lang> attribute. First occurrence wins
    throughout (crawled pages duplicate tags; browsers honor the
    first). Scans the whole document — crawls put og tags in the body
    too — but never collects visible text, so it stays cheap."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.title: str | None = None
        self.canonical: str | None = None
        self.og_url: str | None = None
        self.og_title: str | None = None
        self.description: str | None = None
        self.html_lang: str | None = None
        self._in_title = False

    def handle_starttag(self, tag: str, attrs) -> None:
        a = dict(attrs)
        if tag == "html" and self.html_lang is None and a.get("lang"):
            self.html_lang = a["lang"].strip().lower()
        elif tag == "title":
            self._in_title = self.title is None
            if self._in_title:
                self.title = ""
        elif tag == "link":
            if (
                self.canonical is None
                and (a.get("rel") or "").strip().lower() == "canonical"
                and a.get("href")
            ):
                self.canonical = a["href"].strip()
        elif tag == "meta":
            prop = (a.get("property") or a.get("name") or "").strip().lower()
            content = a.get("content")
            if content is None:
                return
            if prop == "og:url" and self.og_url is None:
                self.og_url = content.strip()
            elif prop == "og:title" and self.og_title is None:
                self.og_title = content.strip()
            elif prop == "description" and self.description is None:
                self.description = content.strip()

    def handle_endtag(self, tag: str) -> None:
        if tag == "title":
            self._in_title = False

    def handle_data(self, data: str) -> None:
        if self._in_title:
            self.title = ((self.title or "") + data).strip()


def parse_head_meta(html: bytes | str | None) -> dict:
    """One page -> head-metadata dict. Pure function."""
    empty = {"title": None, "canonical": None, "og_url": None,
             "og_title": None, "description": None, "html_lang": None}
    if html is None:
        return empty
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    p = _HeadParser()
    try:
        p.feed(html)
        p.close()
    except Exception:
        return empty
    return {"title": p.title or None, "canonical": p.canonical,
            "og_url": p.og_url, "og_title": p.og_title,
            "description": p.description, "html_lang": p.html_lang}


HEAD_META_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("canonical_url", T.StringType()),
        T.StructField("og_url", T.StringType()),
        T.StructField("og_title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("html_lang", T.StringType()),
    ]
)


def html_head_meta(pages: DataFrame, url_col: str = "url", html_col: str = "html") -> DataFrame:
    """pages -> per-page head metadata: (url, title, canonical_url,
    og_url, og_title, description, html_lang), with rel=canonical
    resolved against the page url (urljoin, fragments dropped, non-
    http(s) results nulled) — the signal that collapses syndicated /
    parameterized duplicates BEFORE any content hashing: group by
    ``coalesce(canonical_url, url)`` and feed ``webtext.
    latest_snapshot``. Column-pruned mapInPandas, one streaming parse
    per page, no visible-text collection."""
    from urllib.parse import urldefrag, urljoin

    def page_meta(url, html):
        m = parse_head_meta(html)
        canon = None
        if m["canonical"]:
            try:
                canon = urldefrag(urljoin(url or "", m["canonical"])).url
            except ValueError:
                canon = None
            if canon and not canon.startswith(("http://", "https://")):
                canon = None
        yield (url, m["title"], canon, m["og_url"], m["og_title"],
               m["description"], m["html_lang"])

    return map_rows(pages, [url_col, html_col], HEAD_META_SCHEMA, page_meta)
