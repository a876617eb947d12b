"""Sitemap ingestion — the OTHER half of the crawl-politeness edge
next to :mod:`robots` (robots.txt says what may NOT be fetched;
sitemaps say what the site WANTS fetched, with freshness hints).

Not in the reference (its corpus is four hand-picked RFCs; see
SURVEY.md §2.6 extension list) — this is the web-deployment EXTENSION
that feeds the crawl frontier: parse per-host sitemap payloads
(sitemaps.org protocol: <urlset> of <url> entries, or a nested
<sitemapindex> of <sitemap> pointers) into a flat rows table

    (host, kind, loc, lastmod, changefreq, priority_millis)

- ``kind`` is 'url' for page entries and 'sitemap' for index pointers
  (the caller re-fetches those and feeds them back through this op).
- ``lastmod`` / ``changefreq`` are kept as the RAW strings the site
  published (W3C datetimes come in six shapes; parse at the consumer
  with ``to_timestamp`` so a malformed date loses one field, not the
  row).
- ``priority_millis`` is the 0.0-1.0 priority scaled to an exact
  BIGINT in [0, 1000] (floats don't cross-engine hash; a priority of
  '0.8' is exactly 800).

Scale shape: sitemap tables are host-keyed and bounded by the web's
site count (millions of rows, not trillions), so parsing is one
Arrow-batched ``mapInPandas`` over (host, payload) with NO shuffle at
all — stdlib XML handling, one pass per payload, gzip-sniffed
(sitemap.xml.gz is the protocol's own size escape hatch). Malformed
XML — rampant in crawled sitemaps — falls back to a tag-scanning
regex pass instead of dropping the file.
"""

from __future__ import annotations

import gzip
import re
import xml.etree.ElementTree as ET
import zlib
from html import unescape

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.rows import map_rows

SITEMAP_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("loc", T.StringType()),
        T.StructField("lastmod", T.StringType()),
        T.StructField("changefreq", T.StringType()),
        T.StructField("priority_millis", T.LongType()),
    ]
)

# entry tuple: (kind, loc, lastmod, changefreq, priority_millis)
_Entry = tuple[str, str, str | None, str | None, int | None]

_CHANGEFREQS = {"always", "hourly", "daily", "weekly", "monthly", "yearly", "never"}


def _priority_millis(raw: str | None) -> int | None:
    """'0.8' -> 800, clamped to [0, 1000]; junk -> None. Decimal string
    arithmetic (scale by shifting the digits), never float — '0.3'
    must be exactly 300 on every engine."""
    if raw is None:
        return None
    raw = raw.strip()
    m = re.fullmatch(r"(\d+)(?:\.(\d+))?", raw)
    if not m:
        return None
    whole, frac = m.group(1), (m.group(2) or "")
    millis = int(whole) * 1000 + int((frac + "000")[:3])
    return max(0, min(1000, millis))


def _localname(tag: str) -> str:
    """'{http://www.sitemaps.org/...}loc' -> 'loc'."""
    return tag.rsplit("}", 1)[-1].lower()


def _entries_from_tree(root: ET.Element) -> list[_Entry]:
    out: list[_Entry] = []
    for child in root:
        name = _localname(child.tag)
        if name not in ("url", "sitemap"):
            continue
        kind = "url" if name == "url" else "sitemap"
        loc = lastmod = changefreq = None
        priority = None
        # first occurrence wins for every field — matching the regex
        # fallback, so a malformation elsewhere in the file cannot flip
        # which value a duplicated field yields
        for field in child:
            fname = _localname(field.tag)
            text = (field.text or "").strip()
            if not text:
                continue
            if fname == "loc" and loc is None:
                loc = text
            elif fname == "lastmod" and lastmod is None:
                lastmod = text
            elif fname == "changefreq" and changefreq is None and text.lower() in _CHANGEFREQS:
                changefreq = text.lower()
            elif fname == "priority" and priority is None:
                priority = _priority_millis(text)
        if loc:
            # index pointers carry no changefreq/priority per the protocol
            if kind == "sitemap":
                changefreq, priority = None, None
            out.append((kind, loc, lastmod, changefreq, priority))
    return out


_BLOCK_RE = re.compile(
    r"<\s*(url|sitemap)\b[^>]*>(.*?)<\s*/\s*\1\s*>", re.IGNORECASE | re.DOTALL
)
_FIELD_RE = re.compile(
    r"<\s*(?:\w+:)?(loc|lastmod|changefreq|priority)\b[^>]*>(.*?)<\s*/\s*(?:\w+:)?\1\s*>",
    re.IGNORECASE | re.DOTALL,
)


def _entries_from_regex(text: str) -> list[_Entry]:
    """Fallback for malformed XML: scan <url>/<sitemap> blocks with a
    regex and unescape entities by hand. Tolerates unclosed parents,
    undeclared namespace prefixes, stray bytes between blocks."""
    out: list[_Entry] = []
    for m in _BLOCK_RE.finditer(text):
        kind = "url" if m.group(1).lower() == "url" else "sitemap"
        loc = lastmod = changefreq = None
        priority = None
        for fm in _FIELD_RE.finditer(m.group(2)):
            fname = fm.group(1).lower()
            val = unescape(fm.group(2).strip())
            if not val:
                continue
            if fname == "loc" and loc is None:
                loc = val
            elif fname == "lastmod" and lastmod is None:
                lastmod = val
            elif fname == "changefreq" and changefreq is None and val.lower() in _CHANGEFREQS:
                changefreq = val.lower()
            elif fname == "priority" and priority is None:
                priority = _priority_millis(val)
        if loc:
            if kind == "sitemap":
                changefreq, priority = None, None
            out.append((kind, loc, lastmod, changefreq, priority))
    return out


def parse_sitemap_text(payload: bytes | str) -> list[_Entry]:
    """One sitemap payload -> [(kind, loc, lastmod, changefreq,
    priority_millis)]. Pure function (no Spark) so tests and oracle
    builders can call it. Gzip-sniffed; bytes decode UTF-8 with
    replacement (crawled sitemaps are not reliably clean); malformed
    XML falls back to the regex scan rather than dropping the file."""
    if isinstance(payload, (bytes, bytearray)):
        data = bytes(payload)
        if data[:2] == b"\x1f\x8b":
            try:
                data = gzip.decompress(data)
            except (OSError, EOFError, zlib.error):
                return []  # truncated or corrupt gzip
        text = data.decode("utf-8", errors="replace")
    else:
        text = payload
    try:
        root = ET.fromstring(text)
        if _localname(root.tag) in ("urlset", "sitemapindex"):
            return _entries_from_tree(root)
        return _entries_from_regex(text)
    except ET.ParseError:
        return _entries_from_regex(text)


def parse_sitemaps(
    sitemaps: DataFrame, host_col: str = "host", payload_col: str = "payload"
) -> DataFrame:
    """(host, payload) sitemap files -> the flat SITEMAP_SCHEMA rows
    table. Arrow-batched ``mapInPandas``, zero shuffle; payload may be
    binary (possibly gzipped) or string. Rows with kind='sitemap' are
    index pointers — re-fetch and feed back through this op."""

    def host_entries(host, payload):
        if payload is None:
            return
        for entry in parse_sitemap_text(payload):
            yield (host, *entry)

    return map_rows(sitemaps, [host_col, payload_col], SITEMAP_SCHEMA, host_entries)
