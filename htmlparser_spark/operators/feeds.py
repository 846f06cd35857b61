"""RSS 2.0 / Atom feed parsing through the shared DOM kernel.

The discovery-side sibling of robots.py's sitemap parser: crawl
pipelines enumerate fresh URLs from feeds the same way they do from
sitemaps, so ``feed_entries`` has the identical Spark shape — a
map-only Arrow stage (no shuffle at any corpus size) emitting one row
per entry, keyed by caller-chosen passthrough columns.

Parsed with the SAME kernel as the HTML path (htmldom/parse.py), so
the two HTML-parser-on-XML quirks are pinned rather than hidden:

- tag names are lowercased at tokenize time (``<pubDate>`` →
  ``pubdate``) — field lookup uses the lowercased names;
- ``<link>`` is an HTML void element, so RSS's ``<link>URL</link>``
  does NOT nest: the URL text becomes the next SIBLING of the empty
  ``link`` node and the stray ``</link>`` is dropped. The parser
  reads the RSS link from that following text sibling. Atom's
  ``<link href="..."/>`` is attribute-carried and unaffected.

Field normalization into one schema across both formats
(first-in-document-order wins, matching the reference's
first-matcher callback quirk):

| column      | RSS 2.0 ``<item>``     | Atom ``<entry>``                  |
|-------------|------------------------|-----------------------------------|
| title       | ``<title>``            | ``<title>``                       |
| url         | ``<link>`` (sibling)   | ``<link href>`` with rel absent   |
|             |                        | or ``alternate``                  |
| entry_id    | ``<guid>``             | ``<id>``                          |
| published   | ``<pubdate>``          | ``<published>`` else ``<updated>``|
| summary     | ``<description>``      | ``<summary>`` else ``<content>``  |

``feed_title`` is the channel/feed-level ``<title>`` (a DIRECT child
of ``<channel>``/``<feed>``, so entry titles never shadow it);
``fmt`` is ``rss`` or ``atom`` (first of ``rss``/``channel`` vs
``feed`` in node order decides). Entries with no title AND no url
are skipped (spec-less garbage); all other missing fields are NULL.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
)

from ..htmldom.constants import KIND_TAG, KIND_TEXT
from ..htmldom.parse import parse
from ..htmldom.serialize import to_text
from ..kernel import row_explode

__all__ = ["parse_feed", "feed_entries"]

FeedRow = Tuple[int, str, Optional[str], Optional[str], Optional[str],
                Optional[str], Optional[str], Optional[str]]

_RSS_FIELDS = ("title", "guid", "pubdate", "description")
_ATOM_FIELDS = ("title", "id", "published", "updated", "summary",
                "content")


def _node_text(doc, nid: int) -> str:
    return to_text(doc, raw=True, node_id=nid).strip()


def _entry_fields(doc, nid: int, names) -> dict:
    """First-wins direct-child tag → raw text map, plus the two link
    shapes: ``link_sibling`` (RSS: text node right after a ``link``
    child) and ``link_href`` (Atom: href attr of the first ``link``
    child with rel absent/alternate)."""
    fields: dict = {}
    kids = doc.children[nid]
    for i, c in enumerate(kids):
        if doc.kind[c] != KIND_TAG:
            continue
        t = doc.tag[c]
        if t == "link":
            a = doc.attrs[c] or {}
            href = a.get("href")
            rel = (a.get("rel") or "alternate").lower()
            if href and rel == "alternate" and "link_href" not in fields:
                fields["link_href"] = href.strip()
            if "link_sibling" not in fields:
                for s in kids[i + 1:]:
                    if doc.kind[s] == KIND_TEXT:
                        txt = _node_text(doc, s)
                        if txt:
                            fields["link_sibling"] = txt
                        break
                    if doc.kind[s] == KIND_TAG:
                        break
        elif t in names and t not in fields:
            fields[t] = _node_text(doc, c)
    return fields


def parse_feed(text: str) -> List[FeedRow]:
    """(entry_idx, fmt, feed_title, title, url, entry_id, published,
    summary) rows from one feed body. Empty list when the body is
    neither RSS nor Atom."""
    doc = parse(text)
    fmt = None
    container = entry_tag = None
    for nid in range(len(doc)):
        if doc.kind[nid] != KIND_TAG:
            continue
        t = doc.tag[nid]
        if t in ("rss", "channel"):
            fmt, entry_tag = "rss", "item"
            container = nid if t == "channel" else None
            if t == "channel":
                break
        elif t == "feed":
            fmt, container, entry_tag = "atom", nid, "entry"
            break
    if fmt is None:
        return []
    if container is None:  # <rss> with no <channel>: look again
        for nid in range(len(doc)):
            if doc.kind[nid] == KIND_TAG and doc.tag[nid] == "channel":
                container = nid
                break

    feed_title = None
    if container is not None:
        for c in doc.children[container]:
            if doc.kind[c] == KIND_TAG and doc.tag[c] == "title":
                feed_title = _node_text(doc, c)
                break

    rows: List[FeedRow] = []
    idx = 0
    for nid in range(len(doc)):
        if doc.kind[nid] != KIND_TAG or doc.tag[nid] != entry_tag:
            continue
        if fmt == "rss":
            f = _entry_fields(doc, nid, _RSS_FIELDS)
            url = f.get("link_sibling") or f.get("link_href")
            rec = (f.get("title"), url, f.get("guid"),
                   f.get("pubdate"), f.get("description"))
        else:
            f = _entry_fields(doc, nid, _ATOM_FIELDS)
            rec = (f.get("title"), f.get("link_href"), f.get("id"),
                   f.get("published") or f.get("updated"),
                   f.get("summary") or f.get("content"))
        if rec[0] is None and rec[1] is None:
            continue
        rows.append((idx, fmt, feed_title, *rec))
        idx += 1
    return rows


_FEED_FIELDS = [
    StructField("entry_idx", IntegerType(), False),
    StructField("fmt", StringType(), False),
    StructField("feed_title", StringType(), True),
    StructField("title", StringType(), True),
    StructField("url", StringType(), True),
    StructField("entry_id", StringType(), True),
    StructField("published", StringType(), True),
    StructField("summary", StringType(), True),
]


def feed_entries(df: DataFrame, text_col: str = "feed_xml",
                 key_cols: Tuple[str, ...] = ("host",)) -> DataFrame:
    """One row per feed entry: (key_cols…, entry_idx, fmt,
    feed_title, title, url, entry_id, published, summary). Map-only
    Arrow stage; NULL/non-feed bodies contribute no rows."""
    keys = [f.name for f in df.schema.fields if f.name in key_cols]
    return row_explode(df, keys, [text_col], _FEED_FIELDS, parse_feed)
