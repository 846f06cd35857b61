"""Embedded structured-data extraction: JSON-LD + HTML microdata.

Web pipelines mine schema.org metadata (article dates, authors,
products, breadcrumbs) for provenance and quality signals before any
body-text work. This operator surfaces both carrier syntaxes into ONE
flat row shape so downstream joins/aggregations never branch on the
source syntax:

    (key_cols…, src, block_idx, item_idx, item_type, prop, value,
     ref_item)

- ``src`` — ``jsonld`` or ``microdata``.
- JSON-LD (``<script type="application/ld+json">`` blocks, found via
  the SAME DOM kernel as the HTML path — the script body is a rawtext
  child, html.cpp:745-788 semantics): ``block_idx`` numbers the
  successfully-parsed script blocks in document order (a skipped
  malformed block leaves no gap), ``item_idx`` the items within a
  block (a bare object is one item; a top-level array or an
  ``@graph`` array is many). Properties flatten depth-first with
  dotted paths (``author.name``); array elements of scalars emit one
  row each under the SAME prop (multiplicity preserved); ``@context``
  is dropped, ``@type`` becomes ``item_type`` (first element when a
  list). Scalars stringify as JSON does: strings verbatim, ``true``/
  ``false``, numbers via ``json.dumps``; ``null`` → NULL value.
  Blocks that fail ``json.loads`` are skipped (malformed embedded
  JSON is routine on the web; the block contributes no rows).
- Microdata (``itemscope``/``itemprop``/``itemtype`` attributes):
  ``block_idx`` is NULL, ``item_idx`` numbers itemscope nodes in
  document order. Property values follow the WHATWG microdata value
  rules for the common carriers: ``meta``→content, ``a``/``link``/
  ``area``→href, ``img``/``audio``/``video``/``source``/``embed``/
  ``iframe``→src, ``time``→datetime (else text), ``data``/``meter``→
  value (else text), anything else → element text (raw, stripped).
  A space-separated ``itemprop`` list emits one row per name. A
  nested ``itemscope`` that is itself a property emits a reference
  row: value NULL, ``ref_item`` = the nested item's ``item_idx``
  (the nested item's own properties get their own rows under its
  index). Descent stops at nested itemscope boundaries, so a
  property never leaks into the wrong item.

Spark surface ``structured_data`` is a map-only Arrow stage over
(passthrough cols, html) — no shuffle at any corpus size, same
pipeline position as pagemeta.
"""

from __future__ import annotations

import json
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
)

from ..htmldom.constants import KIND_TAG
from ..htmldom.parse import parse
from ..htmldom.serialize import to_text
from ..kernel import row_explode

__all__ = ["parse_structured", "structured_data"]

Row = Tuple[str, Optional[int], int, Optional[str], str,
            Optional[str], Optional[int]]

_SRC_ATTRS = {"img": "src", "audio": "src", "video": "src",
              "source": "src", "embed": "src", "iframe": "src"}
_HREF_TAGS = ("a", "link", "area")


def _scalar(v) -> Optional[str]:
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v
    return json.dumps(v)


def _flatten_jsonld(obj: dict, block: int, item: int,
                    rows: List[Row], prefix: str = "") -> None:
    for k, v in obj.items():
        if k in ("@context", "@type"):
            continue
        prop = prefix + k
        if isinstance(v, dict):
            _flatten_jsonld(v, block, item, rows, prop + ".")
        elif isinstance(v, list):
            for el in v:
                if isinstance(el, dict):
                    _flatten_jsonld(el, block, item, rows, prop + ".")
                else:
                    rows.append(("jsonld", block, item, None, prop,
                                 _scalar(el), None))
        else:
            rows.append(("jsonld", block, item, None, prop,
                         _scalar(v), None))


def _jsonld_items(payload) -> List[dict]:
    if isinstance(payload, list):
        return [o for o in payload if isinstance(o, dict)]
    if isinstance(payload, dict):
        g = payload.get("@graph")
        if isinstance(g, list):
            return [o for o in g if isinstance(o, dict)]
        return [payload]
    return []


def _item_type(obj: dict) -> Optional[str]:
    t = obj.get("@type")
    if isinstance(t, list):
        t = t[0] if t else None
    return t if isinstance(t, str) else None


def _micro_value(doc, nid: int):
    """(value, is_text) per the WHATWG value rules subset above."""
    t, a = doc.tag[nid], doc.attrs[nid] or {}
    if t == "meta":
        return a.get("content"), False
    if t in _HREF_TAGS:
        return a.get("href"), False
    if t in _SRC_ATTRS:
        return a.get(_SRC_ATTRS[t]), False
    if t == "time" and a.get("datetime") is not None:
        return a["datetime"], False
    if t in ("data", "meter") and a.get("value") is not None:
        return a["value"], False
    return to_text(doc, raw=True, node_id=nid).strip(), True


def parse_structured(text: str) -> List[Row]:
    """All structured-data rows of one document, JSON-LD blocks
    first (document order), then microdata items (document order)."""
    doc = parse(text)
    rows: List[Row] = []

    block = 0
    for nid in range(len(doc)):
        if doc.kind[nid] != KIND_TAG or doc.tag[nid] != "script":
            continue
        a = doc.attrs[nid] or {}
        if (a.get("type") or "").strip().lower() != \
                "application/ld+json":
            continue
        body = to_text(doc, raw=True, node_id=nid)
        try:
            payload = json.loads(body)
        except (ValueError, RecursionError):
            continue
        items = _jsonld_items(payload)
        for i, obj in enumerate(items):
            n0 = len(rows)
            _flatten_jsonld(obj, block, i, rows)
            t = _item_type(obj)
            rows[n0:] = [(s, b, it, t, p, v, r)
                         for s, b, it, _, p, v, r in rows[n0:]]
        if items:
            block += 1

    item_ids = [nid for nid in range(len(doc))
                if doc.kind[nid] == KIND_TAG
                and "itemscope" in (doc.attrs[nid] or {})]
    idx_of = {nid: i for i, nid in enumerate(item_ids)}
    for nid in item_ids:
        item = idx_of[nid]
        itype = (doc.attrs[nid] or {}).get("itemtype")
        stack = list(reversed(doc.children[nid]))
        while stack:
            c = stack.pop()
            if doc.kind[c] != KIND_TAG:
                continue
            a = doc.attrs[c] or {}
            nested = "itemscope" in a
            props = (a.get("itemprop") or "").split()
            for p in props:
                if nested:
                    rows.append(("microdata", None, item, itype, p,
                                 None, idx_of[c]))
                else:
                    v, _ = _micro_value(doc, c)
                    rows.append(("microdata", None, item, itype, p,
                                 v, None))
            if not nested:
                stack.extend(reversed(doc.children[c]))
    return rows


_STRUCT_FIELDS = [
    StructField("src", StringType(), False),
    StructField("block_idx", IntegerType(), True),
    StructField("item_idx", IntegerType(), False),
    StructField("item_type", StringType(), True),
    StructField("prop", StringType(), False),
    StructField("value", StringType(), True),
    StructField("ref_item", IntegerType(), True),
]


def structured_data(df: DataFrame, text_col: str = "text",
                    key_cols: Tuple[str, ...] = ("doc_id",)
                    ) -> DataFrame:
    """One row per structured-data property: (key_cols…, src,
    block_idx, item_idx, item_type, prop, value, ref_item). Map-only
    Arrow stage; NULL bodies and documents without structured data
    contribute no rows."""
    keys = [f.name for f in df.schema.fields if f.name in key_cols]
    return row_explode(df, keys, [text_col], _STRUCT_FIELDS, parse_structured)
