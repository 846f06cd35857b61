"""Lib-free WARC/1.0 source — the Common Crawl container format.

A crawl-scale extraction engine has to ingest WARC: each file is a
sequence of records, each record = a header block
(``WARC/1.0\\r\\n`` + ``Name: value`` lines + blank line), an exact
``Content-Length`` payload, and a ``\\r\\n\\r\\n`` trailer. For
``response`` records the payload is an HTTP/1.1 message whose own
header block precedes the HTML body. Format reference: ISO 28500
(public); no external libs.

Scale shape:

- ``warc_records`` is one map-only Arrow stage over (file, blob)
  rows: record splitting is driven by the declared Content-Length
  (never by scanning for magic bytes inside payloads), so malformed
  payloads cannot desynchronize the parser — a record whose framing
  is broken quarantines the REST of that file into an error row
  rather than emitting garbage rows.
- Whole-file granularity mirrors Common Crawl reality: .warc.gz is
  non-splittable per member, and CC ships ~1 GB files — one task per
  file is the standard unit; parallelism comes from the file count
  (100 TB ≈ 10^5 files ≫ cores). Feed it via
  ``spark.read.format("binaryFile")`` or any (path, bytes) frame.
- gzip: Common Crawl gzips each RECORD as its own member, so the
  whole-file stream is also a valid multi-member gzip — handled
  lib-free with stdlib zlib when the blob starts with the gzip magic.

``synth_warc_bytes`` builds deterministic WARC files for tests and
oracles (same role as transcripts.generate_rows).
"""

from __future__ import annotations

import zlib
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
)

from ..kernel import row_explode

__all__ = ["parse_warc_bytes", "warc_records", "synth_warc_bytes"]

_CRLF = b"\r\n"
_GZIP_MAGIC = b"\x1f\x8b"

# record_idx, warc_type, target_uri, warc_date, http_status,
# content_type, body, error
Record = Tuple[int, Optional[str], Optional[str], Optional[str],
               Optional[int], Optional[str], Optional[str],
               Optional[str]]


def _parse_headers(block: bytes) -> dict:
    """``Name: value`` lines, names lowercased, values stripped;
    duplicate names keep the first (WARC names are case-insensitive,
    ISO 28500 §5)."""
    out: dict = {}
    for line in block.split(_CRLF):
        if b":" not in line:
            continue
        k, v = line.split(b":", 1)
        key = k.strip().lower().decode("latin-1")
        out.setdefault(key, v.strip().decode("latin-1"))
    return out


def _split_http(payload: bytes):
    """(status, content_type, body) from an HTTP/1.1 response
    payload; (None, None, whole payload) when it isn't one."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    sep = payload.find(_CRLF + _CRLF)
    if sep < 0:
        return None, None, payload
    head, body = payload[:sep], payload[sep + 4:]
    lines = head.split(_CRLF)
    parts = lines[0].split()
    status = None
    if len(parts) >= 2 and parts[1].isdigit():
        status = int(parts[1])
    ctype = _parse_headers(_CRLF.join(lines[1:])).get("content-type")
    return status, ctype, body


def parse_warc_bytes(blob: bytes) -> List[Record]:
    """All records of one WARC file (gzipped or plain); Content-Length
    framing only. A framing error yields one final record with the
    ``error`` field set and parsing stops (a desynchronized scan must
    not invent rows)."""
    if blob[:2] == _GZIP_MAGIC:
        # multi-member gzip: decompress members until input exhausts
        out = bytearray()
        rest = bytes(blob)
        while rest[:2] == _GZIP_MAGIC:
            d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
            out += d.decompress(rest)
            rest = d.unused_data
        blob = bytes(out)
    records: List[Record] = []
    i = 0
    n = len(blob)
    idx = 0
    while i < n:
        # tolerate extra CRLFs between records
        while blob[i:i + 2] == _CRLF:
            i += 2
        if i >= n:
            break
        if not blob[i:].startswith(b"WARC/"):
            records.append((idx, None, None, None, None, None, None,
                            f"bad record magic at offset {i}"))
            break
        sep = blob.find(_CRLF + _CRLF, i)
        if sep < 0:
            records.append((idx, None, None, None, None, None, None,
                            "unterminated WARC header block"))
            break
        headers = _parse_headers(blob[i + blob[i:sep].find(_CRLF):sep])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            records.append((idx, None, None, None, None, None, None,
                            "missing/invalid Content-Length"))
            break
        start = sep + 4
        if start + length > n:
            records.append((idx, None, None, None, None, None, None,
                            "payload truncated"))
            break
        payload = blob[start:start + length]
        wtype = headers.get("warc-type")
        status = ctype = body = None
        if wtype == "response":
            status, ctype, body_b = _split_http(payload)
        else:
            body_b = payload
        body = body_b.decode("utf-8", errors="replace")
        records.append((idx, wtype, headers.get("warc-target-uri"),
                        headers.get("warc-date"), status, ctype, body,
                        None))
        idx += 1
        i = start + length
    return records


_REC_FIELDS = [
    StructField("record_idx", IntegerType(), False),
    StructField("warc_type", StringType(), True),
    StructField("target_uri", StringType(), True),
    StructField("warc_date", StringType(), True),
    StructField("http_status", IntegerType(), True),
    StructField("content_type", StringType(), True),
    StructField("body", StringType(), True),
    StructField("error", StringType(), True),
]


def warc_records(df: DataFrame, blob_col: str = "content",
                 key_cols: Tuple[str, ...] = ("path",)) -> DataFrame:
    """One row per WARC record: (key_cols…, record_idx, warc_type,
    target_uri, warc_date, http_status, content_type, body, error).
    Feed the output's response rows straight into the extraction
    kernel (body = the HTML)."""
    keys = [f.name for f in df.schema.fields if f.name in key_cols]
    return row_explode(df, keys, [blob_col], _REC_FIELDS,
                       lambda blob: parse_warc_bytes(
                           blob.encode("utf-8") if isinstance(blob, str)
                           else bytes(blob)))


def synth_warc_bytes(pages: List[Tuple[str, str, str]],
                     gzip_members: bool = False) -> bytes:
    """Deterministic WARC/1.0 file: one ``response`` record per
    (uri, date, html) triple, HTTP/1.1 200 with text/html. With
    ``gzip_members`` each record is its own gzip member (the Common
    Crawl layout)."""
    out = bytearray()
    for uri, date, html in pages:
        body = html.encode("utf-8")
        http = (b"HTTP/1.1 200 OK\r\n"
                b"Content-Type: text/html; charset=utf-8\r\n"
                b"Content-Length: " + str(len(body)).encode() +
                b"\r\n\r\n" + body)
        rec = (b"WARC/1.0\r\n"
               b"WARC-Type: response\r\n"
               b"WARC-Target-URI: " + uri.encode() + b"\r\n"
               b"WARC-Date: " + date.encode() + b"\r\n"
               b"Content-Type: application/http;msgtype=response\r\n"
               b"Content-Length: " + str(len(http)).encode() +
               b"\r\n\r\n" + http + b"\r\n\r\n")
        if gzip_members:
            co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
            out += co.compress(bytes(rec)) + co.flush()
        else:
            out += rec
    return bytes(out)
