"""The Python↔JVM boundary: one Arrow row-kernel layer + Spark schemas.

Every per-row text/HTML operator in the package has one of two shapes,
and both run through the helpers here on ``DataFrame.mapInArrow`` —
no pandas conversion, no per-row Python UDFs (contract from
BASELINE.json input_hint):

- ``row_map``: the input columns plus per-row output columns. Input
  columns pass through zero-copy from the Arrow ``RecordBatch``.
- ``row_explode``: key columns plus any number of item rows per input
  row (DOM nodes, table cells, links, sentences, …).

Each helper transposes the per-row tuples once per batch and builds
every output column with ``pa.array`` at the Arrow type pyspark derives
from the declared ``StructType``, so call sites write only a per-row
function and its Spark fields. Each kernel is a pure function of its
input columns, which is what makes the pipeline idempotent and
checkpoint-resumable.

The parse kernel fuses tokenize → tree-build → boilerplate-strip →
serialize into ONE stage (the reference gets the same effect from
parse-time callbacks, html.cpp:539-553; in Spark the fusion is free
because a single mapInArrow stage pipelines per Arrow batch).
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .htmldom import parse

__all__ = [
    "NODE_STRUCT",
    "ERROR_STRUCT",
    "row_map",
    "row_explode",
    "extract_text",
    "explode_nodes",
]

# Exploded-node schema (FIXTURES.md §2): the relational view of the DOM.
NODE_STRUCT = StructType([
    StructField("node_id", IntegerType(), False),
    StructField("parent_id", IntegerType(), False),
    StructField("depth", IntegerType(), False),
    StructField("kind", IntegerType(), False),  # 0 text 1 tag 2 comment 3 doctype
    StructField("tag_name", StringType(), False),
    StructField("content", StringType(), False),
    StructField("attrs", MapType(StringType(), StringType()), True),
    StructField("self_closing", BooleanType(), False),
    StructField("tag_index", IntegerType(), False),
    StructField("n_tag_children", IntegerType(), False),
    StructField("n_tag_siblings", IntegerType(), False),
    StructField("ancestor_ids", ArrayType(IntegerType()), False),
])

ERROR_STRUCT = StructType([
    StructField("node_id", IntegerType(), False),
    StructField("tag_name", StringType(), False),
    StructField("path", StringType(), False),
])


def _arrow_columns(df: DataFrame, fields: Sequence[StructField]):
    """Build, on the driver, the per-batch function that transposes a
    list of row tuples into one Arrow array per field, typed exactly as
    pyspark types a Python result for this session (string vs
    large_string follows ``spark.sql.execution.arrow.useLargeVarTypes``)."""
    large = df.sparkSession.conf.get(
        "spark.sql.execution.arrow.useLargeVarTypes", "false") == "true"
    types = [to_arrow_type(f.dataType, prefers_large_types=large)
             for f in fields]

    def columns(rows: list) -> list:
        cols = zip(*rows) if rows else [()] * len(types)
        return [pa.array(c, type=t) for c, t in zip(cols, types)]

    return columns


def row_map(df: DataFrame, text_col: str, fields: Sequence[StructField],
            fn: Callable[[str], tuple], null: tuple,
            drop_text: bool = False) -> DataFrame:
    """``df``'s columns plus ``fields``: ``fn(s)`` returns one tuple
    (one value per field) for each non-NULL ``text_col`` value; a NULL
    row gets ``null``. ``drop_text=True`` removes ``text_col`` inside
    the kernel, so the source HTML never makes the Arrow return
    transfer or any downstream shuffle."""
    keep = [f for f in df.schema.fields
            if not (drop_text and f.name == text_col)]
    names = [f.name for f in keep] + [f.name for f in fields]
    columns = _arrow_columns(df, fields)

    def kernel(batches: Iterable[pa.RecordBatch]):
        for batch in batches:
            rows = [null if s is None else fn(s)
                    for s in batch.column(text_col).to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [batch.column(f.name) for f in keep] + columns(rows),
                names=names)

    return df.mapInArrow(kernel, StructType(keep + list(fields)))


def row_explode(df: DataFrame, key_cols: Sequence[str],
                in_cols: Sequence[str], fields: Sequence[StructField],
                fn: Callable[..., Iterable[tuple]]) -> DataFrame:
    """``key_cols`` plus ``fields``, one output row per item:
    ``fn(*vals)`` gets one input row's ``in_cols`` values and returns
    an iterable of row tuples (one value per field). A row whose first
    input column is NULL emits no rows; later input columns reach
    ``fn`` as given (NULL → None). Key values are replicated with
    ``take`` on the source row index, never through Python."""
    key_cols, in_cols = list(key_cols), list(in_cols)
    names = key_cols + [f.name for f in fields]
    columns = _arrow_columns(df, fields)

    def kernel(batches: Iterable[pa.RecordBatch]):
        for batch in batches:
            src, rows = [], []
            vals = zip(*(batch.column(c).to_pylist() for c in in_cols))
            for i, v in enumerate(vals):
                if v[0] is None:
                    continue
                for r in fn(*v):
                    src.append(i)
                    rows.append(r)
            idx = pa.array(src, type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [batch.column(k).take(idx) for k in key_cols]
                + columns(rows), names=names)

    schema = StructType([df.schema[k] for k in key_cols] + list(fields))
    return df.select(*key_cols, *in_cols).mapInArrow(kernel, schema)


# Columns the extraction kernel appends to the passthrough columns.
_EXTRACT_FIELDS = [
    StructField("extracted_text", StringType(), True),
    StructField("raw_html", StringType(), True),
    StructField("n_nodes", IntegerType(), True),
    StructField("n_errors", IntegerType(), True),
]


def extract_text(df: DataFrame, text_col: str = "text", strip: bool = True,
                 include_raw: bool = True, drop_text: bool = False,
                 decode_entities: bool = False) -> DataFrame:
    """DataFrame-level extraction: append extracted_text / raw_html /
    n_nodes / n_errors to ``df`` via one Arrow-batched stage (the fused
    single-pass kernel, differentially tested against the Doc path in
    tests/test_fused_equivalence.py).

    ``strip`` toggles the boilerplate-strip stage (drop script/style
    subtrees) — ON for the pipeline, OFF for reference-equality runs.
    ``drop_text=True`` removes the source HTML column from the output
    (shuffle/sink payload reduction for the pipeline hot path).
    ``decode_entities=True`` opts in to HTML5 character-reference
    decoding of extracted_text (default OFF = reference
    byte-equality)."""
    from .htmldom.fused import extract_fused

    def fn(s):
        ext, raw, n_nodes, n_errors = extract_fused(
            s, strip=strip, want_raw=include_raw,
            decode_entities=decode_entities)
        return ((ext, raw, n_nodes, n_errors) if include_raw
                else (ext, n_nodes, n_errors))

    fields = [f for f in _EXTRACT_FIELDS
              if include_raw or f.name != "raw_html"]
    null = (None, None, 0, 0) if include_raw else (None, 0, 0)
    return row_map(df, text_col, fields, fn, null, drop_text=drop_text)


def explode_nodes(df: DataFrame, text_col: str = "text",
                  key_cols=("doc_id",)) -> DataFrame:
    """Exploded relational DOM view of ``df[text_col]``: one row per
    node, keyed by ``key_cols``, with the NODE_STRUCT fields as
    top-level columns. Selector predicates become plain Spark SQL
    filters over this view (SURVEY §2.C mapping)."""
    def nodes(s):
        doc = parse(s)
        parent = doc.parent
        # ancestors root→parent, computed incrementally (parent
        # precedes child in pre-order)
        anc: list = []
        for p in parent:
            anc.append([] if p < 0 else anc[p] + [p])
        return zip(range(len(doc)), parent, doc.depth, doc.kind, doc.tag,
                   doc.content, doc.attrs, doc.self_closing, doc.tag_index,
                   doc.n_tag_children,
                   # parent's final tag count (powers the :last predicate)
                   (doc.node_count_of(p) for p in parent), anc)

    return row_explode(df, key_cols, [text_col], NODE_STRUCT.fields, nodes)
