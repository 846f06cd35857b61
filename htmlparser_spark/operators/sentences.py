"""Rule-based sentence splitting: deterministic, language-light.

Sentence boundaries feed several corpus stages — sentence-level dedup
(the C4 "three-sentence span" rule), chunking that respects sentence
edges, and per-sentence quality filters — so the splitter must be
deterministic and cheap, not model-based. Rules (applied to already-
extracted plain text; run normalize.py first if the source is raw):

- A boundary is a run of ``.``/``!``/``?`` (optionally followed by a
  closing quote/bracket ``"'")]``), then whitespace, then an
  upper-case letter, digit, or opening quote/bracket.
- NOT a boundary when the period terminates a known abbreviation
  (``mr mrs ms dr prof sr jr st no vs etc al eg ie e.g i.e u.s``,
  case-insensitive, matched as the token before the period) or an
  single initial (``J. K. Rowling``).
- Decimal numbers (``3.14``) never split: the rule requires
  whitespace after the punctuation run.
- The final fragment is a sentence even without terminal punctuation.
- Sentences are emitted stripped; empty/whitespace fragments are
  dropped. ``sent_idx`` numbers them in document order.

One vectorized Arrow stage, one output row per sentence — the same
explode shape as the chunking operator so downstream joins look
identical.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
)

from ..kernel import row_explode

__all__ = ["split_sentences_str", "split_sentences",
           "pack_sentences_str", "pack_sentences",
           "sentence_dedup"]

_ABBREV = frozenset(
    "mr mrs ms dr prof sr jr st no vs etc al eg ie e.g i.e u.s".split())

# candidate boundary: terminal-punct run (+ optional close quote),
# whitespace, then a sentence-opening char
_BOUNDARY = re.compile(
    r"([.!?]+[\"'”’)\]]?)(\s+)(?=[A-Z0-9\"'“‘(\[])")
_LAST_TOKEN = re.compile(r"(\S+)$")


def _is_abbrev_before(text: str, punct_start: int) -> bool:
    m = _LAST_TOKEN.search(text, 0, punct_start + 1)
    if not m:
        return False
    tok = m.group(1).rstrip(".!?").lstrip("(\"'([").lower()
    if tok in _ABBREV:
        return True
    # single initial: one letter, preceding char (if any) not a letter
    return len(tok) == 1 and tok.isalpha()


def split_sentences_str(text: Optional[str]) -> List[str]:
    if not text:
        return []
    out: List[str] = []
    start = 0
    for m in _BOUNDARY.finditer(text):
        if _is_abbrev_before(text, m.start(1)):
            continue
        frag = text[start:m.end(1)].strip()
        if frag:
            out.append(frag)
        start = m.end(2)
    tail = text[start:].strip()
    if tail:
        out.append(tail)
    return out


_SENT_FIELDS = [
    StructField("sent_idx", IntegerType(), False),
    StructField("sentence", StringType(), False),
]


def split_sentences(df: DataFrame, text_col: str = "text",
                    key_cols: Tuple[str, ...] = ("doc_id",)
                    ) -> DataFrame:
    """One row per sentence: (key_cols…, sent_idx, sentence).
    Map-only Arrow stage; NULL/empty texts contribute no rows."""
    keys = [f.name for f in df.schema.fields if f.name in key_cols]
    return row_explode(df, keys, [text_col], _SENT_FIELDS,
                       lambda body: enumerate(split_sentences_str(body)))


def pack_sentences_str(text: Optional[str], budget: int
                       ) -> List[Tuple[int, int, str]]:
    """Greedy sentence packing: fill each chunk with consecutive
    sentences while the whitespace-token total stays ≤ ``budget``;
    a single sentence over budget gets a chunk alone (never split).
    Returns [(n_sentences, n_tokens, chunk_text)] in order."""
    out: List[Tuple[int, int, str]] = []
    cur: List[str] = []
    cur_toks = 0
    for s in split_sentences_str(text):
        t = len(s.split())
        if cur and cur_toks + t > budget:
            out.append((len(cur), cur_toks, " ".join(cur)))
            cur, cur_toks = [], 0
        cur.append(s)
        cur_toks += t
    if cur:
        out.append((len(cur), cur_toks, " ".join(cur)))
    return out


_PACK_FIELDS = [
    StructField("chunk_idx", IntegerType(), False),
    StructField("n_sentences", IntegerType(), False),
    StructField("n_tokens", IntegerType(), False),
    StructField("chunk_text", StringType(), False),
]


def pack_sentences(df: DataFrame, text_col: str = "text",
                   key_cols: Tuple[str, ...] = ("doc_id",),
                   budget: int = 48) -> DataFrame:
    """Sentence-boundary-respecting chunking: one row per chunk of
    whole sentences greedily packed to ``budget`` whitespace tokens
    (the context-window prep for embedding/RAG pipelines when
    mid-sentence cuts are unacceptable; contrast chunk.py's
    chunk_tokens, which cuts exactly at token offsets).

    Scale shape: split AND pack happen inside ONE map-only Arrow
    stage — the document is the parallelism unit, state is one
    document's sentence list, no shuffle anywhere. Documents with
    NULL/empty text contribute no rows."""
    if budget < 1:
        raise ValueError("budget must be >= 1")
    keys = [f.name for f in df.schema.fields if f.name in key_cols]
    return row_explode(df, keys, [text_col], _PACK_FIELDS,
                       lambda body: ((i, *r) for i, r in enumerate(
                           pack_sentences_str(body, budget))))


def sentence_dedup(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   out_col: str = "text_deduped",
                   pos_bound: int = 1_000_000) -> DataFrame:
    """CORPUS-GLOBAL sentence dedup: keep only the globally FIRST
    occurrence of every sentence (minimum ``(id, position)``), delete
    all later occurrences, and rejoin each document's survivors in
    order — the sentence-granularity member of the dedup ladder
    (dedup_lines: in-document; template_line_dedup: per-domain;
    paragraph_dedup / span_dedup: corpus-level on separator splits).
    Uses the rule-based splitter, so 'Mr. Smith agreed.' is one
    sentence, not two period fragments.

    Returns ``df`` plus ``out_col`` (survivors joined with a single
    space; '' when every sentence was a later duplicate).

    Scale shape (same recipe as span_dedup, dedup.py): the split is
    one map-only Arrow stage; the hash-keyed stages carry ONLY
    (id, pos, md5-16B) rows — a boilerplate sentence on 10^9 pages
    concentrates 24 B rows on its hash partition, never text, and the
    global keeper choice is ``min(id·B + pos)`` — an AGGREGATE with
    map-side combine, not a window; sentence text shuffles exactly
    once, evenly keyed on ``(id, pos)``, into the per-document
    rebuild (in-group ``sort_array``, per-task state = one doc).
    The split stage is deliberately recomputed for the hash pass and
    the text pass (two source scans) instead of cached: at corpus
    scale re-running a map-only Arrow stage is cheaper than
    memory/disk-caching every sentence of the corpus."""
    from pyspark.sql import functions as F

    raw = split_sentences(df, text_col=text_col, key_cols=(id_col,))
    raw = raw.select(
        F.col(id_col),
        F.col("sent_idx").cast("long").alias("_pos"),
        F.col("sentence").alias("_st"))

    pos_ok = F.when(F.col("_pos") < pos_bound, F.col("_pos")).otherwise(
        F.expr(f"raise_error('sentence_dedup: sentence position >= "
               f"pos_bound={pos_bound}; raise pos_bound')").cast("long"))
    rank = (F.col(id_col) * pos_bound + pos_ok).alias("_r")
    hashed = raw.select(
        F.col(id_col), F.col("_pos"), rank,
        F.md5(F.encode(F.col("_st"), "UTF-8")).alias("_h"))
    keepers = hashed.groupBy("_h").agg(F.min("_r").alias("_keep_rank"))
    kept_pos = (hashed.join(keepers, "_h")
                .filter(F.col("_r") == F.col("_keep_rank"))
                .select(id_col, "_pos"))
    kept = raw.join(kept_pos, [id_col, "_pos"])
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("_pos", "_st"))),
                       lambda x: x["_st"]),
                   " ").alias(out_col)))
    return (df.join(rebuilt, id_col, "left")
            .withColumn(out_col, F.coalesce(F.col(out_col), F.lit(""))))
