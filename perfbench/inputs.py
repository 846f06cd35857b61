"""Seeded workload inputs and their oracle manifests.

Each workload's input is generated once per (workload, size, seed) and
cached as a parquet table under the work directory, next to an
``oracle.json`` holding the expected per-bucket lineage. Neither step is
timed. The oracle runs the independent Doc path (``htmldom.parse`` +
``to_text_stripped`` / ``to_raw_html``), never the fused kernel or the
checkpoint operator, and hashes it with the pipeline's own lineage
definition (``checkpoint.row_hash_expr`` via ``lineage_rows``), so a
committed bucket matches its oracle bucket byte for byte or not at all.
"""

from __future__ import annotations

import json
import random
import shutil
from dataclasses import dataclass
from pathlib import Path

# The job's default bucket count (jobs/extract.py --buckets).
N_BUCKETS = 64


@dataclass(frozen=True)
class Workload:
    name: str
    source: str           # "chat" or "web"
    n_turns: int          # chat: turns; web: pages
    include_raw: bool     # the job's --no-raw flips this off
    lineage_mode: str     # the job's --lineage-mode


# Sizes are chosen so one run, set-up included, fits the benchmark's
# time budget (see README.md "Sizing").
_FULL = {
    "chat_turns": Workload("chat_turns", "chat", 20_000, False, "hash_col"),
    "web_pages": Workload("web_pages", "web", 1200, True, "full"),
}
_TINY = {"chat": 2_000, "web": 24}

WORKLOADS = tuple(_FULL)


def workload(name: str, tiny: bool = False) -> Workload:
    w = _FULL[name]
    if tiny:
        w = Workload(w.name, w.source, _TINY[w.source], w.include_raw,
                     w.lineage_mode)
    return w


# ---------------------------------------------------------------- web pages

_CSS_PROPS = ("color", "margin", "padding", "display", "font-size",
              "border", "background", "line-height", "width", "z-index")
_ENTITIES = ("&amp;", "&copy;", "&#8212;", "&nbsp;", "&lt;", "&gt;",
             "&quot;", "&#x27;", "&hellip;", "&eacute;")
_INLINE = ("b", "i", "em", "strong", "span", "code", "small")


def _words(rng: random.Random, n: int = 600) -> list:
    cons, vows = "bcdfghjklmnprstvwz", "aeiouy"
    return ["".join(rng.choice(cons) + rng.choice(vows)
                    for _ in range(rng.randint(1, 4))) for _ in range(n)]


class _PageGen:
    """A seeded generator of ~25-30 KB article pages: deep ``<div>``
    nesting with many attributes, ``<script>``/``<style>`` blocks,
    tables, link lists and character references."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.words = _words(rng)

    def text(self, lo: int, hi: int) -> str:
        r, w = self.rng, self.words
        out = []
        for _ in range(r.randint(lo, hi)):
            x = r.random()
            if x < 0.06:
                out.append(r.choice(_ENTITIES))
            elif x < 0.12:
                t = r.choice(_INLINE)
                out.append(f"<{t}>{r.choice(w)} {r.choice(w)}</{t}>")
            elif x < 0.16:
                out.append(f'<a href="/{r.choice(w)}/{r.randint(1, 9999)}'
                           f'" title="{r.choice(w)}">{r.choice(w)}</a>')
            else:
                out.append(r.choice(w))
        return " ".join(out)

    def attrs(self) -> str:
        r, w = self.rng, self.words
        parts = [f'class="{r.choice(w)} {r.choice(w)}-{r.randint(1, 12)}"']
        if r.random() < 0.6:
            parts.append(f'id="{r.choice(w)}{r.randint(1, 999)}"')
        for _ in range(r.randint(0, 4)):
            parts.append(f'data-{r.choice(w)}="{r.randint(0, 99999)}"')
        if r.random() < 0.3:
            parts.append(
                f"style='{r.choice(_CSS_PROPS)}:{r.randint(0, 40)}px'")
        if r.random() < 0.2:
            parts.append("hidden")
        return " ".join(parts)

    def style(self) -> str:
        r, w = self.rng, self.words
        rules = [f".{r.choice(w)} > .{r.choice(w)}{{{r.choice(_CSS_PROPS)}:"
                 f"{r.randint(0, 64)}px;{r.choice(_CSS_PROPS)}:#"
                 f"{r.randint(0, 0xffffff):06x}}}"
                 for _ in range(r.randint(15, 40))]
        return "<style>" + "\n".join(rules) + "</style>"

    def script(self) -> str:
        r, w = self.rng, self.words
        lines = [f"var {r.choice(w)}={r.randint(0, 999)};if(a<b&&c>d)"
                 f"{{f('</div>{r.choice(w)}');}}"
                 for _ in range(r.randint(10, 30))]
        return "<script>" + "\n".join(lines) + "</script>"

    def table(self) -> str:
        r = self.rng
        cols = r.randint(3, 6)
        head = "".join(f"<th>{self.text(1, 2)}</th>" for _ in range(cols))
        rows = "".join(
            "<tr>" + "".join(f"<td {self.attrs()}>{self.text(1, 5)}</td>"
                             for _ in range(cols)) + "</tr>"
            for _ in range(r.randint(4, 12)))
        return (f"<table {self.attrs()}><thead><tr>{head}</tr></thead>"
                f"<tbody>{rows}</tbody></table>")

    def links(self) -> str:
        items = "".join(
            f'<li><a href="https://{self.rng.choice(self.words)}.example/'
            f'{self.rng.randint(1, 99999)}" rel="nofollow">'
            f"{self.text(1, 3)}</a></li>"
            for _ in range(self.rng.randint(5, 15)))
        return f"<ul {self.attrs()}>{items}</ul>"

    def block(self, depth: int) -> str:
        r = self.rng
        x = r.random()
        if depth < 18 and x < 0.35:
            inner = "".join(self.block(depth + 1)
                            for _ in range(r.randint(1, 3)))
            return f"<div {self.attrs()}>{inner}</div>"
        if x < 0.70:
            br = "<br>" if r.random() < 0.3 else ""
            return f"<p {self.attrs()}>{self.text(20, 80)}{br}</p>"
        if x < 0.78:
            return self.table()
        if x < 0.86:
            return self.links()
        if x < 0.92:
            return (f'<img src="/img/{r.randint(1, 9999)}.png" '
                    f'alt="{self.text(1, 3)}" {self.attrs()}>')
        if x < 0.96:
            return f"<!-- {self.text(3, 8)} -->"
        return self.script()

    def pool(self, n_blocks: int = 400, n_heads: int = 40) -> None:
        """Pre-generate blocks and heads; pages are seeded draws from
        these pools, so a 1000-page table generates in about a second."""
        self.blocks = [self.block(0) for _ in range(n_blocks)]
        self.heads = [
            f'<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
            f"<title>{self.text(3, 8)}</title>"
            f'<meta name="description" content="{self.text(5, 10)}">'
            f"{self.style()}{self.script()}</head>" for _ in range(n_heads)]
        self.navs = [f"<header><nav>{self.links()}</nav></header>"
                     for _ in range(n_heads)]
        self.tails = [f"<footer>{self.text(5, 15)}</footer>{self.script()}"
                      for _ in range(n_heads)]

    def page(self) -> str:
        r = self.rng
        target = r.randint(20_000, 26_000)
        parts = [r.choice(self.heads), f"<body {self.attrs()}>",
                 r.choice(self.navs), "<main>"]
        size = sum(map(len, parts))
        while size < target:
            b = r.choice(self.blocks)
            parts.append(b)
            size += len(b)
        parts.append(f"</main>{r.choice(self.tails)}</body></html>")
        return "".join(parts)


_PAGES_PER_CONV = 3


def web_pages_frame(n_pages: int, seed: int):
    """(conv_id, turn_idx, role, text, tool, ts) pandas frame of
    ``n_pages`` pages, ``_PAGES_PER_CONV`` pages per conversation,
    rows in seeded shuffled order."""
    import pandas as pd

    rng = random.Random(seed)
    gen = _PageGen(rng)
    gen.pool()
    rows = []
    for i in range(n_pages):
        rows.append((f"page-{i // _PAGES_PER_CONV:06d}",
                     i % _PAGES_PER_CONV, "tool", gen.page(), "browser",
                     pd.Timestamp(1767225600 + i * 60, unit="s", tz="UTC")))
    rng.shuffle(rows)
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                       "text", "tool", "ts"])


# ------------------------------------------------------------------- oracle

def _docpath_fn(include_raw: bool):
    def fn(batches):
        import pandas as pd

        from htmlparser_spark.htmldom import (parse, to_raw_html,
                                              to_text_stripped)
        for pdf in batches:
            ext, raw, nodes, errs, nbytes = [], [], [], [], []
            for s in pdf["text"]:
                doc = parse(s)
                ext.append(to_text_stripped(doc))
                raw.append(to_raw_html(doc) if include_raw else None)
                nodes.append(len(doc))
                errs.append(len(doc.errors))
                nbytes.append(len(s.encode()))
            yield pd.DataFrame({
                "partition_id": pdf["partition_id"],
                "conv_id": pdf["conv_id"], "turn_idx": pdf["turn_idx"],
                "extracted_text": ext, "raw_html": raw,
                "n_nodes": pd.Series(nodes, dtype="int64"),
                "n_errors": pd.Series(errs, dtype="int64"),
                "n_bytes": pd.Series(nbytes, dtype="int64")})
    return fn


def _raw_hash_expr():
    from pyspark.sql import functions as F
    return F.xxhash64("conv_id", "turn_idx", "raw_html")


def compute_oracle(spark, table: str, w: Workload) -> dict:
    """Expected per-bucket lineage of an uninterrupted run over
    ``table``, from the Doc path, in one pass: {"buckets": {pid:
    [n_rows, content_hash]}, "raw": {pid: XOR of raw_html hashes} (web
    only), "bucket_bytes": {pid: input HTML bytes}, totals}."""
    from pyspark.sql import functions as F

    from htmlparser_spark.operators.checkpoint import (lineage_rows,
                                                       with_partition_id)

    src = with_partition_id(spark.read.parquet(table), N_BUCKETS)
    docs = src.select("partition_id", "conv_id", "turn_idx", "text") \
        .mapInPandas(_docpath_fn(w.include_raw),
                     "partition_id long, conv_id string, turn_idx int, "
                     "extracted_text string, raw_html string, "
                     "n_nodes long, n_errors long, n_bytes long")
    docs = docs.persist()
    try:
        # two jobs, the second over the cached Doc-path output
        lineage = {r.partition_id: r
                   for r in lineage_rows(docs, "oracle").collect()}
        rows = sorted(docs.groupBy("partition_id").agg(
            F.bit_xor(_raw_hash_expr()).alias("raw"),
            F.sum("n_bytes").alias("n_bytes"),
            F.sum("n_nodes").alias("n_nodes"),
            F.sum("n_errors").alias("n_errors")).collect())
    finally:
        docs.unpersist()
    return {"buckets": {str(r.partition_id):
                        [lineage[r.partition_id].n_rows,
                         lineage[r.partition_id].content_hash]
                        for r in rows},
            "raw": ({str(r.partition_id): r.raw for r in rows}
                    if w.include_raw else {}),
            "bucket_bytes": {str(r.partition_id): r.n_bytes for r in rows},
            "n_turns": sum(v.n_rows for v in lineage.values()),
            "input_bytes": sum(r.n_bytes for r in rows),
            "n_nodes": sum(r.n_nodes for r in rows),
            "n_errors": sum(r.n_errors for r in rows)}


def readback_mismatches(spark, output: str, oracle: dict,
                        include_raw: bool, extra_cols=()) -> tuple:
    """(buckets checked, ids of buckets that differ) for the rows read
    back from a committed output. Each bucket's (n_rows, content_hash)
    is recomputed from the written ``extracted_text`` with the
    pipeline's lineage definition (never from a ``row_hash`` column the
    program wrote), and with ``include_raw`` its XOR of
    xxhash64(conv_id, turn_idx, raw_html) is compared with the Doc
    path's ``to_raw_html`` too."""
    from pyspark.sql import functions as F

    from htmlparser_spark.operators.checkpoint import lineage_rows

    written = spark.read.parquet(output)
    got = {str(r.partition_id): [r.n_rows, r.content_hash] for r in
           lineage_rows(written, "readback", extra_cols=extra_cols)
           .collect()}
    exp = oracle["buckets"]
    bad = {k for k in exp.keys() | got.keys() if got.get(k) != exp.get(k)}
    checked = len(exp)
    if include_raw:
        raw = {str(r.partition_id): r.h for r in
               written.groupBy("partition_id")
               .agg(F.bit_xor(_raw_hash_expr()).alias("h")).collect()}
        exp = oracle["raw"]
        bad |= {k for k in exp.keys() | raw.keys()
                if raw.get(k) != exp.get(k)}
    return checked, sorted(bad, key=int)


# -------------------------------------------------------------------- cache

def prepare(spark, w: Workload, seed: int, cache_root: Path):
    """(table_path, oracle) for (workload input, seed), generating and
    caching both on first use."""
    from htmlparser_spark.sources.transcripts import generate_distributed

    d = cache_root / f"{w.name}_{w.n_turns}_s{seed}"
    table, oracle_file = d / "table.parquet", d / "oracle.json"
    if oracle_file.exists():
        return str(table), json.loads(oracle_file.read_text())
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    if w.source == "chat":
        generate_distributed(spark, w.n_turns, num_partitions=4,
                             seed=seed).write.parquet(str(table))
    else:
        import pyarrow as pa
        import pyarrow.parquet as pq
        table.mkdir()
        frame = web_pages_frame(w.n_turns, seed)
        step = -(-len(frame) // 8)
        schema = pa.schema([("conv_id", pa.string()),
                            ("turn_idx", pa.int32()), ("role", pa.string()),
                            ("text", pa.string()), ("tool", pa.string()),
                            ("ts", pa.timestamp("us", tz="UTC"))])
        for i in range(8):
            part = frame.iloc[i * step:(i + 1) * step]
            pq.write_table(pa.Table.from_pandas(part, schema=schema,
                                                preserve_index=False),
                           table / f"part-{i:05d}.parquet")
    oracle = compute_oracle(spark, str(table), w)
    tmp = d / "oracle.json.tmp"
    tmp.write_text(json.dumps(oracle))
    tmp.rename(oracle_file)
    return str(table), oracle
