"""robots.txt parsing + path matching (RFC 9309, public spec).

The crawl-politeness side of the admission pipeline: before
crawl_gate ever sees a page, the fetcher needs the host's robots
rules. ``parse_robots_txt`` turns one robots.txt body into flat
(agent, directive, value) rows; ``is_allowed`` evaluates a path
against them with the RFC's longest-match-wins / allow-wins-ties
rule and ``*``/``$`` wildcards; ``robots_rules`` is the Spark
surface (map-only Arrow stage, one input row per robots.txt body).

Semantics pinned to RFC 9309:

- groups: consecutive ``User-agent`` lines share the group that the
  following allow/disallow/crawl-delay rules attach to; rules are
  emitted once per agent of their group
- group selection for matching: the agent token is matched
  case-insensitively as a substring of the product token; the
  LONGEST matching agent wins, ``*`` is the fallback group
- rule matching: the longest (by pattern length) allow/disallow
  pattern that matches the path wins; equal lengths → allow wins;
  no match → allowed
- ``Sitemap`` lines are group-independent (agent ``''``)
- unknown directives are preserved as rows (callers may care);
  comments (``#``) and blank lines are dropped
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
)

from ..kernel import row_explode

__all__ = ["parse_robots_txt", "is_allowed", "robots_rules",
           "parse_sitemap", "sitemap_urls"]

Rule = Tuple[int, str, str, str]  # rule_idx, agent, directive, value

_GROUP_DIRECTIVES = ("allow", "disallow", "crawl-delay")


def parse_robots_txt(text: str) -> List[Rule]:
    """Flat rows in file order (see module docstring). ``rule_idx``
    numbers emitted rows, so (agent-fanout of) one source line gets
    consecutive indexes."""
    rows: List[Rule] = []
    agents: List[str] = []
    in_group_header = False
    idx = 0
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, val = line.split(":", 1)
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_group_header:
                agents = []
            agents.append(val.lower())
            in_group_header = True
            continue
        in_group_header = False
        if key == "sitemap":
            rows.append((idx, "", "sitemap", val))
            idx += 1
        elif key in _GROUP_DIRECTIVES and agents:
            for a in agents:
                rows.append((idx, a, key, val))
                idx += 1
        elif agents:  # unknown directive inside a group — preserved
            for a in agents:
                rows.append((idx, a, key, val))
                idx += 1
    return rows


def _pattern_matches(pattern: str, path: str) -> bool:
    """RFC 9309 pattern match: literal prefix with ``*`` (any run)
    and a final ``$`` (end anchor)."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    rx = "".join(".*" if c == "*" else re.escape(c) for c in pattern)
    rx = "^" + rx + ("$" if anchored else "")
    return re.match(rx, path) is not None


def is_allowed(rules: List[Rule], path: str,
               agent: str = "*") -> bool:
    """Evaluate ``path`` for ``agent`` against parsed rules (module
    docstring for the selection/tie rules). Empty patterns are
    ignored per the RFC (``Disallow:`` with no value allows all)."""
    agent = agent.lower()
    # pick the group: longest agent token that substring-matches
    best_agent: Optional[str] = None
    for _, a, directive, _v in rules:
        if directive not in ("allow", "disallow"):
            continue
        if a and a != "*" and a in agent:
            if best_agent is None or len(a) > len(best_agent):
                best_agent = a
    group = best_agent if best_agent is not None else "*"
    best_len = -1
    best_allow = True
    for _, a, directive, val in rules:
        if a != group or directive not in ("allow", "disallow"):
            continue
        if not val:
            continue
        if _pattern_matches(val, path):
            plen = len(val)
            allow = directive == "allow"
            if plen > best_len or (plen == best_len and allow):
                best_len = plen
                best_allow = allow
    return best_allow if best_len >= 0 else True


_RULE_FIELDS = [
    StructField("rule_idx", IntegerType(), False),
    StructField("agent", StringType(), False),
    StructField("directive", StringType(), False),
    StructField("value", StringType(), False),
]


def robots_rules(df: DataFrame, text_col: str = "robots_txt",
                 key_cols: Tuple[str, ...] = ("host",)) -> DataFrame:
    """One row per parsed rule: (key_cols…, rule_idx, agent,
    directive, value). NULL bodies contribute no rows. Map-only
    Arrow stage — robots.txt files are tiny and per-host, so the
    natural unit is one input row per host."""
    keys = [f.name for f in df.schema.fields if f.name in key_cols]
    return row_explode(df, keys, [text_col], _RULE_FIELDS, parse_robots_txt)


# ------------------------------------------------------------------ #
# sitemaps (sitemaps.org protocol, public spec) — crawl discovery    #
# ------------------------------------------------------------------ #

def parse_sitemap(text: str) -> List[Tuple[int, str, Optional[str],
                                           Optional[str], Optional[str],
                                           bool]]:
    """(url_idx, loc, lastmod, changefreq, priority, is_index) rows
    from one sitemap body — both ``<urlset>`` (page entries,
    is_index=False) and ``<sitemapindex>`` (child sitemap entries,
    is_index=True). Parsed with the SAME DOM kernel as the HTML path
    (htmldom/parse.py handles the XML fine: explicit closes, text
    nodes); entries without a ``<loc>`` are skipped per the spec."""
    from ..htmldom.constants import KIND_TAG
    from ..htmldom.parse import parse
    from ..htmldom.serialize import to_text

    doc = parse(text)
    rows = []
    idx = 0
    for nid in range(len(doc)):
        if doc.kind[nid] != KIND_TAG or doc.tag[nid] not in (
                "url", "sitemap"):
            continue
        fields = {}
        for c in doc.children[nid]:
            if doc.kind[c] != KIND_TAG:
                continue
            t = doc.tag[c]
            if t in ("loc", "lastmod", "changefreq", "priority") \
                    and t not in fields:
                fields[t] = to_text(doc, raw=True, node_id=c).strip()
        if "loc" not in fields or not fields["loc"]:
            continue
        rows.append((idx, fields["loc"], fields.get("lastmod"),
                     fields.get("changefreq"), fields.get("priority"),
                     doc.tag[nid] == "sitemap"))
        idx += 1
    return rows


_SITEMAP_FIELDS = [
    StructField("url_idx", IntegerType(), False),
    StructField("loc", StringType(), False),
    StructField("lastmod", StringType(), True),
    StructField("changefreq", StringType(), True),
    StructField("priority", StringType(), True),
    StructField("is_index", BooleanType(), False),
]


def sitemap_urls(df: DataFrame, text_col: str = "sitemap_xml",
                 key_cols: Tuple[str, ...] = ("host",)) -> DataFrame:
    """One row per sitemap entry: (key_cols…, url_idx, loc, lastmod,
    changefreq, priority, is_index). Map-only Arrow stage; NULL
    bodies contribute no rows."""
    keys = [f.name for f in df.schema.fields if f.name in key_cols]
    return row_explode(df, keys, [text_col], _SITEMAP_FIELDS, parse_sitemap)
