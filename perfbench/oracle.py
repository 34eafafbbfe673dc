"""Independent correctness checks.

The crawl oracle re-derives the link graph from the corpus text with plain
Python ``re`` (not ``extract_outlinks``) and runs a breadth-first search
from the seeds over pages that are present and allowed by the robots rules
(RFC 9309 longest match, Allow winning ties). The feed oracle compares the
parsers' masked golden fields with the replicated expected rows.
"""

from __future__ import annotations

import re
from collections import Counter
from urllib.parse import urlsplit

LINK_RE = re.compile(r'href="([^"]+)"')


def allowed(url: str, rules: dict[str, list[tuple[str, bool]]]) -> bool:
    parts = urlsplit(url)
    path = parts.path or "/"
    best = None  # (prefix length, is_allow)
    for prefix, is_allow in rules.get(parts.hostname or "", ()):
        if path.startswith(prefix):
            cand = (len(prefix), is_allow)
            if best is None or cand > best:
                best = cand
    return best is None or best[1]


def bfs_levels(pages: dict[str, str], seeds: list[str], robots_rows=()) -> list[set[str]]:
    """Levels of the crawl graph: level k holds the pages first reachable in
    k hops over present, allowed pages (missing or blocked pages end a path)."""
    rules: dict[str, list[tuple[str, bool]]] = {}
    for host, allow, prefix, _ in robots_rows:
        rules.setdefault(host, []).append((prefix, allow == "allow"))
    ok = lambda u: u in pages and allowed(u, rules)  # noqa: E731
    level = {u for u in seeds if ok(u)}
    seen = set(level)
    levels = []
    while level:
        levels.append(level)
        nxt = set()
        for u in level:
            for v in LINK_RE.findall(pages[u]):
                if v not in seen and ok(v):
                    nxt.add(v)
        seen |= nxt
        level = nxt
    return levels


def collect_text(df) -> dict[str, str]:
    pdf = df.select("url", "text").toPandas()
    return dict(zip(pdf["url"], pdf["text"]))


def _typed(v, typ):
    if v is None:
        return None
    if typ == "BIGINT":
        return int(v)
    if typ == "BOOLEAN":
        return bool(v)
    return str(v)


def record_mismatches(got, want) -> int:
    """The records that differ between two lists of (url, record) pairs,
    matched as multisets: the larger of the missing and the unexpected."""
    g, w = Counter(got), Counter(want)
    return max(sum((w - g).values()), sum((g - w).values()))


def golden_mismatches(rows, expected: list[dict], cols) -> int:
    """The masked parsed records that differ from the expected rows, with
    the same typed comparison the golden queries' VALUES oracles make."""
    def pair(r):
        return r["url"], tuple(_typed(r[c], t) for c, t in cols)

    return record_mismatches(map(pair, rows), map(pair, expected))
