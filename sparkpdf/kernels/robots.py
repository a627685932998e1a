"""robots.txt parsing + matching (RFC 9309) — the crawl-permission
leg of the web pipeline (WARC demux -> robots gate -> frontier).

Pure Python, no Spark. Parser: user-agent groups (consecutive
user-agent lines share one group), allow/disallow rules, crawl-delay,
and global sitemap lines; comments and unknown directives tolerated.
Matcher: group selection by LONGEST matching user-agent token ('*'
fallback), rule selection by LONGEST matching pattern with allow
winning length ties, '*' wildcards and the '$' end anchor supported,
empty patterns ignored. No rules / no group -> allowed (RFC default).
"""

from __future__ import annotations

import re
from typing import List, Optional


def parse_robots(text: str) -> dict:
    """robots.txt -> {groups: [{agents, rules: [(kind, pattern)],
    crawl_delay}], sitemaps: [...]}. Never raises on any text."""
    groups: List[dict] = []
    sitemaps: List[str] = []
    cur: Optional[dict] = None
    last_was_agent = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if cur is None or not last_was_agent:
                cur = {"agents": [], "rules": [], "crawl_delay": None}
                groups.append(cur)
            cur["agents"].append(value.lower())
            last_was_agent = True
            continue
        last_was_agent = False
        if field == "sitemap":
            sitemaps.append(value)
        elif cur is not None and field in ("allow", "disallow"):
            cur["rules"].append((field, value))
        elif cur is not None and field == "crawl-delay":
            try:
                cur["crawl_delay"] = float(value)
            except ValueError:
                pass
    return {"groups": groups, "sitemaps": sitemaps}


def _pattern_matches(pattern: str, path: str) -> bool:
    """RFC 9309 pattern match: literal prefix with '*' wildcards and
    an optional '$' end anchor."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    rx = "".join(
        ".*" if ch == "*" else re.escape(ch) for ch in pattern
    )
    rx = "^" + rx + ("$" if anchored else "")
    return re.match(rx, path) is not None


def _select_group(robots: dict, agent: str) -> Optional[dict]:
    """Most-specific group: longest user-agent token that is a
    substring of the agent product token; '*' group as fallback."""
    agent = (agent or "").lower()
    best, best_len = None, -1
    star = None
    for g in robots["groups"]:
        for tok in g["agents"]:
            if tok == "*":
                star = star or g
            elif tok in agent and len(tok) > best_len:
                best, best_len = g, len(tok)
    return best if best is not None else star


def is_allowed(robots: dict, agent: str, path: str) -> bool:
    """RFC 9309 decision for (agent, path): longest-match rule wins,
    allow wins equal-length ties, no matching rule/group -> allowed."""
    g = _select_group(robots, agent)
    if g is None:
        return True
    best_len, best_kind = -1, "allow"
    for kind, pattern in g["rules"]:
        if not pattern:
            continue  # 'Disallow:' empty = allow everything (ignore)
        if _pattern_matches(pattern, path):
            plen = len(pattern)
            if plen > best_len or (plen == best_len
                                   and kind == "allow"):
                best_len, best_kind = plen, kind
    return best_kind == "allow"


def crawl_delay(robots: dict, agent: str) -> Optional[float]:
    g = _select_group(robots, agent)
    return g["crawl_delay"] if g else None
