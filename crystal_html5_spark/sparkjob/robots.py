"""Robots Exclusion Protocol (RFC 9309) parser + matcher, from scratch.

Crawl politeness is the gate in front of every fetch a web-scale
pipeline performs, and re-checking stored corpora against robots rules
(for takedown compliance) is a standard batch job.  This implements the
REP as published:

- groups of ``User-agent`` lines followed by ``Allow``/``Disallow``
  rules (RFC 9309 §2.2.1); unknown lines ignored; ``#`` comments
  stripped; keys case-insensitive
- group selection: the group(s) whose user-agent product token exactly
  matches the crawler (case-insensitive) win; otherwise the ``*``
  group; multiple groups for the same agent merge (§2.2.1)
- rule matching: longest-match wins, measured in pattern octets;
  ``Allow`` wins length ties (§2.2.2); ``*`` matches any octet
  sequence and a trailing ``$`` anchors the end (§2.2.3)
- an empty ``Disallow:`` value is no rule at all; no matching rule
  means allowed (§2.2.2)

The reference repo has no robots support; this belongs to the
beyond-reference crawl/URL family (url_normalize, url_host_skew).
"""

from __future__ import annotations

import re

_RULE_RE = re.compile(r"^\s*([A-Za-z-]+)\s*:\s*(.*?)\s*$")


def parse_robots(text: str) -> list:
    """Parse robots.txt into [(agents, rules)] groups, where agents is
    a list of lowercased product tokens and rules is [(is_allow,
    pattern)] in file order."""
    groups: list = []
    agents: list = []
    rules: list = []
    collecting_agents = True

    def flush():
        nonlocal agents, rules
        if agents:
            groups.append((agents, rules))
        agents, rules = [], []

    for raw in text.splitlines():
        line = raw.split("#", 1)[0]
        m = _RULE_RE.match(line)
        if not m:
            continue
        key, val = m.group(1).lower(), m.group(2)
        if key == "user-agent":
            if not collecting_agents:
                flush()
                collecting_agents = True
            agents.append(val.lower())
        elif key in ("allow", "disallow"):
            collecting_agents = False
            if key == "disallow" and val == "":
                continue  # empty Disallow = no rule (allow all)
            rules.append((key == "allow", val))
        # other keys (sitemap, crawl-delay, ...) ignored per §2.2.4
    flush()
    return groups


def rules_for(groups: list, agent: str) -> list:
    """Merged rule list for `agent` (product token): exact-token groups
    if any exist, else the '*' groups."""
    agent = agent.lower()
    exact = [r for ags, rs in groups if agent in ags for r in rs]
    if any(agent in ags for ags, _ in groups):
        return exact
    return [r for ags, rs in groups if "*" in ags for r in rs]


def _pattern_matches(pattern: str, path: str) -> bool:
    """REP pattern match: '*' = any octets, trailing '$' = end anchor,
    match is anchored at the start of the path.

    Linear-time greedy segment matcher, NOT a compiled regex: robots.txt
    is untrusted web content, and the previous '.*'.join(escaped
    segments) form could be driven into catastrophic backtracking by a
    hostile pattern with many '*' against a long path — wedging an
    executor mid-crawl.  Greedy leftmost placement of each inter-'*'
    segment is exact for this pattern language: earlier placement only
    ever leaves more room for later segments, and the end-anchored tail
    is checked at the end position directly.

    Departs from the old regex on purpose where a path holds '\n': '*'
    spans it (any octets, as the REP says; the regex's '.*' stopped at a
    newline) and '$' means the very end of the path (the regex's '$'
    also matched before a trailing newline)."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    first, *rest = pattern.split("*")
    if not path.startswith(first):
        return False
    pos = len(first)
    if not rest:
        # no '*': exact match if anchored, prefix match otherwise
        return len(path) == pos if anchored else True
    *mid, last = rest
    for seg in mid:
        i = path.find(seg, pos)
        if i < 0:
            return False
        pos = i + len(seg)
    if anchored:
        return len(path) - len(last) >= pos and path.endswith(last)
    return path.find(last, pos) >= 0


def allowed(rules: list, path: str) -> bool:
    """Longest-match verdict for `path` against [(is_allow, pattern)];
    Allow wins length ties; no match = allowed."""
    if not path.startswith("/"):
        path = "/" + path
    best_len = -1
    best_allow = True
    for is_allow, pattern in rules:
        if _pattern_matches(pattern, path):
            plen = len(pattern)
            if plen > best_len or (plen == best_len and is_allow):
                best_len = plen
                best_allow = is_allow
    return best_allow


def is_allowed(robots_txt: str, agent: str, path: str) -> bool:
    return allowed(rules_for(parse_robots(robots_txt), agent), path)
