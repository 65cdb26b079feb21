"""robots.txt (RFC 9309) parsing and corpus-scale URL filtering.

The crawl-compliance gate of a web-corpus pipeline (the step between
WARC ingestion and curation: a responsibly built training corpus drops
pages its robots rules disallow). Two layers, both public-spec:

* :func:`parse_robots_txt` — the per-host text parser: groups of
  ``User-agent`` lines followed by ``Allow``/``Disallow`` rules; the
  crawler's group is the one whose user-agent token is the LONGEST
  case-insensitive match for the product token, with ``*`` as the
  fallback group (RFC 9309 §2.2.1); unknown lines and comments are
  ignored per spec. Runs driver-side or in a mapInArrow over the
  (tiny) per-host robots corpus — robots files are KBs, hosts are
  dimension-cardinality.
* :func:`robots_pattern_regex` — one source of truth translating a
  robots path pattern (``*`` wildcard, ``$`` end anchor, everything
  else literal) to the regex BOTH engines evaluate, so the Spark query
  and the DuckDB oracle cannot diverge on matching semantics.

Verdict semantics (RFC 9309 §2.2.2): among the group's rules matching
the URL path, the longest pattern (octet length) wins; on a tie,
Allow wins; no matching rule → allowed. The engine encodes that as
one integer aggregate — ``max(2*len(pattern) + allow)`` over matching
rules, verdict = max is odd — so the winner selection is a plain
hash aggregate, no window, no UDF.

Scale shape: the parsed rule table is (host, allow, pattern, regex) at
rules-per-host × hosts cardinality — a broadcast next to a 100 TB URL
corpus. The corpus joins it on host, evaluates the per-rule regex
JVM-side, and aggregates at URL grain: scan → broadcast join →
hash aggregate, nothing else.
"""

from __future__ import annotations

import re


def robots_pattern_regex(pattern: str) -> str:
    """Robots path pattern → anchored regex: ``*`` matches any run,
    a trailing ``$`` anchors the end, all else is literal (escaped).
    The SAME string is handed to Spark's RLIKE and DuckDB's
    regexp_matches, so matching cannot diverge between query and
    oracle."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    parts = [re.escape(p) for p in body.split("*")]
    rx = "^" + ".*".join(parts)
    return rx + "$" if anchored else rx


def parse_robots_txt(text: str, agent: str) -> list[tuple[bool, str]]:
    """robots.txt body + crawler product token → the applicable
    group's rules as (allow, pattern) pairs, per RFC 9309 group
    selection: the group whose user-agent line is the longest
    case-insensitive prefix-token match for ``agent`` wins; ``*``
    groups are the fallback; multiple groups for the same agent merge.
    Empty patterns are ignored (an empty Disallow means allow-all)."""
    agent_lc = agent.lower()
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[bool, str]] = []
    in_agent_run = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not value:
                # empty product token is invalid per RFC 9309 §2.2.1 —
                # ignored as if absent, so a malformed empty-agent
                # group can never outrank the '*' fallback
                continue
            if not in_agent_run:
                if cur_agents:
                    groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules = [], []
                in_agent_run = True
            cur_agents.append(value.lower())
        elif field in ("allow", "disallow"):
            in_agent_run = False
            if cur_agents and value:
                cur_rules.append((field == "allow", value))
        # sitemap/crawl-delay/unknown lines: ignored AS IF ABSENT (RFC
        # 9309 §2.2.3) — in particular they must NOT terminate a run of
        # User-agent lines, or 'User-agent: A / Crawl-delay: 5 /
        # User-agent: B / Disallow: /x' would wrongly give A an empty
        # (allow-all) group instead of sharing B's rules
    if cur_agents:
        groups.append((cur_agents, cur_rules))

    best_len = -1
    fallback: list[tuple[bool, str]] = []
    chosen: list[tuple[bool, str]] = []
    for agents, rules in groups:
        for ga in agents:
            if ga == "*":
                fallback = fallback + rules
            elif agent_lc.startswith(ga) and len(ga) > best_len:
                best_len = len(ga)
                chosen = list(rules)
            elif agent_lc.startswith(ga) and len(ga) == best_len:
                chosen = chosen + rules  # same-specificity groups merge
    return chosen if best_len >= 0 else fallback


def is_allowed(rules: list[tuple[bool, str]], path: str) -> bool:
    """Reference verdict (pure python, used by tests as the model for
    the SQL aggregate): longest matching pattern wins, Allow wins
    ties, no match → allowed."""
    best = -1
    for allow, pattern in rules:
        if re.match(robots_pattern_regex(pattern), path):
            score = 2 * len(pattern) + (1 if allow else 0)
            best = max(best, score)
    return True if best < 0 else best % 2 == 1
