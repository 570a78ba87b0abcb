"""robots.txt parsing + access evaluation (RFC 9309), the crawl-
politeness gate every Common Crawl-style pipeline applies before a URL
enters the corpus. Built from the public spec:

- groups: consecutive ``User-agent`` lines share one group of
  ``Allow``/``Disallow`` rules; comments (``#``) and unknown directives
  are ignored for matching (RFC 9309 §2.2),
- group selection: the group whose user-agent token is the LONGEST
  case-insensitive prefix of the crawler's product token wins; ``*``
  matches any crawler with specificity 0; no matching group → allow,
- rule precedence: the matching rule with the longest pattern string
  wins; on a tie Allow wins (§2.2.2); an empty pattern matches nothing,
- patterns: literal prefix match with ``*`` wildcards and an optional
  ``$`` end anchor (§2.2.3).

Reference parity: the reference repo has no crawl machinery — this
extends the engine toward the 100 TB training-data north star beside
WARC/HTML/URL-canonicalization (SURVEY.md §2 ext rows).
"""

from __future__ import annotations

import re

__all__ = [
    "build_fixture_robots",
    "parse_robots",
    "robots_decision",
]


def parse_robots(text: str) -> "list[tuple[list[str], list[tuple[str, str]]]]":
    """robots.txt → list of groups ``(agent tokens, [(kind, pattern)])``.
    Kind is ``allow``/``disallow``; agent tokens are lowercased.

    Spec corners pinned by tests/test_robots.py:

    - rules appearing BEFORE any ``User-agent`` line are outside every
      group and are dropped silently (RFC 9309 §2.2.1 — "rules that are
      not part of a group are ignored"); strictness here is a parse
      policy, not corruption, so no error is raised,
    - ANY non-``User-agent`` directive — including ignored ones like
      ``Crawl-delay`` or ``Sitemap`` — terminates a run of consecutive
      ``User-agent`` lines, so a later ``User-agent`` starts a NEW group
      (the google-robotstxt behavior; previously only Allow/Disallow
      reset the run, silently fusing the two groups)."""
    groups: list[tuple[list[str], list[tuple[str, str]]]] = []
    agents: list[str] = []
    rules: list[tuple[str, str]] = []
    in_agents = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if agents and not in_agents:
                groups.append((agents, rules))
                agents, rules = [], []
            agents.append(val.lower())
            in_agents = True
        elif key in ("allow", "disallow"):
            in_agents = False
            if agents:  # rules outside any group are invalid → dropped
                rules.append((key, val))
        else:
            # Sitemap / Crawl-delay / unknown directives: ignored for
            # matching (§2.2.4), but they still end an agent-line run
            in_agents = False
    if agents:
        groups.append((agents, rules))
    return groups


def _pattern_matches(pattern: str, path: str) -> bool:
    """RFC 9309 §2.2.3 pattern match: prefix semantics, ``*`` wildcards,
    ``$`` end anchor. Empty patterns match nothing."""
    if not pattern:
        return False
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = "^" + re.escape(body).replace(r"\*", ".*") + ("$" if anchored else "")
    return re.match(rx, path) is not None


def robots_decision(
    text: str, agent: str, path: str
) -> "tuple[bool, str, int]":
    """Evaluate crawl permission → ``(allowed, winning rule pattern or
    '', number of groups)``. Group choice = longest agent-token prefix
    (``*`` = specificity 0, absent → allow); when SEVERAL groups match
    at the winning specificity (e.g. two ``User-agent: trainbot``
    groups), their rule lists are COMBINED before rule selection
    (RFC 9309 §2.2.1 — applying only the first such group would drop
    rules); rule choice = longest matching pattern, Allow wins
    ties; no matching rule → allow."""
    groups = parse_robots(text)
    agent = agent.lower()
    best_spec = -1
    for agent_tokens, _ in groups:
        for tok in agent_tokens:
            if tok == "*":
                spec = 0
            elif tok and agent.startswith(tok):
                spec = len(tok)
            else:
                continue
            if spec > best_spec:
                best_spec = spec
    if best_spec < 0:
        return True, "", len(groups)
    best_rules: list[tuple[str, str]] = []
    for agent_tokens, rules in groups:
        if any(
            (tok == "*" and best_spec == 0)
            or (tok != "*" and tok and agent.startswith(tok) and len(tok) == best_spec)
            for tok in agent_tokens
        ):
            best_rules.extend(rules)
    winner: "tuple[int, int, str] | None" = None  # (len, allow?, pattern)
    for kind, pattern in best_rules:
        if not _pattern_matches(pattern, path):
            continue
        cand = (len(pattern), 1 if kind == "allow" else 0, pattern)
        if winner is None or cand[:2] > winner[:2]:
            winner = cand
    if winner is None:
        return True, "", len(groups)
    return bool(winner[1]), winner[2], len(groups)


def build_fixture_robots(doc_id: int) -> str:
    """Deterministic robots.txt variants rotated ``(doc_id // 10) % 4``,
    each exercising a distinct spec feature against the fixture URL
    path ``/doc/{doc_id}`` for agent ``trainbot`` (expected outcomes are
    constants of the doc id — the mm30 oracle discipline):

    - v0: wildcard group, non-matching Disallow → allowed, no rule,
    - v1: longest-match precedence — ``Disallow: /doc/`` vs
      ``Allow: /doc/1*`` → allowed iff the id starts with '1',
    - v2: ``*`` + ``$`` anchored Disallow matching every fixture id
      (ids are ≡0 mod 10, so paths end in '0') → disallowed,
    - v3: group selection — a stricter foreign group must NOT apply;
      trainbot's own group has an empty Disallow (= allow all).
    """
    v = (doc_id // 10) % 4
    if v == 0:
        return (
            "# fixture robots v0\n"
            "User-agent: *\n"
            "Disallow: /private/\n"
            "Crawl-delay: 2\n"
        )
    if v == 1:
        return (
            "User-agent: trainbot\n"
            "Disallow: /doc/\n"
            "Allow: /doc/1*\n"
        )
    if v == 2:
        return (
            "User-agent: *\n"
            "Disallow: /nope/\n"
            "Disallow: /doc/*0$\n"
        )
    return (
        "User-agent: other-bot\n"
        "Disallow: /\n"
        "\n"
        "User-agent: trainbot\n"
        "Disallow:\n"
        "Sitemap: http://example.com/sitemap.xml\n"
    )
