"""glug-dialect query parser → executable query plan.

Reuses the semantic kernel (select-mode decomposition, escape-aware
split, typetag expansion — reference src/glob.cpp dialect rules) and
adds the full-text constructs the index engine answers:

    data join           → AND of terms (glug: all filters must admit)
    "table scan"        → exact phrase (adjacent token positions)
    "table merge"~3     → proximity: terms within 3 positions, any order
    "table merge"~>3    → ordered proximity: 2nd term after 1st, ≤3 away
    dat*                → glob token pattern (whole-token match)
    -noise              → negated term (select-dialect '-' inversion)
    #cpp                → typetag (expands to glob patterns)
    any("a","b")        → explicit disjunction group

Whitespace separates conjuncts; ','-lists inside a conjunct are
disjunctive (a select expression admits a file matching ANY positive
glob), mirroring the reference's select semantics.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from glug_spark.semantics.glob import split
from glug_spark.semantics.typetags import TypetagDatabase

_GLOB_CHARS = set("*?[")


@dataclass
class QueryPlan:
    """Normalized query: conjunction of positive groups + negations.

    Each element of ``groups`` is a disjunctive group: a list of
    (kind, value) where kind ∈ {'term', 'glob'}; a doc must match at
    least one member of every group. ``phrases`` are AND-ed exact
    phrases. ``negations`` are (kind, value) a doc must NOT match.
    """

    groups: list[list[tuple[str, str]]] = field(default_factory=list)
    phrases: list[list[str]] = field(default_factory=list)
    negations: list[tuple[str, str]] = field(default_factory=list)
    #: proximity constraints: (term_a, term_b, slop, ordered) — b within
    #: slop positions of a ('"a b"~3'); ordered = b strictly after a
    #: ('"a b"~>3'). AND-ed like phrases; words score like phrase words.
    nears: list[tuple[str, str, int, bool]] = field(default_factory=list)

    @property
    def positive_terms(self) -> list[str]:
        return [v for g in self.groups for k, v in g if k == "term"]

    @property
    def near_words(self) -> list[str]:
        return list(dict.fromkeys(
            w for a, b, _, _ in self.nears for w in (a, b)
        ))

    @property
    def positive_globs(self) -> list[str]:
        return [v for g in self.groups for k, v in g if k == "glob"]


def _classify(token: str) -> tuple[str, str]:
    return ("glob", token) if _GLOB_CHARS & set(token) else ("term", token)


def parse_query(
    query: str, tags: TypetagDatabase | None = None
) -> QueryPlan:
    """Parse a glug-dialect query string into a :class:`QueryPlan`."""
    db = tags or TypetagDatabase()
    plan = QueryPlan()

    # extract quoted phrases / proximity constraints first (not part of
    # the reference dialect — the full-text extension). A closing quote
    # may carry a slop suffix: "a b"~3 (unordered) / "a b"~>3 (ordered).
    import re as _re

    rest: list[str] = []
    i = 0
    n = len(query)
    while i < n:
        ch = query[i]
        if ch != '"':
            rest.append(ch)
            i += 1
            continue
        j = query.find('"', i + 1)
        if j == -1:
            # unclosed quote: treat the buffered tail as a phrase rather
            # than silently dropping it ('foo "bar baz' keeps bar baz)
            words = query[i + 1:].split()
            if words:
                plan.phrases.append(words)
            break
        words = query[i + 1:j].split()
        i = j + 1
        m = _re.match(r"~(>?)(\d+)", query[i:])
        if m is not None:
            i += m.end()
            if not words:
                continue
            if len(words) != 2:
                raise ValueError(
                    f"proximity query needs exactly 2 terms, got "
                    f"{len(words)}: {' '.join(words)!r}"
                )
            slop = int(m.group(2))
            if slop < 1:
                raise ValueError(f"proximity slop must be >= 1: ~{slop}")
            plan.nears.append((words[0], words[1], slop, bool(m.group(1))))
        elif words:
            plan.phrases.append(words)
    conjuncts = "".join(rest).split()

    for conjunct in conjuncts:
        expanded = db.expand(split(conjunct))
        group: list[tuple[str, str]] = []
        for token in expanded:
            if token.startswith("-") and len(token) > 1:
                plan.negations.append(_classify(token[1:]))
            else:
                group.append(_classify(token))
        if group:
            plan.groups.append(group)
    return plan
