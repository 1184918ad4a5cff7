"""Query AST with exact parity to the reference.

Reference: ``/root/reference/daemon/src/query/query.rs:29-45`` defines
``QueryComp::{Word, Filter{name,value}, Not, NAmong{n, among}}``; AND chains
flatten to ``NAmong{n=len}``, OR chains to ``NAmong{n=1}``
(``daemon/src/query/parsing.rs:17-57``).

AST-derived term extraction mirrors ``daemon/src/query/query.rs:73-107``:

- ``positive_terms`` — words outside any NOT subtree (drives candidate
  generation, ``daemon/src/query/matching.rs:70-84``),
- ``terms`` — all words including those under NOT,
- ``positive_filters`` — (name, value) pairs outside NOT subtrees,
- ``filters`` — all (name, value) pairs including those under NOT,
- ``weighted_terms`` — weight 1.0 at root divided by fan-out per level
  (``query.rs:91-98``), computed on ``clone_only_words`` (``query.rs:48-71``).
"""

from __future__ import annotations

from dataclasses import dataclass, field


class QueryComp:
    """Base class for query AST nodes."""

    # rule tag used only for parse-tree flattening parity ('and'|'or'|None)
    rule: str | None = None


@dataclass
class Word(QueryComp):
    word: str
    rule: str | None = None

    def __repr__(self) -> str:  # compact, for test goldens
        return f"Word({self.word!r})"


@dataclass
class Filter(QueryComp):
    name: str
    value: str
    rule: str | None = None

    def __repr__(self) -> str:
        return f"Filter({self.name!r}={self.value!r})"


@dataclass
class Not(QueryComp):
    comp: QueryComp
    rule: str | None = None

    def __repr__(self) -> str:
        return f"Not({self.comp!r})"


@dataclass
class NAmong(QueryComp):
    n: int
    among: list[QueryComp] = field(default_factory=list)
    rule: str | None = None  # 'and' / 'or' for flatten parity; None for explicit n(...)

    def __repr__(self) -> str:
        inner = ", ".join(repr(c) for c in self.among)
        return f"NAmong(n={self.n}, [{inner}])"


@dataclass
class Query:
    root: QueryComp

    def positive_terms(self) -> list[str]:
        return _positive_terms(self.root)

    def terms(self) -> list[str]:
        return _terms(self.root)

    def positive_filters(self) -> list[tuple[str, str]]:
        return _positive_filters(self.root)

    def filters(self) -> list[tuple[str, str]]:
        return _filters(self.root)

    def weighted_terms(self) -> list[tuple[str, float]]:
        only = clone_only_words(self.root)
        return _weighted_terms(only, 1.0) if only is not None else []

    def __repr__(self) -> str:
        return f"Query({self.root!r})"


def _positive_terms(c: QueryComp) -> list[str]:
    if isinstance(c, Word):
        return [c.word]
    if isinstance(c, (Filter, Not)):
        return []
    if isinstance(c, NAmong):
        out: list[str] = []
        for ch in c.among:
            out.extend(_positive_terms(ch))
        return out
    raise TypeError(type(c))


def _terms(c: QueryComp) -> list[str]:
    if isinstance(c, Word):
        return [c.word]
    if isinstance(c, Filter):
        return []
    if isinstance(c, Not):
        return _terms(c.comp)
    if isinstance(c, NAmong):
        out: list[str] = []
        for ch in c.among:
            out.extend(_terms(ch))
        return out
    raise TypeError(type(c))


def _positive_filters(c: QueryComp) -> list[tuple[str, str]]:
    if isinstance(c, Filter):
        return [(c.name, c.value)]
    if isinstance(c, (Word, Not)):
        return []
    if isinstance(c, NAmong):
        out: list[tuple[str, str]] = []
        for ch in c.among:
            out.extend(_positive_filters(ch))
        return out
    raise TypeError(type(c))


def _filters(c: QueryComp) -> list[tuple[str, str]]:
    if isinstance(c, Filter):
        return [(c.name, c.value)]
    if isinstance(c, Word):
        return []
    if isinstance(c, Not):
        return _filters(c.comp)
    if isinstance(c, NAmong):
        out: list[tuple[str, str]] = []
        for ch in c.among:
            out.extend(_filters(ch))
        return out
    raise TypeError(type(c))


def required_words(c: QueryComp) -> set[str]:
    """Words that EVERY matching doc must contain: a Word matches only docs
    holding it, and an NAmong with n == len(among) requires all children.
    Any other shape guarantees nothing. Drives conjunctive decode pruning
    (group_eval.evaluate_group): candidates are bounded by the rarest
    required word's postings — exact, since docs lacking it fail the fold
    gate."""
    if isinstance(c, Word):
        return {c.word}
    if isinstance(c, NAmong) and c.n == len(c.among):
        out: set[str] = set()
        for ch in c.among:
            out |= required_words(ch)
        return out
    return set()


def clone_only_words(c: QueryComp) -> QueryComp | None:
    """Strip Filter comps, decrementing n per stripped child (query.rs:48-71)."""
    if isinstance(c, Word):
        return Word(c.word)
    if isinstance(c, Filter):
        return None
    if isinstance(c, Not):
        inner = clone_only_words(c.comp)
        return Not(inner) if inner is not None else None
    if isinstance(c, NAmong):
        n = c.n
        new_among: list[QueryComp] = []
        for ch in c.among:
            cl = clone_only_words(ch)
            if cl is None:
                n = max(0, n - 1)
            else:
                new_among.append(cl)
        if n == 0:
            return None
        return NAmong(n=n, among=new_among)
    raise TypeError(type(c))


def _weighted_terms(c: QueryComp, weight: float) -> list[tuple[str, float]]:
    if isinstance(c, Word):
        return [(c.word, weight)]
    if isinstance(c, NAmong):
        out: list[tuple[str, float]] = []
        for ch in c.among:
            out.extend(_weighted_terms(ch, weight / len(c.among)))
        return out
    # reference panics on Filter/Not here (query.rs:94-95). clone_only_words
    # strips Filter but KEEPS Not(words), so a query like "a AND NOT b"
    # would panic in the reference; we return [] for the Not subtree instead
    # (its terms never contribute weight — do NOT descend: negated terms
    # must not gain positive weights) and still raise on Filter, which a
    # correct strip can never deliver here.
    if isinstance(c, Not):
        return []
    raise TypeError(type(c))
