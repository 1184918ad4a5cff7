"""Property test: the two NumPy fold implementations that must stay
bit-identical — ``oracle.OracleIndex._fold`` (the correctness contract) and
``search.group_eval._fold`` (the executor-side batched path) — agree on
random corpora and random query ASTs, metadata filters included (a
filter leaf reads its membership mask under ``filter_key``). CLAUDE.md pins
the rule 'change oracle._fold and group_eval._fold TOGETHER'; this test
makes a one-sided edit fail fast without a Spark session (pure NumPy,
hundreds of examples)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from admarus_spark.oracle import OracleIndex
from admarus_spark.query.ast import Filter, NAmong, Not, QueryComp, Word
from admarus_spark.search.group_eval import _fold as ge_fold
from admarus_spark.search.group_eval import filter_key

VOCAB = ["aaa", "bbb", "ccc", "ddd", "eee", "fff"]
FILTERS = [("lang", "en"), ("lang", "py"), ("repo", "r"), ("repo", "s"), ("path", "x")]


def _ast(draw, depth: int) -> QueryComp:
    if depth <= 0 or draw(st.integers(0, 4)) == 0:
        if draw(st.booleans()):
            return Filter(*draw(st.sampled_from(FILTERS)))
        return Word(draw(st.sampled_from(VOCAB + ["zzz_absent"])))
    kind = draw(st.sampled_from(["word", "not", "namong"]))
    if kind == "word":
        return Word(draw(st.sampled_from(VOCAB + ["zzz_absent"])))
    if kind == "not":
        return Not(_ast(draw, depth - 1))
    m = draw(st.integers(min_value=1, max_value=3))
    children = [_ast(draw, depth - 1) for _ in range(m)]
    n = draw(st.integers(min_value=1, max_value=m))
    return NAmong(n=n, among=children, rule="namong")


@st.composite
def corpus_and_ast(draw):
    import pandas as pd

    n_docs = draw(st.integers(min_value=1, max_value=12))
    docs = []
    for i in range(n_docs):
        words = draw(
            st.lists(st.sampled_from(VOCAB), min_size=1, max_size=12)
        )
        repo = draw(st.sampled_from(["r", "s"]))
        lang = draw(st.sampled_from(["en", "py"]))
        docs.append((repo, f"d{i:03d}.txt", lang, " ".join(words)))
    pdf = pd.DataFrame(docs, columns=["repo", "path", "lang", "content"])
    root = _ast(draw, draw(st.integers(min_value=0, max_value=3)))
    return pdf, root


def _terms(comp: QueryComp) -> set[str]:
    if isinstance(comp, Word):
        return {comp.word}
    if isinstance(comp, Filter):
        return set()
    if isinstance(comp, Not):
        return _terms(comp.comp)
    if isinstance(comp, NAmong):
        out: set[str] = set()
        for c in comp.among:
            out |= _terms(c)
        return out
    raise TypeError(type(comp))


@settings(max_examples=200, deadline=None)
@given(corpus_and_ast())
def test_group_eval_fold_matches_oracle_fold_bitwise(case):
    pdf, root = case
    oi = OracleIndex(pdf)
    cand = np.arange(oi.n_docs, dtype=np.int64)
    dl = oi.doc_len
    B_ref, S_ref = oi._fold(root, cand, dl)

    # group_eval receives per-term (B, S) maps computed by the identical
    # BM25 expression — build them from the oracle's own term_scores so the
    # comparison isolates the FOLD, the piece maintained in two places
    B_map, S_map = {}, {}
    for t in _terms(root):
        if t in oi.postings:
            B_map[t], S_map[t] = oi.term_scores(t, cand, dl)
    # filter masks as the engine ships them: only metadata columns
    for name, value in FILTERS:
        if name in oi.meta:
            B_map[filter_key(name, value)] = oi.meta[name][cand] == value
    B_ge, S_ge = ge_fold(root, B_map, S_map, cand.size)

    assert np.array_equal(B_ref, B_ge)
    # bit-identical floats (incl. signed zeros): compare raw bit patterns
    assert np.array_equal(
        S_ref.view(np.uint64), np.asarray(S_ge, dtype=np.float64).view(np.uint64)
    )
