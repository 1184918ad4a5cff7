"""Out-of-process correctness check, run after the measuring process exits.

``python3 perfbench/verify.py <run_dir> <inputs_dir>`` compares every saved
top-k answer with ``admarus_spark.oracle.OracleIndex`` over the corpus the
index held when the query ran, and writes ``verify.json``.

- ``base``: a fresh build of the base corpus. Doc ids are the oracle's
  (dense rank of (repo, path)), so the (doc_id, score) lists must be equal.
- ``live``: after ``update(delta)``. The engine keeps old ids and appends
  new ones, so rows are matched by (repo, path): the float64 score list
  must equal the oracle's top-k scores, and every returned document must
  have exactly that score in the oracle (ties at the k-th score may pick
  different documents).
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd

from inputs import live_corpus

from admarus_spark.oracle import OracleIndex

K = 10


def check(oracle: OracleIndex, state: str, query: str, rows: list, full: dict) -> bool:
    want = oracle.search(query, K)
    if state == "base":
        got = sorted(((int(d), float(s)) for d, s, _, _ in rows), key=lambda r: (-r[1], r[0]))
        return got == want
    if (state, query) not in full:
        docs = oracle.docs
        full[state, query] = {
            (docs["repo"][i], docs["path"][i]): s for i, s in oracle.search(query, oracle.n_docs)
        }
    scores = full[state, query]
    got_scores = sorted((float(s) for _, s, _, _ in rows), reverse=True)
    return got_scores == [s for _, s in want] and all(
        scores.get((repo, path)) == float(s) for _, s, repo, path in rows
    )


def main(run_dir: str, inputs_dir: str) -> None:
    with open(os.path.join(run_dir, "answers.json")) as f:
        answers = json.load(f)
    base = pd.read_parquet(os.path.join(inputs_dir, "base.parquet"))
    corpora = {"base": lambda: base}
    corpora["live"] = lambda: live_corpus(
        base, pd.read_parquet(os.path.join(inputs_dir, "delta.parquet"))
    )
    oracles: dict[str, OracleIndex] = {}
    full: dict[str, dict] = {}
    memo: dict[tuple, bool] = {}
    mismatches = []
    for a in answers:
        state = a["state"]
        if state not in oracles:
            oracles[state] = OracleIndex(corpora[state]())
        key = (state, a["query"], json.dumps(a["rows"]))
        if key not in memo:
            memo[key] = check(oracles[state], state, a["query"], a["rows"], full)
        if not memo[key]:
            mismatches.append(a)
    with open(os.path.join(run_dir, "verify.json"), "w") as f:
        json.dump({
            "checked": len(answers),
            "mismatches": len(mismatches),
            "failed_ops": sorted({a["op"] for a in mismatches}),
            "examples": [{"state": a["state"], "query": a["query"]} for a in mismatches[:5]],
        }, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
