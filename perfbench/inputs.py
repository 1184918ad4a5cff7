"""Seeded inputs for one benchmark run: corpus, delta and query mix.

Run as its own process (``python3 perfbench/inputs.py <out_dir> <workload>
<seed> <smoke>``) so the measuring process never holds the corpus in
memory. The output directory is a cache keyed by workload, seed and size:
the same arguments always produce the same files.

Files written:

- ``base.parquet``   — the corpus the set-up builds index;
- ``delta.parquet``  — one crawler delta: half changed content on existing
  paths, half new paths;
- ``queries.json``   — the query mix (single queries and batches of 8).
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd

from admarus_spark.corpus import _VOCAB, make_bench_corpus, sha256_hex

SIZES = {
    "serve": {"n_docs": 600, "vocab": 200_000, "delta": 200},
    "ingest": {"n_docs": 600, "vocab": 1_000_000, "delta": 200},
}
SMOKE_SIZES = {
    "serve": {"n_docs": 300, "vocab": 200_000, "delta": 40},
    "ingest": {"n_docs": 300, "vocab": 1_000_000, "delta": 40},
}

# Query shapes and their fixed share of the mix: one of each per round.
SHAPES = ("hot", "rare", "and", "or", "nofm", "andnot", "lang")
BATCH_SIZE = 8
N_ROUNDS = 64  # more rounds than any window can use; the run takes a prefix
N_BATCHES = 32


def _delta(base: pd.DataFrame, fresh: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Half changed content on existing paths, half new paths."""
    rng = np.random.RandomState(seed + 3)
    n_changed = len(fresh) // 2
    changed = base.iloc[rng.choice(len(base), n_changed, replace=False)].copy()
    changed["content"] = fresh["content"].to_numpy()[:n_changed]
    changed["content_sha256"] = changed["content"].map(sha256_hex)
    new = fresh.iloc[n_changed:].copy()
    new["path"] = "new/" + new["path"]
    return pd.concat([changed, new], ignore_index=True)


def _rare_terms(pdf: pd.DataFrame, rng: np.random.RandomState, n: int) -> list[str]:
    """Synthetic identifiers (``ident…``) that occur in 1 to 3 docs."""
    per_doc = pdf["content"].str.findall(r"\bident[0-9]+\b").map(set).explode().dropna()
    df = per_doc.value_counts()
    pool = sorted(df[(df >= 1) & (df <= 3)].index)
    return [pool[i] for i in rng.choice(len(pool), n)]


def _queries(pdf: pd.DataFrame, seed: int) -> dict:
    rng = np.random.RandomState(seed + 11)
    hot = _VOCAB[:3]          # each in well over half the docs
    mid = _VOCAB[10:80]
    rare = _rare_terms(pdf, rng, N_ROUNDS + N_BATCHES)

    def one(shape: str, i: int) -> str:
        a, b, c = rng.choice(mid, 3, replace=False)
        return {
            "hot": hot[rng.randint(len(hot))],
            "rare": rare[i],
            "and": f"{a} AND {b}",
            "or": f"{a} {b} {c}",
            "nofm": f"2({a}, {b}, {c})",
            "andnot": f"{a} AND NOT {b}",
            "lang": f"lang=python AND {a}",
        }[shape]

    rounds = [[[s, one(s, r)] for s in SHAPES] for r in range(N_ROUNDS)]
    # a batch holds every shape once plus one more rare identifier
    batches = [
        [[s, one(s, N_ROUNDS + b)] for s in SHAPES] + [["rare", rare[N_ROUNDS + b]]]
        for b in range(N_BATCHES)
    ]
    assert all(len(b) == BATCH_SIZE for b in batches)
    return {"rounds": rounds, "batches": batches}


def generate(out_dir: str, workload: str, seed: int, smoke: bool) -> None:
    if os.path.exists(os.path.join(out_dir, "done")):
        return
    os.makedirs(out_dir, exist_ok=True)
    size = (SMOKE_SIZES if smoke else SIZES)[workload]
    n = size["n_docs"]
    docs = make_bench_corpus(n + size["delta"], seed=seed, vocab_size=size["vocab"])
    base, fresh = docs.iloc[:n].reset_index(drop=True), docs.iloc[n:]
    delta = _delta(base, fresh, seed)
    base.to_parquet(os.path.join(out_dir, "base.parquet"), index=False)
    delta.to_parquet(os.path.join(out_dir, "delta.parquet"), index=False)
    with open(os.path.join(out_dir, "queries.json"), "w") as f:
        json.dump(_queries(base, seed), f)
    meta = {
        "n_docs": len(base),
        "content_bytes": int(base["content"].str.len().sum()),
        "delta_docs": len(delta),
    }
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(out_dir, "done"), "w") as f:
        f.write("ok\n")


def live_corpus(base: pd.DataFrame, delta: pd.DataFrame) -> pd.DataFrame:
    """The corpus an index holds after ``update(delta)``: delta rows replace
    base rows with the same (repo, path)."""
    keys = set(zip(delta["repo"], delta["path"]))
    keep = [k not in keys for k in zip(base["repo"], base["path"])]
    return pd.concat([base[keep], delta], ignore_index=True)


if __name__ == "__main__":
    generate(sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4] == "1")
