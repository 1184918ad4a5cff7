#!/usr/bin/env python
"""Query-only scaling ladder -> BENCH/QUERY_DECOMP.json.

Re-runs the 10-query ``search_many`` batch (scale_bench.QUERY_BATCH) against
the persisted 800k-doc indexes at /tmp/admarus_scale_idx_{1,4} (left by the
scale_bench build workers), interleaving (cpus, wand) cells per round so a
query-side change can be re-laddered in minutes without rebuilds. Per-cell
MIN over rounds (one-sided host noise); every sample is committed, with the
per-phase driver timings (``SearchEngine.last_batch_timings``: ``prep_sec``
and ``plan_sec``) that separate the distributed job from the driver's
planning constant. Every cell's members take group-eval; an ``auto``
cell prunes blocks in the task, a ``wand="off"`` cell decodes every
member term whole (the unpruned reference).

Usage: python BENCH/query_ladder.py   (QL_ROUNDS=3 by default; resumes from
/tmp/qdecomp_r5.jsonl if a prior run was interrupted)
"""
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROUNDS = int(os.environ.get("QL_ROUNDS", "3"))
# QL_CELLS="1:auto,4:auto" restricts the ladder (e.g. auto-only for large-NQ
# weak-scaling runs where the unpruned baseline would dominate wall time)
_cells_env = os.environ.get("QL_CELLS", "1:auto,4:auto,1:off,4:off")
CELLS = [(int(c.split(":")[0]), c.split(":")[1]) for c in _cells_env.split(",")]
NQ = int(os.environ.get("QL_NQ", "10"))
OUT_JSON = os.environ.get("QL_OUT", os.path.join(REPO, "BENCH", "QUERY_DECOMP.json"))
OUT_JSONL = os.environ.get("QL_JSONL", f"/tmp/qdecomp_nq{NQ}.jsonl")

samples = []
if os.path.exists(OUT_JSONL):
    with open(OUT_JSONL) as f:
        samples = [json.loads(l) for l in f if l.strip()]
    print(f"resuming with {len(samples)} prior samples", flush=True)

total = ROUNDS * len(CELLS)
# resume by per-cell sample count, not list position: a prior run with a
# different QL_CELLS/QL_ROUNDS must not satisfy cells it never measured
_prior: dict = {}
for s in samples:
    k = (s["cpus"], s["wand"])
    _prior[k] = _prior.get(k, 0) + 1
_consumed: dict = {}
with open(OUT_JSONL, "a") as sink:
    for r in range(ROUNDS):
        for cpus, wand in CELLS:
            if _consumed.get((cpus, wand), 0) < _prior.get((cpus, wand), 0):
                _consumed[(cpus, wand)] = _consumed.get((cpus, wand), 0) + 1
                continue
            env = dict(os.environ, SPARK_GRAFT_QW_WAND=wand,
                       SPARK_GRAFT_QW_NQUERIES=str(NQ))
            out = subprocess.run(
                [sys.executable, os.path.join(REPO, "scale_bench.py"), "--query-worker", str(cpus)],
                capture_output=True, text=True, env=env, cwd=REPO,
            )
            if out.returncode != 0:
                print(out.stderr[-3000:], flush=True)
                raise SystemExit(f"worker failed: cpus={cpus} wand={wand}")
            line = out.stdout.strip().splitlines()[-1]
            rec = json.loads(line)
            samples.append(rec)
            sink.write(line + "\n")
            sink.flush()
            print(f"[{len(samples)}/{total}] {rec['cpus']} {rec['wand']}: "
                  f"{rec['query_sec']:.2f}s {rec['driver']}", flush=True)

mins, driver_at_min = {}, {}
_levels = sorted({c for c, _ in CELLS})
_wands = sorted({w for _, w in CELLS})
for cpus in _levels:
    for wand in _wands:
        cell = [s for s in samples if s["cpus"] == cpus and s["wand"] == wand]
        if not cell:
            continue
        best = min(cell, key=lambda s: s["query_sec"])
        key = f"local{cpus}_{wand}"
        mins[key] = round(best["query_sec"], 2)
        driver_at_min[key] = best["driver"]

eff = {}
for lo_c in _levels:
    for hi_c in _levels:
        if hi_c != 4 * lo_c:
            continue
        for wand in _wands:
            lo, hi = mins.get(f"local{lo_c}_{wand}"), mins.get(f"local{hi_c}_{wand}")
            if lo is not None and hi is not None and hi > 0:
                eff[f"query_{lo_c}_to_{hi_c}_{wand}"] = round((lo / hi) / 4, 3)

report = {
    "n_queries": NQ,
    "corpus": "800k docs / 200k-term realistic vocab (same as SCALING.json)",
    "note": os.environ.get("QL_NOTE", "post-group-eval ladder (r5: executor-side batched evaluation)"),
    "samples": samples,
    "min_sec": mins,
    "driver_at_min": driver_at_min,
    "scaling_efficiency": eff,
}
prev_path = OUT_JSON
with open(prev_path, "w") as f:
    json.dump(report, f, indent=2)
print(json.dumps({"min_sec": mins, "scaling_efficiency": eff}, indent=2))
