#!/usr/bin/env python3
"""The repo's benchmark: one command, every metric by name with its unit.

    python3 perfbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload serve --seed 1 --seconds 2 --trace 0 --smoke

Run from the repository root. Three processes run one after another, each
in its own session and each reaped before the next starts:

1. ``inputs.py`` makes the corpus, delta and query mix from the seed
   (cached on disk per workload and seed);
2. ``measure.py`` starts Spark with the environment pinned below, sets the
   workload up, times a window of whole query passes sized from
   ``--seconds`` and saves every answer;
3. ``verify.py`` checks every answer against the NumPy oracle.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The lines before
it give the pinned environment, the host context and the sample counts.
See README.md for the workloads and what each metric should move.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("serve", "ingest")
RUN_LIMIT_S = 170
# A fixed driver heap that fits any host with MIN_AVAILABLE_MB free (the
# engine's own 24g default cannot start on a 15 GB host). Fixed, not sized
# from the host, so that a change to the engine's heap sizing cannot
# change what the benchmark measures.
DRIVER_MEM = "2g"
MIN_AVAILABLE_MB = 4096

END_TO_END = {
    "setup_s": "s",
    "search_p50_ms": "ms",
    "build_docs_per_s": "1/s",
    "index_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}
SHAPES = ("hot", "rare", "and", "or", "nofm", "andnot", "lang")
# Span names whose self time the trace reports, one per layer boundary.
SELF_TIME_SPANS = (
    "session.start", "build", "engine.init", "engine.refresh", "parser.parse",
    "engine.search", "engine.collect", "search_many.plan", "search_many.collect",
    "incremental.update", "incremental.compact", "spark.job",
)
PER_LAYER = {
    "session.start_s": "s",
    "spark.gc_s": "s",
    "parser.parse_ms": "ms",
    "engine.init_s": "s",
    "engine.refresh_s": "s",
    "engine.plan_ms": "ms",
    "engine.plan_jobs": "count",
    "engine.exec_ms": "ms",
    "engine.exec_jobs": "count",
    "engine.task_cpu_ms": "ms",
    **{f"engine.exec_ms.{s}": "ms" for s in SHAPES},
    "engine.samples": "count",
    "search_many.qps": "1/s",
    "search_many.plan_ms": "ms",
    "search_many.exec_ms": "ms",
    "search_many.jobs": "count",
    "search_many.task_cpu_ms": "ms",
    "build.stage1_s": "s",
    "build.stage2_s": "s",
    "build.stage3_s": "s",
    "build.shuffle_write_bytes": "bytes",
    "build.task_cpu_s": "s",
    "codec.postings_bytes_per_posting": "bytes",
    "incremental.update_s": "s",
    "incremental.update_jobs": "count",
    "incremental.update_task_cpu_s": "s",
    "incremental.docs_per_s": "1/s",
    "incremental.compact_s": "s",
    "incremental.compact_shuffle_bytes": "bytes",
    "incremental.postings_files": "count",
    "verify.checked": "count",
    "verify.mismatches": "count",
    "trace.span_coverage": "ratio",
    "trace.overhead_ms": "ms",
    **{f"self_s.{n}": "s" for n in SELF_TIME_SPANS},
}


# --- host and environment ---------------------------------------------------
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_snapshot() -> dict:
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"cpu": cpu_times(), "loadavg": [float(x) for x in load],
            "mem_available_mb": round(mem_available_mb())}


def host_context(start: dict, end: dict) -> dict:
    """CPU steal and iowait shares over the run (from /proc/stat deltas)."""
    d = [b - a for a, b in zip(start["cpu"], end["cpu"])]
    total = sum(d) or 1
    return {
        "nproc": nproc(),
        "steal_share": d[7] / total if len(d) > 7 else None,
        "iowait_share": d[4] / total,
        "loadavg_start": start["loadavg"],
        "loadavg_end": end["loadavg"],
        "mem_available_mb_start": start["mem_available_mb"],
        "mem_available_mb_end": end["mem_available_mb"],
    }


def source_ids() -> dict:
    """The git commit when run inside a clone, and always a hash of the
    program's sources (the benchmark may run from a plain checkout)."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "admarus_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    sha = None
    head = ROOT / ".git" / "HEAD"
    if head.exists():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            ref_file = ROOT / ".git" / ref[5:]
            sha = ref_file.read_text().strip() if ref_file.exists() else None
        else:
            sha = ref
    return {"git_sha": sha, "source_sha256": h.hexdigest()}


def pinned_env(local_dirs: Path) -> dict:
    """The program's environment, set from outside: every inherited
    SPARK_GRAFT_* knob is dropped, then cores, heap and scratch are pinned."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(local_dirs),
        "PYTHONPATH": os.pathsep.join([str(ROOT), str(HERE)]),
        "PYTHONHASHSEED": "0",
    })
    return env


# --- child processes ----------------------------------------------------------
def session_members(sid: int) -> list[int]:
    out = []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[3]) == sid:
            out.append(int(stat.parent.name))
    return out


def reap(sid: int) -> None:
    """Wait until every process of the child's session has exited: the JVM
    and the Python workers exit on their own once the measuring process is
    gone; any still alive after a grace period is terminated, then killed."""
    deadline = time.time() + 15
    sig = None
    while members := session_members(sid):
        if time.time() > deadline - 10 and sig is None:
            sig = signal.SIGTERM
        if time.time() > deadline:
            sig = signal.SIGKILL
        if sig is not None:
            for pid in members:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def child(args: list[str], env: dict, timeout: float, phases: dict) -> bool:
    t = time.time()
    p = subprocess.Popen(
        [sys.executable, *args], cwd=ROOT, env=env,
        stdout=sys.stderr, stderr=sys.stderr, start_new_session=True,
    )
    try:
        ok = p.wait(timeout=max(1.0, timeout)) == 0
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        ok = False
    reap(p.pid)
    phases[Path(args[0]).stem] = time.time() - t
    if not ok:
        print(f"perfbench: {' '.join(args)} failed", file=sys.stderr)
    return ok


# --- metrics ------------------------------------------------------------------
def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(r: dict, spans: list[dict], meta: dict) -> dict:
    queries = [s for s in spans if s["name"] == "query" and s["timed"]]
    return {
        "setup_s": r["setup_s"],
        "search_p50_ms": 1000 * median(s["end"] - s["start"] for s in queries),
        "build_docs_per_s": meta["n_docs"] / r["build_s"],
        "index_bytes_per_input_byte": r["index_bytes"] / meta["content_bytes"],
        "peak_rss_mb": r["peak_rss_mb"],
    }


def per_layer(r: dict, spans: list[dict], meta: dict, verify: dict) -> dict:
    by_id = {s["id"]: s for s in spans}
    # untraced spans have no job children; session.start runs no jobs
    traced = [s for s in spans if s["traced"] or s["name"] in ("spark.job", "session.start")]

    def dur(s):
        return s["end"] - s["start"]

    def named(name, pool=traced):
        return [s for s in pool if s["name"] == name]

    def under(name, parent_name):
        """Timed spans called ``name`` whose parent is a timed ``parent_name``."""
        return [
            s for s in named(name)
            if s["parent"] in by_id and by_id[s["parent"]]["name"] == parent_name
            and by_id[s["parent"]].get("timed")
        ]

    queries = [s for s in named("query") if s["timed"]]
    batches = [s for s in named("batch") if s["timed"]]
    untraced_q = [s for s in spans if s["name"] == "query" and s["timed"] and not s["traced"]]
    builds = named("build")
    updates, compacts = named("incremental.update"), named("incremental.compact")
    refreshes = named("engine.refresh")
    update_refresh = [
        dur(u) + dur(min((x for x in refreshes if x["start"] >= u["end"]), key=lambda x: x["start"]))
        for u in updates
    ]
    children: dict[int, list] = {}
    for s in traced:
        children.setdefault(s["parent"], []).append(s)
    self_s = {}
    for s in traced:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in children.get(s["id"], [])]
        self_s[s["name"]] = self_s.get(s["name"], 0.0) + max(0.0, dur(s) - union_seconds(kids))
    stage = r["build_stage_s"]
    out = {
        "session.start_s": dur(named("session.start", spans)[0]),
        "spark.gc_s": r["gc_window_s"],
        "parser.parse_ms": 1000 * median(dur(s) for s in under("parser.parse", "query")),
        "engine.init_s": dur(named("engine.init", spans)[0]),
        "engine.refresh_s": median(dur(s) for s in refreshes),
        "engine.plan_ms": 1000 * median(dur(s) for s in under("engine.search", "query")),
        "engine.plan_jobs": median(s["jobs"] for s in under("engine.search", "query")),
        "engine.exec_ms": 1000 * median(dur(s) for s in under("engine.collect", "query")),
        "engine.exec_jobs": median(s["jobs"] for s in under("engine.collect", "query")),
        "engine.task_cpu_ms": 1000 * median(s["task_cpu_s"] for s in queries),
        "engine.samples": len(queries),
        "search_many.qps": sum(s["size"] for s in batches) / sum(dur(s) for s in batches),
        "search_many.plan_ms": 1000 * median(dur(s) for s in under("search_many.plan", "batch")),
        "search_many.exec_ms": 1000 * median(dur(s) for s in under("search_many.collect", "batch")),
        "search_many.jobs": median(s["jobs"] for s in batches),
        "search_many.task_cpu_ms": 1000 * median(s["task_cpu_s"] for s in batches),
        "build.stage1_s": stage["stage1_tokenize"],
        "build.stage2_s": stage["stage2_postings"],
        "build.stage3_s": stage["stage3_summaries"],
        "build.shuffle_write_bytes": median(s["shuffle_write_bytes"] for s in builds),
        "build.task_cpu_s": median(s["task_cpu_s"] for s in builds),
        "codec.postings_bytes_per_posting": r["postings_bytes"] / r["n_postings"],
        "incremental.update_s": median(dur(s) for s in updates),
        "incremental.update_jobs": median(s["jobs"] for s in updates),
        "incremental.update_task_cpu_s": median(s["task_cpu_s"] for s in updates),
        "incremental.docs_per_s": meta["delta_docs"] / median(update_refresh),
        "incremental.compact_s": median(dur(s) for s in compacts),
        "incremental.compact_shuffle_bytes": median(s["shuffle_write_bytes"] for s in compacts),
        "incremental.postings_files": r["postings_files"],
        "verify.checked": verify["checked"],
        "verify.mismatches": verify["mismatches"],
        "trace.span_coverage": coverage(spans, r["t_first"], r["t_end"]),
        "trace.overhead_ms": 1000 * (median(dur(s) for s in queries)
                                     - median(dur(s) for s in untraced_q)),
    }
    for shape in SHAPES:
        out[f"engine.exec_ms.{shape}"] = 1000 * median(
            dur(s) for s in under("engine.collect", "query")
            if by_id[s["parent"]]["shape"] == shape
        )
    for n in SELF_TIME_SPANS:
        out[f"self_s.{n}"] = self_s.get(n, 0.0)
    return out


def union_seconds(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def coverage(spans: list[dict], start: float, end: float) -> float:
    tops = [(max(s["start"], start), min(s["end"], end)) for s in spans if s["parent"] is None]
    return union_seconds(tops) / (end - start)


def pass_medians(spans: list[dict]) -> list[float]:
    """Median single-query latency of each pass of the mix, in run order
    (warm-up passes first) — the warm-up evidence in README.md."""
    qs = sorted((s for s in spans if s["name"] == "query"), key=lambda s: s["start"])
    n = len(SHAPES)
    return [
        round(1000 * statistics.median(s["end"] - s["start"] for s in qs[i:i + n]), 1)
        for i in range(0, len(qs), n)
    ]


# --- main ---------------------------------------------------------------------
def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="a few hundred docs: checks the harness, not the program's speed")
    args = ap.parse_args(argv)

    t0 = time.time()
    if not (ROOT / "admarus_spark" / "__init__.py").is_file():
        print(f"perfbench: no admarus_spark package under {ROOT}", file=sys.stderr)
        return 2
    if mem_available_mb() < MIN_AVAILABLE_MB:
        print(f"perfbench: needs {MIN_AVAILABLE_MB} MB available", file=sys.stderr)
        return 2
    host0 = host_snapshot()

    inputs = WORK / "inputs" / f"{args.workload}-{args.seed}-{'smoke' if args.smoke else 'full'}"
    run_dir = WORK / "run"
    local_dirs = WORK / "spark-local"
    for d in (run_dir, local_dirs):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    env = pinned_env(local_dirs)
    cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "inputs": str(inputs), "run_dir": str(run_dir)}
    (run_dir / "cfg.json").write_text(json.dumps(cfg))

    def left() -> float:
        return RUN_LIMIT_S - (time.time() - t0)

    phases: dict[str, float] = {}
    ok = (
        child([str(HERE / "inputs.py"), str(inputs), args.workload, str(args.seed),
               "1" if args.smoke else "0"], env, left() - 60, phases)
        and child([str(HERE / "measure.py"), str(run_dir / "cfg.json")], env, left() - 15, phases)
        and child([str(HERE / "verify.py"), str(run_dir), str(inputs)], env, left(), phases)
    )
    shutil.rmtree(local_dirs, ignore_errors=True)
    if not ok:
        return 1

    r = json.loads((run_dir / "result.json").read_text())
    spans = json.loads((run_dir / "spans.json").read_text())
    verify = json.loads((run_dir / "verify.json").read_text())
    meta = json.loads((inputs / "meta.json").read_text())
    if args.trace:
        values, units = per_layer(r, spans, meta, verify), PER_LAYER
    else:
        values, units = end_to_end(r, spans, meta), END_TO_END

    failed = r["failed"] + len(verify["failed_ops"])
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke,
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")},
        "host": host_context(host0, host_snapshot()),
        **source_ids(),
        "corpus_docs": meta["n_docs"], "corpus_bytes": meta["content_bytes"],
        "delta_docs": meta["delta_docs"], "index_terms": r["n_terms"],
        "timed_queries": len([s for s in spans if s["name"] == "query" and s["timed"]]),
        "timed_batches": len([s for s in spans if s["name"] == "batch" and s["timed"]]),
        "pass_medians_ms": pass_medians(spans),
        "window_s": r["window_s"], "wall_s": time.time() - t0,
        "process_s": phases,
        "verify": verify,
    }
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-{args.seed}-t{args.trace}{'-smoke' if args.smoke else ''}"
    (results / f"{name}.json").write_text(json.dumps({**report, "metrics": values}, indent=1))
    (results / f"{name}.spans.json").write_text(json.dumps(spans))
    for k, v in report.items():
        print(f"# {k}: {json.dumps(v)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": r["attempted"],
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
