"""The measuring process: one Spark session, one client thread, one workload.

Run by ``run.py`` as ``python3 perfbench/measure.py <run_dir>/cfg.json``.
Writes ``result.json`` (timings and per-layer numbers), ``answers.json``
(every query's top-k, for the out-of-process oracle check) and
``spans.json`` (the trace) into the run directory.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time
import traceback

from tracing import Tracer

from admarus_spark.index.build import IndexBuilder
from admarus_spark.query.parser import parse_query
from admarus_spark.search.engine import SearchEngine
from admarus_spark.session import get_spark
from admarus_spark.streaming.incremental import IncrementalIndexer

K = 10
N_BUCKETS = 8
# Untimed passes of the mix before the window opens (README "Warm-up").
WARMUP_PASSES = {"serve": 1, "ingest": 0}
# Seconds one pass of the mix takes on the reference host, 4 vCPUs
# (README "Window"). The window is round(--seconds / PASS_S) whole passes.
PASS_S = {"serve": 5.0, "ingest": 10.0}
MIN_TIMED_ROUNDS = 1
MIN_TRACED_ROUNDS = 2  # alternating traced / untraced rounds
BATCHES_TRACED = 1


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.workload = cfg["workload"]
        self.inputs = cfg["inputs"]
        self.work = cfg["run_dir"]
        self.tracer = Tracer(enabled=bool(cfg["trace"]))
        with open(os.path.join(self.inputs, "queries.json")) as f:
            self.mix = json.load(f)
        self.answers: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.state = "base"  # corpus the index holds: base, or live after the delta
        self.postings_files: int | None = None  # postings parquet files after the update

    # --- wrapped calls ----------------------------------------------------
    def _op(self, fn, *args):
        """One attempted operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None

    def single(self, shape: str, text: str, timed: bool) -> None:
        t = self.tracer
        rid = t.new_request()

        def go():
            with t.span("query", request=rid, shape=shape, timed=timed):
                with t.span("parser.parse"):
                    q = parse_query(text)
                with t.span("engine.search"):
                    df = self.engine.search(q, K)
                with t.span("engine.collect"):
                    rows = df.collect()
            self.answers.append({
                "op": self.attempted, "state": self.state, "query": text,
                "rows": [[r["doc_id"], r["score"], r["repo"], r["path"]] for r in rows],
            })

        self._op(go)

    def batch(self, members: list, timed: bool) -> None:
        t = self.tracer
        rid = t.new_request()

        def go():
            with t.span("batch", request=rid, timed=timed, size=len(members)):
                with t.span("parser.parse"):
                    qs = {f"q{i}": parse_query(text) for i, (_, text) in enumerate(members)}
                with t.span("search_many.plan"):
                    df = self.engine.search_many(qs, K)
                with t.span("search_many.collect"):
                    rows = df.collect()
            by_q: dict[str, list] = {f"q{i}": [] for i in range(len(members))}
            for r in rows:
                by_q[r["query_id"]].append([r["doc_id"], r["score"], r["repo"], r["path"]])
            for i, (_, text) in enumerate(members):
                self.answers.append({"op": self.attempted, "state": self.state,
                                     "query": text, "rows": by_q[f"q{i}"]})

        self._op(go)

    def build(self, docs, index_dir: str, token: str):
        shutil.rmtree(index_dir, ignore_errors=True)
        b = IndexBuilder(self.spark, index_dir, n_buckets=N_BUCKETS)
        with self.tracer.span("build") as sp:
            self._op(b.build, docs, token, False)
        return b, sp

    def update(self, token: str) -> None:
        delta = self.spark.read.parquet(os.path.join(self.inputs, "delta.parquet"))
        inc = IncrementalIndexer(self.spark, self.index_dir)
        with self.tracer.span("incremental.update"):
            self._op(inc.update, delta, token)
        with self.tracer.span("engine.refresh"):
            self._op(self.engine.refresh)
        self.state = "live"
        self.postings_files = len(glob.glob(
            os.path.join(self.index_dir, "postings", "**", "*.parquet"), recursive=True))

    def compact(self) -> None:
        inc = IncrementalIndexer(self.spark, self.index_dir)
        with self.tracer.span("incremental.compact"):
            self._op(inc.compact)
        with self.tracer.span("engine.refresh"):
            self._op(self.engine.refresh)

    def round(self, i: int, timed: bool) -> None:
        """One pass of the mix: every shape once, single queries."""
        for shape, text in self.mix["rounds"][i % len(self.mix["rounds"])]:
            self.single(shape, text, timed)

    # --- the workload -----------------------------------------------------
    def run(self) -> dict:
        t = self.tracer
        t_first = time.time()
        with t.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench",
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
        t.attach(self.spark)
        jvm = self.spark.sparkContext._jvm
        gc_beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

        def gc_seconds() -> float:
            return sum(b.getCollectionTime() for b in gc_beans) / 1000.0

        # One build per run, in a fresh JVM: the set-up a user pays. A
        # second build would be a warm build, which no user's set-up is.
        self.index_dir = os.path.join(self.work, "idx")
        base = self.spark.read.parquet(os.path.join(self.inputs, "base.parquet"))
        builder, build_span = self.build(base, self.index_dir, "base")
        index_bytes = dir_bytes(self.index_dir)
        postings_bytes = dir_bytes(os.path.join(self.index_dir, "postings"))
        n_postings = builder.metrics["stage2_postings"]["n_postings"]
        n_terms = builder.metrics["stage2_postings"]["n_terms"]

        with t.span("engine.init"):
            self.engine = SearchEngine(self.spark, self.index_dir)
        passes = WARMUP_PASSES[self.workload]
        for i in range(passes):
            self.round(i, timed=False)
        if self.workload == "ingest":
            # the crawler's view: the first queries after update() + refresh()
            self.update("delta0")

        t_open = time.time()
        gc0 = gc_seconds()
        # A fixed number of whole passes, sized from --seconds: every run
        # and every commit times the same queries at the same point of the
        # warm-up curve, and every shape keeps its share of the samples.
        alternate = self.tracer.enabled
        n_passes = max(MIN_TRACED_ROUNDS if alternate else MIN_TIMED_ROUNDS,
                       int(self.cfg["seconds"] / PASS_S[self.workload] + 0.5))
        for j in range(n_passes):
            if alternate:  # odd passes untraced: the in-run tracing-overhead baseline
                t.enabled = j % 2 == 0
            self.round(passes + j, timed=True)
        t.enabled = alternate
        i = passes + n_passes
        t_close = time.time()
        gc_window = gc_seconds() - gc0

        if self.tracer.enabled:
            # Layers the untraced run leaves out, so that every layer
            # reports on every workload: batches (the first one untimed),
            # then serve takes its delta (ingest took it in set-up), then
            # compaction and one more pass to check the compacted index.
            for b in range(BATCHES_TRACED + 1):
                self.batch(self.mix["batches"][b], timed=b > 0)
            if self.workload == "serve":
                self.update("delta0")
            self.compact()
            self.round(i, timed=False)

        rss_mb = peak_rss_mb()
        t_end = time.time()
        self.spark.stop()

        return {
            "attempted": self.attempted,
            "failed": self.failed,
            "setup_s": t_open - t_first,
            "window_s": t_close - t_open,
            "peak_rss_mb": rss_mb,
            "build_s": build_span.seconds,
            "build_stage_s": {s: builder.metrics[s]["seconds"] for s in builder.metrics},
            "index_bytes": index_bytes,
            "postings_bytes": postings_bytes,
            "n_postings": n_postings,
            "n_terms": n_terms,
            "postings_files": self.postings_files,
            "gc_window_s": gc_window,
            "t_first": t_first,
            "t_end": t_end,
        }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def peak_rss_mb() -> float:
    """Summed VmHWM of this process and every descendant (the JVM and the
    Python workers it forked)."""
    parent: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(stat.split("/")[2])] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    run = Run(cfg)
    out = run.run()
    d = cfg["run_dir"]
    with open(os.path.join(d, "answers.json"), "w") as f:
        json.dump(run.answers, f)
    with open(os.path.join(d, "spans.json"), "w") as f:
        json.dump(run.tracer.dump(), f)
    with open(os.path.join(d, "result.json"), "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(sys.argv[1])
