#!/usr/bin/env python
"""Scaling-efficiency evidence (north rule: >= 0.8 from N to 4N executors).

No real multi-executor cluster exists in this sandbox, so per the driver's
instruction the same job runs at two parallelism levels — local[8] (N) and
local[32] (4N) — in separate JVMs on the same input, and we report both
throughputs plus ``efficiency = (throughput_32 / throughput_8) / 4``.

Usage:
    python scale_bench.py                 # parent: runs both, writes BENCH/
    python scale_bench.py --worker 8      # one measurement (internal)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

N_DOCS = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "800000"))
# realistic source-code dictionary (Heaps-law shape): 120 code words head a
# Zipf(1.2) distribution, synthetic identifiers fill the tail. 0 selects the
# legacy 120-word corpus (degenerate: every term hot).
VOCAB = int(os.environ.get("SPARK_GRAFT_SCALE_VOCAB", "200000"))
CORPUS_PARQUET = os.environ.get(
    "SPARK_GRAFT_SCALE_CORPUS", f"/tmp/admarus_scale_corpus_v{VOCAB}.parquet"
)
QUERY_BATCH = [
    "license", "parser AND lexer", "bloom / sketch / minhash", "2(posting, inverted, bm25)",
    "compiler AND NOT kernel", "lang=python AND shuffle", "retrieval ranking relevance",
    "checksum digest cipher", "partition AND shuffle", "hashmap AND btree",
]


def ensure_corpus() -> None:
    if os.path.exists(CORPUS_PARQUET):
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    from admarus_spark.corpus import make_bench_corpus

    # chunked generation bounds memory at large N; chunk prefix keeps
    # (repo, path) globally unique. Small row groups -> splittable file.
    chunk = 200_000
    writer = None
    done = 0
    ci = 0
    while done < N_DOCS:
        n = min(chunk, N_DOCS - done)
        pdf = make_bench_corpus(n, seed=13 + ci, vocab_size=VOCAB or None)
        pdf["path"] = f"c{ci}/" + pdf["path"]
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        if writer is None:
            writer = pq.ParquetWriter(CORPUS_PARQUET, tbl.schema, compression="snappy")
        writer.write_table(tbl, row_group_size=2048)
        done += n
        ci += 1
    if writer is not None:
        writer.close()


def worker(cpus: int) -> None:
    from admarus_spark.index.build import IndexBuilder
    from admarus_spark.search.engine import SearchEngine
    from admarus_spark.session import get_spark

    spark = get_spark(app_name=f"admarus_scale_{cpus}", master=f"local[{cpus}]")
    spark.range(1000).selectExpr("sum(id)").collect()
    # Warmup, never timed: (a) spawn + prime ALL Python workers concurrently
    # (each fresh worker pays multi-second pandas/numpy imports — production
    # executors are warm, and cold-start is not what the N->4N scaling
    # criterion measures); (b) one small build to compile codegen plans.
    n = spark.sparkContext.defaultParallelism

    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        time.sleep(2.0)
        yield from batches

    spark.range(0, n, 1, n).mapInPandas(_warm, "id long").count()
    docs = spark.read.parquet(CORPUS_PARQUET)
    widx = f"/tmp/admarus_scale_warm_{cpus}"
    shutil.rmtree(widx, ignore_errors=True)
    IndexBuilder(spark, widx, n_buckets=8).build(
        docs.limit(1000), input_token=f"warm:{cpus}:{time.time()}", resume=False
    )
    shutil.rmtree(widx, ignore_errors=True)
    idx = f"/tmp/admarus_scale_idx_{cpus}"
    shutil.rmtree(idx, ignore_errors=True)
    t0 = time.time()
    b = IndexBuilder(spark, idx, n_buckets=32)
    b.build(docs, input_token=f"scale:{cpus}:{time.time()}", resume=False)
    build_sec = time.time() - t0
    if os.environ.get("SPARK_GRAFT_SCALE_SKIP_QUERY"):
        query_sec = None  # build-only run (big-corpus ladders under a timeout)
    else:
        eng = SearchEngine(spark, idx)
        eng.search("license", 10).collect()  # engine warmup (summaries, plans)
        qmap = {f"q{i}": q for i, q in enumerate(QUERY_BATCH)}
        eng.search_many(qmap, 10).collect()  # plan warmup
        t0 = time.time()
        eng.search_many(qmap, 10).collect()
        query_sec = time.time() - t0
    stats = b.metrics["stage1_tokenize"]
    spark.stop()
    line = json.dumps(
        {
            "cpus": cpus,
            "build_sec": build_sec,
            "query_sec": query_sec,
            "n_docs": stats["n_docs"],
            "total_tokens": stats["total_tokens"],
            # per-stage wall seconds (from the checkpoint metrics): the
            # stage ladder shows WHICH phase stops scaling (tokenize/encode
            # are compute-bound; the posting merge is shuffle/IO-bound)
            "stage_sec": {
                s: round(b.metrics[s]["seconds"], 2)
                for s in ("stage1_tokenize", "stage2_postings", "stage3_summaries")
            },
            "sub_sec": {
                "s1_tokenize_write": b.metrics["stage1_tokenize"].get("tokenize_write_sec"),
                "s2_write": b.metrics["stage2_postings"].get("write_job_sec"),
                "s2_stats": b.metrics["stage2_postings"].get("stats_job_sec"),
            },
            # raw-tf exchange volume (JVM status store; the tid-dictionary
            # swap's direct bandwidth evidence — deterministic per corpus)
            "s2_shuffle_write_bytes": b.metrics["stage2_postings"].get("shuffle_write_bytes"),
        }
    )
    sys.stdout.flush()
    print(line, flush=True)


def make_query_batch(n: int) -> list[str]:
    """The first 10 are QUERY_BATCH verbatim (comparable across rounds);
    beyond that, deterministic shape-rotated queries over the head
    vocabulary (serving-load ladders want many distinct bounded queries —
    per-query parallelism is the group-eval scale axis)."""
    from admarus_spark.corpus import _VOCAB

    qs = list(QUERY_BATCH)
    shapes = ["{a} AND {b}", "{a} {b} {c}", "2({a}, {b}, {c})", "{a} AND NOT {b}"]
    i = 0
    while len(qs) < n:
        a = _VOCAB[(7 * i + 1) % len(_VOCAB)]
        b = _VOCAB[(11 * i + 3) % len(_VOCAB)]
        c = _VOCAB[(17 * i + 5) % len(_VOCAB)]
        if len({a, b, c}) == 3:
            q = shapes[i % len(shapes)].format(a=a, b=b, c=c)
            if q not in qs:
                qs.append(q)
        i += 1
    return qs[:n]


def query_worker(cpus: int) -> None:
    """Query-only measurement against the index a prior build worker left at
    /tmp/admarus_scale_idx_{cpus}: same warmup + timed ``search_many`` batch
    as ``worker`` but no rebuild, so a query-side change can be re-laddered
    in minutes. The build and query halves of the claim stay comparable
    because both read the identical persisted index.
    ``SPARK_GRAFT_QW_NQUERIES`` (default 10 = QUERY_BATCH) sizes the batch —
    larger batches measure the serving-load regime where per-query
    parallelism dominates per-batch constants."""
    from admarus_spark.search.engine import SearchEngine
    from admarus_spark.session import get_spark

    idx = f"/tmp/admarus_scale_idx_{cpus}"
    if not os.path.exists(idx):
        raise SystemExit(f"no persisted index at {idx}: run the build worker first")
    spark = get_spark(app_name=f"admarus_scale_q{cpus}", master=f"local[{cpus}]")
    n = spark.sparkContext.defaultParallelism

    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        time.sleep(2.0)
        yield from batches

    spark.range(0, n, 1, n).mapInPandas(_warm, "id long").count()
    eng = SearchEngine(spark, idx)
    eng.search("license", 10).collect()
    nq = int(os.environ.get("SPARK_GRAFT_QW_NQUERIES", "10"))
    qmap = {f"q{i}": q for i, q in enumerate(make_query_batch(nq))}
    wand = os.environ.get("SPARK_GRAFT_QW_WAND", "auto")
    eng.search_many(qmap, 10, wand=wand).collect()
    t0 = time.time()
    eng.search_many(qmap, 10, wand=wand).collect()
    query_sec = time.time() - t0
    timings = {k: round(v, 3) for k, v in eng.last_batch_timings.items()}
    spark.stop()
    print(
        json.dumps(
            {
                "cpus": cpus,
                "wand": wand,
                "n_queries": nq,
                "query_sec": query_sec,
                "driver": timings,
            }
        ),
        flush=True,
    )


SAMPLES_JSONL = os.environ.get(
    "SPARK_GRAFT_SCALE_JSONL", f"/tmp/admarus_scale_samples_v{VOCAB}_n{N_DOCS}.jsonl"
)


def run_worker(cpus: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker", str(cpus)],
        capture_output=True, text=True, cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    if out.returncode != 0:
        # surface the cause; a crashed worker must not silently discard the
        # ladder (prior samples are already persisted in SAMPLES_JSONL)
        sys.stderr.write(out.stderr[-4000:] + "\n")
        raise SystemExit(f"worker local[{cpus}] failed (exit {out.returncode})")
    sample = json.loads(out.stdout.strip().splitlines()[-1])
    with open(SAMPLES_JSONL, "a") as f:
        f.write(json.dumps(sample) + "\n")
    return sample


def main() -> None:
    """Interleave measurements across parallelism levels and take the
    per-level MIN: environmental noise on this shared VM is strictly
    one-sided (host contention only adds time), so min-of-N estimates the
    job's true cost. Default levels are the claim pair 1->4; supplementary
    pairs 2->8 (compute-bound regime) and 8->32 (where one box's shared
    memory/disk bandwidth saturates — a real 4N-executor cluster
    multiplies those too) via SPARK_GRAFT_SCALE_LEVELS."""
    ensure_corpus()
    rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "2"))
    # default = the committed claim pair (local[1] -> local[4], see root
    # BASELINE.md); also what BENCH/query_ladder.py and ingest_bench.py
    # expect to find at /tmp/admarus_scale_idx_{1,4}. Supplementary pairs
    # (2->8, 8->32) via SPARK_GRAFT_SCALE_LEVELS.
    levels = [int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "1,4").split(",")]
    runs: dict[int, list] = {c: [] for c in levels}
    for _ in range(rounds):
        for c in levels:
            runs[c].append(run_worker(c))
    best = {c: min(rs, key=lambda r: r["build_sec"]) for c, rs in runs.items()}
    # SPARK_GRAFT_SCALE_SKIP_QUERY ladders emit query_sec=None — build-only
    # report in that case rather than a TypeError that loses the whole run.
    qbest = {
        c: min(qs) if (qs := [r["query_sec"] for r in rs if r["query_sec"] is not None]) else None
        for c, rs in runs.items()
    }
    thr = {c: best[c]["n_docs"] / best[c]["build_sec"] for c in levels}
    qps = {c: len(QUERY_BATCH) / qbest[c] for c in levels if qbest[c]}

    def eff(metric, lo, hi):
        return round((metric[hi] / metric[lo]) / (hi / lo), 3) if lo in metric and hi in metric else None

    pairs = [(lo, hi) for lo in levels for hi in levels if hi == 4 * lo]
    report = {
        "rounds": rounds,
        "vocab_size": VOCAB,
        "n_docs": best[levels[0]]["n_docs"],
        "total_tokens": best[levels[0]]["total_tokens"],
        "all_build_secs": {f"local{c}": [round(r["build_sec"], 2) for r in runs[c]] for c in levels},
        "build_sec": {f"local{c}": round(best[c]["build_sec"], 2) for c in levels},
        "build_docs_per_sec": {f"local{c}": round(thr[c], 1) for c in levels},
        "stage_sec": {f"local{c}": best[c].get("stage_sec") for c in levels},
        "sub_sec": {f"local{c}": best[c].get("sub_sec") for c in levels},
        "s2_shuffle_write_bytes": {
            f"local{c}": best[c].get("s2_shuffle_write_bytes") for c in levels
        },
        "query_batch_sec": {
            f"local{c}": round(qbest[c], 2) for c in levels if qbest[c] is not None
        },
        "query_qps": {f"local{c}": round(qps[c], 2) for c in levels if c in qps},
        "scaling_efficiency": {
            **{f"build_{lo}_to_{hi}": eff(thr, lo, hi) for lo, hi in pairs},
            **{f"query_{lo}_to_{hi}": eff(qps, lo, hi) for lo, hi in pairs},
        },
    }
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/SCALING.json", "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report))


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]))
    elif len(sys.argv) > 2 and sys.argv[1] == "--query-worker":
        query_worker(int(sys.argv[2]))
    else:
        main()
