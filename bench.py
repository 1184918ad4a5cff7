#!/usr/bin/env python
"""Headline benchmark: prints ONE JSON line.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]: full index-build DAG over the documents table,
the BM25 query shapes through the engine, and the training-data operators.
``value`` is the total wall seconds over all headline queries; extra keys
report index-build docs/sec (the reference's comparable number is 11 docs/s
single-node ingest, /root/reference/README.md:54).

Noise handling: the whole suite runs $SPARK_GRAFT_BENCH_ROUNDS times
(default 2) back to back — the same interleaved min-of-samples methodology
the scaling ladder uses, because this host's background load is one-sided
and wave-like (identical runs vary 1.3-2x). ``queries`` carries the
per-query MIN; ``samples`` carries every round so round-over-round deltas
are attributable (VERDICT r3).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from admarus_spark.index.build import IndexBuilder
    from admarus_spark.search.engine import SearchEngine
    from admarus_spark.session import get_spark, local_cpus

    import __spark_entry__ as entry

    cpus = local_cpus()
    spark = get_spark(app_name="admarus_bench", master=f"local[{cpus}]")
    sf = os.path.basename(os.path.normpath(SF_DIR)).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = -1.0

    times: dict[str, float] = {}

    # warm the JVM/Arrow path + the Python worker pool so q timings measure
    # work, not first-call init (cold workers pay pandas imports)
    spark.range(1000).selectExpr("sum(id)").collect()
    n = spark.sparkContext.defaultParallelism

    def _warm(batches):
        import pandas  # noqa: F401

        time.sleep(1.0)
        yield from batches

    spark.range(0, n, 1, n).mapInPandas(_warm, "id long").count()

    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "2"))
    docs = entry._docs_shape(spark, SF_DIR)
    n_docs = docs.count()
    samples: dict[str, list[float]] = {}
    qs = entry.queries()

    for rnd in range(rounds):
        times = {}

        def timed(name: str, fn) -> None:
            t = time.time()
            fn()
            times[name] = time.time() - t

        # ---- index build (fresh every round) ----
        idx_dir = f"/tmp/admarus_bench_idx_{os.getpid()}_{rnd}"
        shutil.rmtree(idx_dir, ignore_errors=True)
        t0 = time.time()
        IndexBuilder(spark, idx_dir, n_buckets=32).build(
            docs, input_token=f"bench:{SF_DIR}:{time.time()}", resume=False
        )
        times["index_build"] = time.time() - t0
        eng = SearchEngine(spark, idx_dir)

        timed("bm25_hot", lambda: eng.search("batch", 10).collect())
        timed("bm25_and", lambda: eng.search("spark AND stream", 10).collect())
        timed("bm25_or", lambda: eng.search("join hash window", 10).collect())
        timed("bm25_nofm", lambda: eng.search("2(spark, stream, window)", 10).collect())
        timed("bm25_not", lambda: eng.search("batch AND NOT dup", 10).collect())
        timed("bm25_lang", lambda: eng.search("lang=es AND spark", 10).collect())
        batch = {
            "q1": "batch", "q2": "spark AND stream", "q3": "join hash window",
            "q4": "2(spark, stream, window)", "q5": "batch AND NOT dup",
            "q6": "merge sort order", "q7": "customer AND table", "q8": "vector / line",
        }
        timed("search_many_8q", lambda: eng.search_many(batch, 10).collect())

        for name in (
            "tokenize_tf",
            "term_df",
            "dedup_minhash_pairs",
            "dedup_simhash",
            "dedup_ngram_jaccard",
            "sim_cosine_topk",
            "sim_lsh_topk",
            "text_quality",
            "events_hourly",
            "tpch_q1",
        ):
            timed(name, lambda n=name: qs[n](spark, SF_DIR).count())

        for k, v in times.items():
            samples.setdefault(k, []).append(round(v, 3))
        shutil.rmtree(idx_dir, ignore_errors=True)

    mins = {k: min(v) for k, v in samples.items()}
    out = {
        "metric": "headline_total_sec",
        "value": round(sum(mins.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in mins.items()},
        "samples": samples,
        "rounds": rounds,
        "sf": sf_val,
        "n_docs": n_docs,
        "index_build_docs_per_sec": round(n_docs / mins["index_build"], 1),
        "cpus": (os.cpu_count() or 0) if cpus == "*" else int(cpus),
    }

    # Output hygiene (round-1 postmortem: BENCH_r01.json parsed null because
    # worker-pool teardown tracebacks at interpreter exit swallowed the JSON
    # line). Stop Spark FIRST so daemon shutdown noise lands before the JSON,
    # persist the line to BENCH/LAST.json as a file-based fallback, and print
    # the JSON as the absolute last stdout line.
    spark.stop()
    line = json.dumps(out)
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    try:
        os.makedirs(bench_dir, exist_ok=True)
        with open(os.path.join(bench_dir, "LAST.json"), "w") as fh:
            fh.write(line + "\n")
    except OSError:
        pass
    sys.stdout.flush()
    sys.stderr.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
    # Skip interpreter-exit GC/teardown races in py4j/worker-pool threads that
    # can print tracebacks after our JSON line on some runs.
    os._exit(0)
