#!/usr/bin/env python
"""Optimization-round profiling harness (guide §1.4): isolates each heavy
query with the noop sink, times named sub-stages of the dedup/similarity
operators, and dumps .explain("formatted") plans. NOT the frozen bench.py —
numbers here are cited in OPTIMIZATION_r06.md only.

Usage:
  python bench_extra.py [--sf-dir DIR] [--plans-dir DIR] [--queries a,b,c]
"""

from __future__ import annotations

import argparse
import json
import os
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--queries", default=None, help="comma-separated subset")
    ap.add_argument("--rounds", type=int, default=2)
    args = ap.parse_args()

    from admarus_spark.session import get_spark, local_cpus

    import __spark_entry__ as entry

    cpus = local_cpus()
    spark = get_spark(app_name="admarus_bench_extra", master=f"local[{cpus}]")
    sf_dir = args.sf_dir

    # same warmup as bench.py so first-call worker-pool init is not charged
    spark.range(1000).selectExpr("sum(id)").collect()
    n = spark.sparkContext.defaultParallelism

    def _warm(batches):
        import pandas  # noqa: F401

        time.sleep(1.0)
        yield from batches

    spark.range(0, n, 1, n).mapInPandas(_warm, "id long").count()

    qs = entry.queries()
    names = (
        args.queries.split(",")
        if args.queries
        else [
            "tokenize_tf",
            "term_df",
            "dedup_minhash_bands",
            "dedup_minhash_pairs",
            "dedup_simhash",
            "dedup_ngram_jaccard",
            "sim_cosine_topk",
            "sim_lsh_topk",
            "text_quality",
            "events_hourly",
            "tpch_q1",
        ]
    )

    samples: dict[str, list[float]] = {}
    for rnd in range(args.rounds):
        for name in names:
            spark.sparkContext.setJobDescription(f"extra:{name}")
            df = qs[name](spark, sf_dir)
            t0 = time.time()
            noop(df)
            samples.setdefault(name, []).append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)

    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)
        for name in names:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            with open(os.path.join(args.plans_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)

    out = {
        "sf_dir": sf_dir,
        "rounds": args.rounds,
        "mins": {k: min(v) for k, v in samples.items()},
        "samples": samples,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
    os._exit(0)
