#!/usr/bin/env python
"""spark-submit entry: build (or resume) an index over a docs parquet table.

    spark-submit --py-files admarus_spark.zip jobs/build_index.py \
        --docs /data/docs_parquet --index /data/index \
        [--buckets 512] [--token v1]

Package the library with:  python jobs/package.py  (writes admarus_spark.zip)

On a cluster, pass --master/--num-executors etc. to spark-submit as usual;
the build DAG is resumable — re-running with the same --token skips
completed stages (per-stage lineage + metrics under <index>/_checkpoints).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="input docs parquet/table path")
    ap.add_argument("--index", required=True, help="output index directory")
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--token", default="default", help="input snapshot token (resume key)")
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from admarus_spark.index.build import IndexBuilder
    from admarus_spark.session import get_spark

    spark = get_spark(app_name="admarus-build")
    docs = spark.read.parquet(args.docs)
    b = IndexBuilder(spark, args.index, n_buckets=args.buckets)
    b.build(docs, input_token=args.token, resume=not args.no_resume)
    print(json.dumps(b.metrics, default=str))


if __name__ == "__main__":
    main()
