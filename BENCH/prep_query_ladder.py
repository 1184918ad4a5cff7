#!/usr/bin/env python
"""Rebuild the query-ladder fixtures after a machine recycle.

Regenerates the 800k-doc realistic-vocab corpus parquet (scale_bench's
`ensure_corpus`) and builds ONE index at local[32] (build speed is not the
measurement here), then hard-copies it to /tmp/admarus_scale_idx_1 and
/tmp/admarus_scale_idx_4 so BOTH query-ladder levels read a bit-identical
index — the build parallelism never enters the query-side comparison.

Usage: python BENCH/prep_query_ladder.py
"""
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import scale_bench  # noqa: E402

t0 = time.time()
scale_bench.ensure_corpus()
print(f"corpus ready in {time.time() - t0:.1f}s: {scale_bench.CORPUS_PARQUET}", flush=True)

from admarus_spark.index.build import IndexBuilder  # noqa: E402
from admarus_spark.session import get_spark  # noqa: E402

spark = get_spark(app_name="admarus_ladder_prep", master="local[32]")
docs = spark.read.parquet(scale_bench.CORPUS_PARQUET)
idx = "/tmp/admarus_scale_idx_1"
shutil.rmtree(idx, ignore_errors=True)
t0 = time.time()
IndexBuilder(spark, idx, n_buckets=32).build(
    docs, input_token=f"ladder_prep:{time.time()}", resume=False
)
print(f"index built in {time.time() - t0:.1f}s", flush=True)
spark.stop()
shutil.rmtree("/tmp/admarus_scale_idx_4", ignore_errors=True)
shutil.copytree(idx, "/tmp/admarus_scale_idx_4")
print("copied to /tmp/admarus_scale_idx_4", flush=True)
