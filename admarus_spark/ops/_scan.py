"""Scan-parallelism guard for ops inputs.

A locally-generated corpus lands as ONE parquet row group, so its scan
yields a single effective input split and every map operation pipelined on
top of it — tokenize, explode, hashing, partial aggregation — runs in ONE
task regardless of the session's core count (a parquet split only reads
row groups whose midpoint it contains). Isolated with the noop sink at
sf1.0, a single `md5(shingle)` projection over the shingle stream cost
11.6 s against 2.6 s for the stream itself: ~1/32 of the machine doing all
the per-row work (OPTIMIZATION_r06.md).

``scan_wide`` widens such a scan with a round-robin repartition to the
session's parallelism — a cheap exchange of the raw rows (a few MB
locally) that unlocks every core for the expensive map work above it. The
guard is scale-adaptive, not a local-mode constant: any source that
already splits at least as wide as the session (a real multi-row-group /
multi-file table at cluster scale) passes through untouched, so no
shuffle is ever added where the scan parallelism is already sufficient.
Same rule the index build applies to its own content scan
(index/build.py stage 1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def scan_wide(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition a narrow scan up to the session parallelism;
    identity on inputs that already split wide enough."""
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


# the narrow/wide decision per (path, parallelism, layout stamp) — a property
# of the file layout; memoized because the .rdd partition-count probe costs
# ~0.1 s of driver planning per call. The stamp keys the decision to the
# files themselves: a path rewritten with a different layout gets a fresh
# probe instead of the old answer.
_NARROW: dict[tuple[str, int, tuple | None], bool] = {}


def _layout_stamp(path: str) -> tuple | None:
    """(mtime_ns, size) of the newest part file under ``path`` (or of the
    file itself); None for a path the local filesystem cannot see."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return st.st_mtime_ns, st.st_size
        parts = [
            e.stat()
            for e in os.scandir(path)
            if e.is_file() and not e.name.startswith(("_", "."))
        ]
    except OSError:
        return None
    if not parts:
        return None
    st = max(parts, key=lambda p: p.st_mtime_ns)
    return st.st_mtime_ns, st.st_size


def read_wide(spark: SparkSession, path: str) -> DataFrame:
    """``scan_wide(spark.read.parquet(path))`` with the probe memoized."""
    n = spark.sparkContext.defaultParallelism
    key = (path, n, _layout_stamp(path))
    narrow = _NARROW.get(key)
    df = spark.read.parquet(path)
    if narrow is None:
        narrow = df.rdd.getNumPartitions() < n
        _NARROW[key] = narrow
    return df.repartition(n) if narrow else df
