"""Structured Streaming surface: readStream over a doc drop-directory ->
foreachBatch(IncrementalIndexer.update) — the streaming twin of the
reference's periodic re-crawl (daemon/src/index/mod.rs:7-8)."""

import json
import os

from pyspark.sql import functions as F

from admarus_spark.corpus import make_docs_corpus
from admarus_spark.index.build import IndexBuilder
from admarus_spark.search.engine import SearchEngine
from admarus_spark.streaming.incremental import IncrementalIndexer

DOCS_SCHEMA = "repo string, path string, commit string, lang string, content string, content_sha256 string"


def test_streaming_ingest(spark, tmp_path):
    base = make_docs_corpus(150, seed=1)
    idx = str(tmp_path / "idx_stream")
    IndexBuilder(spark, idx, n_buckets=4).build(
        spark.createDataFrame(base), input_token="stream-base"
    )

    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    extra = make_docs_corpus(60, seed=2)
    extra["path"] = extra["path"].str.replace("src/", "landed/", regex=False)
    half = len(extra) // 2
    for i, chunk in enumerate((extra.iloc[:half], extra.iloc[half:])):
        with open(drop_dir / f"batch{i}.json", "w") as f:
            for _, row in chunk.iterrows():
                f.write(json.dumps(dict(row)) + "\n")

    inc = IncrementalIndexer(spark, idx)
    stream = spark.readStream.schema(DOCS_SCHEMA).json(str(drop_dir))
    q = (
        stream.writeStream.foreachBatch(inc.foreach_batch_handler())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    eng = SearchEngine(spark, idx)
    assert eng.n_docs == len(base) + len(extra)
    res = eng.search("license", 10**6).collect()
    assert any(r["path"].startswith("landed/") for r in res)


def test_streaming_census_matches_batch(spark, tmp_path):
    """Lambda unification for the census rollup (T3/A8): the watermarked
    streaming hourly agg emits, in append mode, exactly the batch-computed
    rows for every window the final watermark has closed.

    Two files + maxFilesPerTrigger=1 force multiple micro-batches; the
    engine's closing no-data batch advances the watermark to
    max(all ts) - 30min and flushes every window whose end <= it.
    Deterministic: fixed timestamps, no wall clock."""
    from admarus_spark.streaming.census import hourly_stream

    rows_a, rows_b = [], []
    base = 1_700_000_000  # fixed epoch, hour-unaligned offsets below
    for i in range(240):
        ts = base + i * 60  # one event/minute across 4 hours
        rec = {
            "ts": ts,
            "event_type": ["click", "view", "buy"][i % 3],
            "value": round(0.25 * (i % 7) + 0.01 * i, 6),
        }
        (rows_a if i < 180 else rows_b).append(rec)

    drop = tmp_path / "events"
    drop.mkdir()
    for name, rows in (("a.json", rows_a), ("b.json", rows_b)):
        with open(drop / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    schema = "ts timestamp, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(drop))
        .withColumn("ts", F.to_timestamp(F.from_unixtime(F.col("ts").cast("long"))))
    )
    q = (
        hourly_stream(stream, watermark="30 minutes")
        .writeStream.format("memory")
        .queryName("census_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_census"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {
        (r["hour_ts"], r["event_type"]): (r["n"], r["sum_value_r"])
        for r in spark.sql("SELECT * FROM census_stream").collect()
    }

    # batch twin over the same raw rows, restricted to windows the stream's
    # final watermark (max ts across all files - 30 min) had closed
    static = (
        spark.read.schema(schema).json(str(drop))
        .withColumn("ts", F.to_timestamp(F.from_unixtime(F.col("ts").cast("long"))))
    )
    wm = max(r["ts"] for r in rows_a + rows_b) - 30 * 60
    want = {
        (r["hour_ts"], r["event_type"]): (r["n"], r["sum_value_r"])
        for r in (
            static.groupBy(
                F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_ts"),
                "event_type",
            )
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value_r"))
            .filter(F.col("hour_ts") + 3600 <= wm)
        ).collect()
    }
    assert len(want) > 0  # the test must actually close windows
    assert got == want
