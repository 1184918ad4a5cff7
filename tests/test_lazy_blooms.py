"""Engine init must be O(1) in bucket count: only the meta + global rollup
summary rows are read at init; per-bucket blooms load lazily for queried
buckets (VERDICT r2 #4). A pre-r3 index without the global row no longer
falls back to an eager full bloom load: it is rejected with the rebuild
error at init and at update()."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from admarus_spark.index.build import IndexBuilder
from admarus_spark.search.engine import SearchEngine
from admarus_spark.streaming.incremental import IncrementalIndexer


def _build(spark, movies_pdf, d):
    IndexBuilder(spark, d, n_buckets=8).build(
        spark.createDataFrame(movies_pdf), input_token="lazy-blooms"
    )


def test_lazy_bloom_loading(spark, movies_pdf, tmp_path):
    d = str(tmp_path / "idx_lazy")
    _build(spark, movies_pdf, d)
    eng = SearchEngine(spark, d)
    assert eng.bucket_blooms == {}  # init materialized NO per-bucket blooms
    assert eng.search("hunger", 5).count() > 0
    loaded = len(eng.bucket_blooms) + len(eng._absent_buckets)
    assert 0 < loaded <= 8  # only the queried buckets
    # a term absent from the corpus short-circuits on the global bloom
    # without loading anything further
    assert eng.search("zzznotaword", 5).count() == 0
    assert len(eng.bucket_blooms) + len(eng._absent_buckets) == loaded


def test_legacy_summaries_eager_fallback(spark, movies_pdf, tmp_path):
    d = str(tmp_path / "idx_legacy")
    _build(spark, movies_pdf, d)
    assert SearchEngine(spark, d).search("hunger AND games", 10).count() > 0
    # strip the global rollup row -> pre-r3 summaries layout
    summ = spark.read.parquet(f"{d}/summaries").filter(F.col("kind") != "global")
    summ.coalesce(1).write.mode("overwrite").parquet(f"{d}/summaries_legacy")
    shutil.rmtree(f"{d}/summaries")
    shutil.move(f"{d}/summaries_legacy", f"{d}/summaries")
    missing = "summaries row kind='global'"
    with pytest.raises(ValueError, match="rebuild the index") as e:
        SearchEngine(spark, d)
    assert missing in str(e.value)
    delta = spark.createDataFrame(movies_pdf.iloc[:2])
    with pytest.raises(ValueError, match="rebuild the index") as e:
        IncrementalIndexer(spark, d).update(delta, input_token="legacy-delta")
    assert missing in str(e.value)
    # the check runs before update() writes anything
    assert not os.path.exists(f"{d}/generations")
    assert not os.path.exists(f"{d}/tombstones")
