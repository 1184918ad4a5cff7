"""Only the layout today's build writes (lineage schema 5) is readable: an
older index must be rebuilt rather than answered through fallbacks, so no
query shape — single or batched — can come back inexact from a pre-r2 index
(no per-block ``block_lasts`` id bounds) or from a stats row without the
fields update() and the block-max staleness check need. One layout check
(``index.build.check_layout``) guards SearchEngine init (and so refresh()),
update() and compact(), and its error names the missing piece before
anything is read through it or written to it. The summaries-side check (no
``global`` rollup row) is in tests/test_lazy_blooms.py."""

import os
import shutil

import pytest

from admarus_spark.corpus import make_docs_corpus
from admarus_spark.index.build import IndexBuilder
from admarus_spark.oracle import OracleIndex
from admarus_spark.search.engine import SearchEngine
from admarus_spark.streaming.incremental import IncrementalIndexer

QUERIES = [
    "license",
    "parser lexer bloom",
    "parser AND lexer",
    "2(parser, lexer, bloom)",
    "parser AND NOT bloom",
]

MISSING = "postings column block_lasts"


def rewrite_table(spark, d, table, transform, partition_by=None):
    """Rewrite ``d/table`` through ``transform`` in place, the way an index
    written by an older build simply never had the stripped piece."""
    df = transform(spark.read.parquet(f"{d}/{table}"))
    w = df.coalesce(1).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(f"{d}/{table}_stripped")
    shutil.rmtree(f"{d}/{table}")
    shutil.move(f"{d}/{table}_stripped", f"{d}/{table}")


def strip_block_lasts(spark, d):
    rewrite_table(spark, d, "postings", lambda p: p.drop("block_lasts"), "tb")


@pytest.fixture(scope="module")
def current_idx(spark, tmp_path_factory):
    docs = make_docs_corpus(150, seed=33)
    d = str(tmp_path_factory.mktemp("idx_current"))
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(docs), input_token="legacy"
    )
    return d, docs


def test_legacy_index_queries_are_exact(spark, current_idx, tmp_path):
    base, _ = current_idx
    SearchEngine(spark, base)  # the current layout opens
    d = str(tmp_path / "idx_legacy")
    shutil.copytree(base, d)
    strip_block_lasts(spark, d)
    with pytest.raises(ValueError, match="rebuild the index") as e:
        SearchEngine(spark, d)
    assert MISSING in str(e.value)
    delta = spark.createDataFrame(make_docs_corpus(5, seed=34))
    with pytest.raises(ValueError, match="rebuild the index") as e:
        IncrementalIndexer(spark, d).update(delta, input_token="legacy-delta")
    assert MISSING in str(e.value)
    # the check runs before update() writes anything
    assert not os.path.exists(f"{d}/generations")
    assert not os.path.exists(f"{d}/tombstones")

    # a stats row without bm_avgdl (the block-max staleness marker) is an
    # older layout too: no reader guesses the bounds are valid
    d = str(tmp_path / "idx_legacy_stats")
    shutil.copytree(base, d)
    rewrite_table(spark, d, "stats", lambda s: s.drop("bm_avgdl"))
    with pytest.raises(ValueError, match="rebuild the index") as e:
        SearchEngine(spark, d)
    assert "stats field bm_avgdl" in str(e.value)
    with pytest.raises(ValueError, match="rebuild the index") as e:
        IncrementalIndexer(spark, d).update(delta, input_token="legacy-stats-delta")
    assert "stats field bm_avgdl" in str(e.value)
    assert not os.path.exists(f"{d}/generations")
    assert not os.path.exists(f"{d}/tombstones")
    assert "bm_avgdl" not in spark.read.parquet(f"{d}/stats").columns


def test_legacy_index_batched_queries_are_exact(spark, current_idx, tmp_path):
    """A serving engine answers batched queries exactly on the current
    layout; once its index is replaced by a pre-r2 one underneath it,
    refresh() raises the rebuild error instead of serving search_many through
    the missing column."""
    base, docs = current_idx
    d = str(tmp_path / "idx_served")
    shutil.copytree(base, d)
    eng = SearchEngine(spark, d)
    oracle = OracleIndex(docs)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    qmap = {f"q{i}": q for i, q in enumerate(QUERIES)}
    rows = eng.search_many(qmap, k=10).collect()
    for i, q in enumerate(QUERIES):
        got = sorted(
            (r["path"], r["score"]) for r in rows if r["query_id"] == f"q{i}"
        )
        want = sorted((opaths[di], s) for di, s in oracle.search(q, 10))
        assert got == want, q
    strip_block_lasts(spark, d)
    with pytest.raises(ValueError, match="rebuild the index") as e:
        eng.refresh()
    assert MISSING in str(e.value)
