import shutil

import pandas as pd
import pytest

from admarus_spark.corpus import make_docs_corpus, make_movies_corpus, sha256_hex
from admarus_spark.index.build import IndexBuilder
from admarus_spark.oracle import OracleIndex
from admarus_spark.search.engine import SearchEngine
from admarus_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="admarus_tests", master="local[8]")
    yield s


@pytest.fixture(scope="session")
def movies_pdf():
    return make_movies_corpus(150)


@pytest.fixture(scope="session")
def docs_pdf():
    return make_docs_corpus(600)


@pytest.fixture(scope="session")
def movies_oracle(movies_pdf):
    return OracleIndex(movies_pdf)


@pytest.fixture(scope="session")
def docs_oracle(docs_pdf):
    return OracleIndex(docs_pdf)


@pytest.fixture(scope="session")
def movies_engine(spark, movies_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_movies"))
    shutil.rmtree(d, ignore_errors=True)
    IndexBuilder(spark, d, n_buckets=8).build(
        spark.createDataFrame(movies_pdf), input_token="movies"
    )
    return SearchEngine(spark, d)


@pytest.fixture(scope="session")
def docs_engine(spark, docs_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_docs"))
    # the default build (shuffle-encode); 'license' is the skew fixture
    # term (df ~ n_docs)
    IndexBuilder(spark, d, n_buckets=16).build(
        spark.createDataFrame(docs_pdf), input_token="docs"
    )
    return SearchEngine(spark, d)


@pytest.fixture(scope="session")
def tomb_oracle(movies_pdf, docs_pdf):
    """The oracle over the live corpus behind ``tomb_engine``: the movies
    and docs corpora plus one ``zz/doomed`` doc, after a delta that rewrote
    the 20 lexicographically last (repo, path) docs. The rewritten docs
    take new ids above every old one, in (repo, path) order, so the
    engine's doc-id order equals the oracle's and top-k tie-breaks agree."""
    base = _tomb_base(movies_pdf, docs_pdf)
    return OracleIndex(
        pd.concat([base.iloc[:-20], _tomb_delta(base)], ignore_index=True)
    )


def _tomb_base(movies_pdf, docs_pdf):
    doomed = pd.DataFrame(
        [("zz", "doomed", "0" * 40, "en", "zzdoomedterm hunger games parser")],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    doomed["content_sha256"] = doomed["content"].map(sha256_hex)
    base = pd.concat([movies_pdf, docs_pdf, doomed], ignore_index=True)
    return base.sort_values(["repo", "path"], kind="mergesort").reset_index(drop=True)


def _tomb_delta(base):
    """Rewrite the 20 last docs: 19 gain ``hunger games`` (new postings in a
    second generation, dead ones for every old term), and the doomed doc
    loses ``zzdoomedterm``, whose postings are then all dead."""
    changed = base.iloc[-20:].copy()
    changed["content"] = "hunger games " + changed["content"]
    changed.iloc[-1, changed.columns.get_loc("content")] = "parser lexer survival"
    changed["content_sha256"] = changed["content"].map(sha256_hex)
    return changed


@pytest.fixture(scope="session")
def tomb_engine(spark, movies_pdf, docs_pdf, tmp_path_factory):
    """An engine over an index with pending tombstones (update() after the
    build, no compact()), answering like ``tomb_oracle``."""
    from admarus_spark.streaming.incremental import IncrementalIndexer

    base = _tomb_base(movies_pdf, docs_pdf)
    d = str(tmp_path_factory.mktemp("idx_tomb"))
    IndexBuilder(spark, d, n_buckets=8).build(
        spark.createDataFrame(base), input_token="tomb-base"
    )
    m = IncrementalIndexer(spark, d).update(
        spark.createDataFrame(_tomb_delta(base)), input_token="tomb-delta"
    )
    assert m["rows_changed"] == 20
    eng = SearchEngine(spark, d)
    assert eng.tombstones is not None
    return eng
