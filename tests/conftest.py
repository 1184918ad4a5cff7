import shutil

import pytest

from admarus_spark.corpus import make_docs_corpus, make_movies_corpus
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
