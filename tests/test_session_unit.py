"""Unit coverage for the session factory's sizing logic (shuffle
partitions, driver heap, local cores), its JVM options, and the contract
file's single-source parity constants (only the JVM-option test uses the
live session)."""

from __future__ import annotations

import os

from admarus_spark.session import (
    JVM_LOCALE_OPTS,
    _local_shuffle_partitions,
    _memory_limit_bytes,
    driver_heap,
    local_cpus,
)

GIB = 1 << 30


def test_local_masters_sized_to_core_count():
    assert _local_shuffle_partitions("local[8]") == 8
    assert _local_shuffle_partitions("local[1]") == 1
    # local[N,maxFailures] — Spark's task-retry local form must parse
    assert _local_shuffle_partitions("local[8,2]") == 8
    assert _local_shuffle_partitions("local[*]") == (os.cpu_count() or 32)


def test_non_local_masters_keep_spark_default():
    assert _local_shuffle_partitions(None) is None
    assert _local_shuffle_partitions("yarn") is None
    assert _local_shuffle_partitions("spark://host:7077") is None
    # local-cluster[...] is NOT a local master (real executors register)
    assert _local_shuffle_partitions("local-cluster[2,1,1024]") is None
    # unparseable bracket content must not crash session construction
    assert _local_shuffle_partitions("local[abc]") is None


def test_explicit_driver_mem_keeps_pinned_pretouched_heap(monkeypatch):
    # an explicit size yields exactly the flags it always did, whatever
    # the host holds
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    for limit in (None, GIB, 15 * GIB, 512 * GIB):
        assert driver_heap(limit) == ("2g", True)


def test_default_heap_sized_from_memory_limit(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    # a quarter of a 15 GiB host, pinned: it fits in half the limit
    assert driver_heap(15 * GIB) == ("3840m", True)
    # a large host keeps the former 24g ceiling
    assert driver_heap(512 * GIB) == ("24576m", True)
    # a tiny host gets the 1 GiB floor, which does not fit: no pre-touch
    assert driver_heap(GIB + GIB // 2) == ("1024m", False)
    # limit unknown: the former default
    assert driver_heap(None) == ("24g", True)
    limit = _memory_limit_bytes()
    assert limit is None or limit > 0


def test_local_master_defaults_to_nproc(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == "3"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert local_cpus() == str(len(os.sched_getaffinity(0)))


def test_entry_contract_single_sources_parity_constants():
    import importlib.util

    import admarus_spark
    from admarus_spark.tokenizer import DUCKDB_TOKENS_EXPR

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "entry_under_test", os.path.join(repo, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    # CLAUDE.md: parity-critical fragments live in ONE place each
    assert entry.K1 == admarus_spark.BM25_K1
    assert entry.B == admarus_spark.BM25_B
    assert entry._TOK_EXPR == DUCKDB_TOKENS_EXPR.format(col="text")
    assert DUCKDB_TOKENS_EXPR.format(col="text") in entry._TOK_CTES


def test_jvm_locale_pinned(spark):
    """Driver and executor JVMs run in en_US whatever the host locale, so
    Spark's lower() (tokenize_expr) folds non-ASCII case like Python; a
    pinned heap keeps exactly its -Xms/AlwaysPreTouch flags."""
    # Spark prepends its own module flags to both options at startup
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.executor.extraJavaOptions").endswith(" " + JVM_LOCALE_OPTS)
    driver_opts = conf.get("spark.driver.extraJavaOptions")
    assert driver_opts.endswith(" " + JVM_LOCALE_OPTS)
    if "-Xms" in driver_opts:
        heap = conf.get("spark.driver.memory")
        assert driver_opts.endswith(f" -Xms{heap} -XX:+AlwaysPreTouch {JVM_LOCALE_OPTS}")
    assert spark._jvm.java.util.Locale.getDefault().toString() == "en_US"
    word = "\u0130STANBUL"  # dotted capital I: lowers differently under tr
    assert spark.sql(f"SELECT lower('{word}') AS w").first()["w"] == word.lower()
