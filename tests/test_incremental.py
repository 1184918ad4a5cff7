"""Incremental index maintenance: update() must make query results equal to
a from-scratch build over the union corpus (scores are id-independent), must
dedup already-indexed paths, and must disable stale block-max skipping."""

import pandas as pd
import pytest

from admarus_spark.corpus import make_docs_corpus
from admarus_spark.index.build import IndexBuilder
from admarus_spark.oracle import OracleIndex
from admarus_spark.search.engine import SearchEngine
from admarus_spark.streaming.incremental import IncrementalIndexer

QUERIES = ["license", "parser AND lexer", "parser lexer bloom", "2(parser, lexer, bloom)",
           "lang=python AND bloom", "parser AND NOT bloom"]


@pytest.fixture(scope="module")
def inc_setup(spark, tmp_path_factory):
    base = make_docs_corpus(400, seed=42)
    extra = make_docs_corpus(200, seed=99)
    extra["path"] = extra["path"].str.replace("src/", "extra/", regex=False)
    d = str(tmp_path_factory.mktemp("idx_inc"))
    IndexBuilder(spark, d, n_buckets=8).build(
        spark.createDataFrame(base), input_token="inc-base"
    )
    inc = IncrementalIndexer(spark, d)
    metrics = inc.update(spark.createDataFrame(extra), input_token="inc-delta")
    union = pd.concat([base, extra], ignore_index=True)
    return d, base, extra, union, metrics


def path_scores(df):
    return sorted((r["path"], r["score"]) for r in df.collect())


def test_update_metrics(inc_setup):
    _, base, extra, _, m = inc_setup
    assert m["rows_new"] == len(extra)
    assert m["n_docs"] == len(base) + len(extra)


def test_results_equal_full_rebuild(spark, inc_setup):
    d, _, _, union, _ = inc_setup
    eng = SearchEngine(spark, d)
    oracle = OracleIndex(union)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    for q in QUERIES:
        got = path_scores(eng.search(q, 10**6))
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        assert got == want, q


def test_stale_blockmax_disables_wand(spark, inc_setup):
    d, *_ = inc_setup
    eng = SearchEngine(spark, d)
    assert eng.wand_safe is False
    # forcing wand on is ignored (rank-safety) — results still exact
    union_oracle = OracleIndex(inc_setup[3])
    opaths = {i: p for i, p in enumerate(union_oracle.docs["path"])}
    got = path_scores(eng.search("license", 10**6, wand="auto"))
    want = sorted((opaths[i], s) for i, s in union_oracle.search("license", 10**6))
    assert got == want


def test_redundant_update_is_noop(spark, inc_setup):
    d, base, *_ = inc_setup
    inc = IncrementalIndexer(spark, d)
    m = inc.update(spark.createDataFrame(base), input_token="again")
    assert m["rows_new"] == 0


def test_new_docs_are_searchable(spark, inc_setup):
    d, base, extra, _, _ = inc_setup
    eng = SearchEngine(spark, d)
    # a rare term that only exists in the delta
    rare = [t for t in extra["content"].str.extract(r"(rareterm\d+z)", expand=False).dropna()]
    assert rare
    res = eng.search(rare[0], 10).collect()
    # the same rare id may also exist in the base corpus (same generator);
    # what matters: the delta doc is indexed and retrievable
    assert any(r["path"].startswith("extra/") for r in res)


def test_compaction_restores_wand_df_and_results(spark, tmp_path):
    """VERDICT r2 #2: after incremental upserts leave tombstones behind,
    compact() must (a) clear tombstones and re-enable rank-safe WAND,
    (b) correct per-term df (no dead docs counted), and (c) leave results
    float64-identical to a from-scratch rebuild of the final corpus — all
    WITHOUT re-tokenizing content."""
    import hashlib

    base = make_docs_corpus(200, seed=3)
    d = str(tmp_path / "idx_compact")
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(base), input_token="cp-base"
    )
    changed = base.iloc[10:40].copy()
    changed["content"] = "compactmarker parser " + changed["content"]
    changed["content_sha256"] = [
        hashlib.sha256(c.encode()).hexdigest() for c in changed["content"]
    ]
    inc = IncrementalIndexer(spark, d)
    m = inc.update(spark.createDataFrame(changed), input_token="cp-delta")
    assert m["rows_changed"] == 30
    assert SearchEngine(spark, d).wand_safe is False

    cm = inc.compact()
    assert cm["dead"] == 30
    import os

    assert not os.path.exists(f"{d}/tombstones")
    eng = SearchEngine(spark, d)
    assert eng.wand_safe is True

    # the final corpus: base with rows 10:40 replaced
    final = base.copy()
    final.iloc[10:40] = changed
    d2 = str(tmp_path / "idx_fresh")
    IndexBuilder(spark, d2, n_buckets=4).build(
        spark.createDataFrame(final), input_token="cp-fresh"
    )
    fresh = SearchEngine(spark, d2)

    # (b) df parity with the fresh build, term by term
    df_c = {
        r["term"]: r["df"]
        for r in spark.read.parquet(f"{d}/postings").select("term", "df").collect()
    }
    df_f = {
        r["term"]: r["df"]
        for r in spark.read.parquet(f"{d2}/postings").select("term", "df").collect()
    }
    assert df_c == df_f

    # (c) results identical on every shape, wand forced on (bounds are tight)
    for q in QUERIES + ["compactmarker"]:
        got = path_scores(eng.search(q, 10**6, wand="auto"))
        want = path_scores(fresh.search(q, 10**6, wand="auto"))
        assert got == want, q

    # idempotent: compacting a clean index is a no-op
    assert inc.compact().get("noop") is True


def test_auto_compaction_triggers(spark, tmp_path):
    """auto_compact_frac bounds the WAND-disabled window: an update pushing
    the tombstone fraction past the threshold compacts inline."""
    import hashlib

    base = make_docs_corpus(100, seed=21)
    d = str(tmp_path / "idx_auto")
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(base), input_token="ac-base"
    )
    changed = base.iloc[:20].copy()
    changed["content"] = "autocompact " + changed["content"]
    changed["content_sha256"] = [
        hashlib.sha256(c.encode()).hexdigest() for c in changed["content"]
    ]
    inc = IncrementalIndexer(spark, d, auto_compact_frac=0.1)
    m = inc.update(spark.createDataFrame(changed), input_token="ac-delta")
    assert m["rows_changed"] == 20
    assert m.get("compaction", {}).get("dead") == 20
    assert SearchEngine(spark, d).wand_safe is True


def test_partitioned_delta_ids_match_broadcast_path(spark, tmp_path):
    """Forcing the distributed range-partition id path (threshold 0) must
    yield EXACTLY the ids and results of the broadcast single-partition rank
    (VERDICT r2 #3): lexicographic within the delta, appended after max_id."""
    base = make_docs_corpus(150, seed=11)
    extra = make_docs_corpus(80, seed=77)
    extra["path"] = extra["path"].str.replace("src/", "big/", regex=False)

    dicts = {}
    for mode, thresh in (("bcast", 10**6), ("ranged", 0)):
        d = str(tmp_path / f"idx_{mode}")
        IndexBuilder(spark, d, n_buckets=4).build(
            spark.createDataFrame(base), input_token=f"ids-{mode}"
        )
        inc = IncrementalIndexer(spark, d, broadcast_delta_max=thresh)
        m = inc.update(spark.createDataFrame(extra), input_token=f"delta-{mode}")
        assert m["rows_new"] == len(extra)
        dd = spark.read.parquet(f"{d}/doc_dict")
        dicts[mode] = sorted(
            (r["repo"], r["path"], r["doc_id"]) for r in dd.collect()
        )
        eng = SearchEngine(spark, d)
        dicts[mode + "_res"] = path_scores(eng.search("parser AND lexer", 10**6))
    assert dicts["bcast"] == dicts["ranged"]
    assert dicts["bcast_res"] == dicts["ranged_res"]


def test_changed_content_reindexed(spark, tmp_path):
    """A delta row whose content_sha256 differs on an existing (repo, path)
    must be re-indexed (reference: changed content is a NEW document,
    index.rs:68-75): new postings win, the stale generation is tombstoned
    out of results, and stats move to the new content."""
    base = make_docs_corpus(120, seed=7)
    d = str(tmp_path / "idx_upsert")
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(base), input_token="up-base"
    )
    n0 = SearchEngine(spark, d).n_docs

    changed = base.iloc[[5]].copy()
    changed["content"] = "zzchangedmarker parser lexer " + changed["content"]
    import hashlib

    changed["content_sha256"] = [
        hashlib.sha256(c.encode()).hexdigest() for c in changed["content"]
    ]
    inc = IncrementalIndexer(spark, d)
    m = inc.update(spark.createDataFrame(changed), input_token="up-delta")
    assert m["rows_changed"] == 1 and m["rows_new"] == 1
    assert m["n_docs"] == n0  # replaced, not added

    eng = SearchEngine(spark, d)
    # the new content is searchable under the same path
    hits = eng.search("zzchangedmarker", 5).collect()
    assert [r["path"] for r in hits] == [changed["path"].iloc[0]]
    # the old generation never appears: path occurs at most once per query
    for q in ("license", "parser", "zzchangedmarker"):
        paths = [r["path"] for r in eng.search(q, 10**6).collect()]
        assert len(paths) == len(set(paths)), q
    # stats moved: total_tokens reflects the longer replacement content
    assert eng.n_docs == n0

    # re-sending the same changed row is now a no-op (sha matches live row)
    m2 = inc.update(spark.createDataFrame(changed), input_token="up-delta-2")
    assert m2["rows_new"] == 0 and m2["rows_changed"] == 0


def test_engine_refresh_sees_external_update(spark, tmp_path):
    """A live SearchEngine whose index is updated by ANOTHER indexer must,
    after refresh(), return exactly what a fresh engine returns (stats, df
    cache, tombstone view, blooms all re-synced)."""
    base = make_docs_corpus(100, seed=5)
    d = str(tmp_path / "idx_refresh")
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(base), input_token="rf-base"
    )
    eng = SearchEngine(spark, d)
    eng.search("license", 5).collect()  # warm caches on the stale view

    extra = make_docs_corpus(50, seed=88)
    extra["path"] = extra["path"].str.replace("src/", "later/", regex=False)
    IncrementalIndexer(spark, d).update(
        spark.createDataFrame(extra), input_token="rf-delta"
    )

    eng.refresh()
    fresh = SearchEngine(spark, d)
    assert eng.n_docs == fresh.n_docs == 150
    assert eng.wand_safe == fresh.wand_safe
    for q in ["license", "parser AND lexer", "parser lexer bloom"]:
        got = path_scores(eng.search(q, 10**6))
        want = path_scores(fresh.search(q, 10**6))
        assert got == want, q


def test_running_stats_equal_live_aggregate(spark, tmp_path):
    """update() keeps (n_docs, total_tokens) as O(delta) running totals
    (VERDICT r4 #3); across adds AND content replacements they must equal
    the full live aggregate (doc_dict minus tombstones) exactly."""
    import os

    from pyspark.sql import functions as F

    base = make_docs_corpus(120, seed=3)
    d = str(tmp_path / "idx_runstats")
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(base), input_token="rs-base"
    )
    inc = IncrementalIndexer(spark, d)

    extra = make_docs_corpus(40, seed=77)
    extra["path"] = extra["path"].str.replace("src/", "added/", regex=False)
    m1 = inc.update(spark.createDataFrame(extra), input_token="rs-d1")
    assert m1["stats_mode"] == "running"

    changed = base.iloc[[2, 9]].copy()
    changed["content"] = "replacementtoken " + changed["content"]
    import hashlib

    changed["content_sha256"] = [
        hashlib.sha256(c.encode()).hexdigest() for c in changed["content"]
    ]
    m2 = inc.update(spark.createDataFrame(changed), input_token="rs-d2")
    assert m2["stats_mode"] == "running" and m2["rows_changed"] == 2

    stats = spark.read.parquet(os.path.join(d, "stats")).collect()[0]
    dd = spark.read.parquet(os.path.join(d, "doc_dict"))
    tomb = spark.read.parquet(os.path.join(d, "tombstones"))
    live = dd.join(tomb, "doc_id", "left_anti")
    agg = live.agg(
        F.count("*").alias("n"), F.sum("doc_len").alias("tt")
    ).collect()[0]
    assert int(stats["n_docs"]) == int(agg["n"])
    assert int(stats["total_tokens"]) == int(agg["tt"])
    assert float(stats["avgdl"]) == int(agg["tt"]) / int(agg["n"])


def test_incremental_meta_bloom_covers_delta_values(spark, inc_setup):
    """update() folds ONLY the delta's name=value words into the stored meta
    bloom (O(delta), no full doc_dict rescan — VERDICT r3 #5); the result
    must still cover every live metadata word of the union corpus."""
    d, base, extra, union, _ = inc_setup
    from admarus_spark.hashword import filter_get

    eng = SearchEngine(spark, d)
    words = set()
    for col in ("lang", "repo"):
        if col in union.columns:
            words |= {f"{col}={v}" for v in union[col].dropna().unique()}
    assert words
    for w in sorted(words):
        assert filter_get(eng.meta_bloom, w), w


def test_zero_token_delta_is_safe(spark, tmp_path):
    """A delta whose new docs all tokenize to nothing (sub-3-char content)
    must not touch postings (affected buckets = [], which used to hit
    repartition(0)) while still registering the docs with doc_len 0."""
    import hashlib

    base = make_docs_corpus(60, seed=7)
    d = str(tmp_path / "idx_zero")
    IndexBuilder(spark, d, n_buckets=8).build(
        spark.createDataFrame(base), input_token="zero-base"
    )
    eng0 = SearchEngine(spark, d)
    before = [(r["doc_id"], r["score"]) for r in eng0.search("license", 10).collect()]

    delta = pd.DataFrame(
        {
            "repo": ["zr"] * 3,
            "path": [f"z/{i}" for i in range(3)],
            "commit": ["c" * 40] * 3,
            "lang": ["python"] * 3,
            "content": ["a b c", "x y", ""],
        }
    )
    delta["content_sha256"] = delta["content"].map(
        lambda s: hashlib.sha256(s.encode()).hexdigest()
    )
    m = IncrementalIndexer(spark, d).update(spark.createDataFrame(delta), "zero-delta")
    assert m["rows_new"] == 3
    assert m["affected_buckets"] == []
    eng = SearchEngine(spark, d)
    assert eng.n_docs == len(base) + 3
    # scores legitimately shift (n_docs/avgdl grew): compare against the
    # oracle over the union corpus, zero-token docs included
    union = pd.concat([base, delta], ignore_index=True)
    oracle = OracleIndex(union)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    got = path_scores(eng.search("license", 10**6))
    want = sorted((opaths[i], s) for i, s in oracle.search("license", 10**6))
    assert got == want
    assert before  # base search sanity (non-empty)


def test_update_appends_without_rewriting_buckets(spark, tmp_path):
    """The r5 generational append: update() must not read, rewrite or delete
    ANY pre-existing postings file — O(delta) write amplification. Every
    old parquet part must survive byte-identical (same path, same mtime,
    same size), with new part files appended inside the tb partitions."""
    import os

    base = make_docs_corpus(200, seed=11)
    d = str(tmp_path / "idx_app")
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(base), input_token="app-base"
    )

    def part_files(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = part_files(f"{d}/postings")
    extra = make_docs_corpus(80, seed=77)
    extra["path"] = "gen2/" + extra["path"]
    IncrementalIndexer(spark, d).update(spark.createDataFrame(extra), "app-delta")
    after = part_files(f"{d}/postings")
    assert set(before) <= set(after), "an old postings file was deleted"
    for p, sig in before.items():
        assert after[p] == sig, f"old postings file rewritten: {p}"
    assert len(after) > len(before), "no new generation files appended"
    assert os.path.exists(f"{d}/generations")


def test_multi_generation_search_parity(spark, tmp_path):
    """Two new-docs-only updates (NO tombstones, NO compact): shared terms
    hold one posting row per generation, df must be the SUM over rows, and
    results must equal the oracle over the union corpus with wand auto AND
    off (per-row pruning is rank-safe)."""
    base = make_docs_corpus(150, seed=5)
    g2 = make_docs_corpus(60, seed=6)
    g2["path"] = "gen2/" + g2["path"]
    g3 = make_docs_corpus(40, seed=7)
    g3["path"] = "gen3/" + g3["path"]
    d = str(tmp_path / "idx_gens")
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(base), input_token="g-base"
    )
    inc = IncrementalIndexer(spark, d)
    inc.update(spark.createDataFrame(g2), "g-d2")
    inc.update(spark.createDataFrame(g3), "g-d3")

    import os

    assert not os.path.exists(f"{d}/tombstones")
    post = spark.read.parquet(f"{d}/postings")
    multi = post.groupBy("term").count().filter("count > 1").count()
    assert multi > 0, "expected multi-generation terms"
    # df must SUM across generations (engine._sum_df)
    from pyspark.sql import functions as F

    df_rows = post.filter(F.col("term") == "license").select("df").collect()
    eng = SearchEngine(spark, d)
    assert eng.df_cache is None or (
        eng.df_cache["license"] == sum(int(r["df"]) for r in df_rows)
    )

    union = pd.concat([base, g2, g3], ignore_index=True)
    oracle = OracleIndex(union)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    for q in QUERIES:
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        for wand in ("auto", "off"):
            got = path_scores(eng.search(q, 10**6, wand=wand))
            assert got == want, (q, wand)
    # batched twin over the same index (group-eval with the greedy off
    # while wand_safe is False; parity must hold)
    res = eng.search_many({f"q{i}": q for i, q in enumerate(QUERIES)}, k=10)
    rows = res.collect()
    for i, q in enumerate(QUERIES):
        got = sorted(
            (r["path"], r["score"]) for r in rows if r["query_id"] == f"q{i}"
        )
        want = sorted(
            (opaths[di], s) for di, s in oracle.search(q, 10)
        )
        assert got == want, ("batched", q)


def test_compact_folds_generations_without_tombstones(spark, tmp_path):
    """compact() must trigger on the generations marker alone (new-docs-only
    appends leave no tombstone), fold every term back to ONE row, re-enable
    WAND, and leave results float64-identical to a fresh build."""
    import os

    base = make_docs_corpus(150, seed=8)
    g2 = make_docs_corpus(60, seed=9)
    g2["path"] = "gen2/" + g2["path"]
    d = str(tmp_path / "idx_fold")
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(base), input_token="f-base"
    )
    inc = IncrementalIndexer(spark, d)
    inc.update(spark.createDataFrame(g2), "f-d2")
    assert os.path.exists(f"{d}/generations")
    cm = inc.compact()
    assert cm.get("noop") is not True
    assert not os.path.exists(f"{d}/generations")

    post = spark.read.parquet(f"{d}/postings")
    assert post.groupBy("term").count().filter("count > 1").count() == 0
    eng = SearchEngine(spark, d)
    assert eng.wand_safe is True

    union = pd.concat([base, g2], ignore_index=True)
    d2 = str(tmp_path / "idx_fold_fresh")
    IndexBuilder(spark, d2, n_buckets=4).build(
        spark.createDataFrame(union), input_token="f-fresh"
    )
    df_c = {
        (r["term"],): r["df"]
        for r in post.select("term", "df").collect()
    }
    df_f = {
        (r["term"],): r["df"]
        for r in spark.read.parquet(f"{d2}/postings").select("term", "df").collect()
    }
    assert df_c == df_f
    oracle = OracleIndex(union)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    for q in QUERIES:
        got = path_scores(eng.search(q, 10**6))
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        assert got == want, q


def test_auto_compaction_on_pending_generations(spark, tmp_path):
    """auto_compact_gens bounds posting fragmentation for new-docs-only
    crawl loops: no update tombstones anything (the fraction trigger never
    fires), but the SECOND pending generation trips the count trigger and
    compact() folds the index back to one row per term."""
    import os

    base = make_docs_corpus(100, seed=31)
    d = str(tmp_path / "idx_gauto")
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(base), input_token="ga-base"
    )
    inc = IncrementalIndexer(spark, d, auto_compact_frac=0.5, auto_compact_gens=2)

    g2 = make_docs_corpus(40, seed=32)
    g2["path"] = "gen2/" + g2["path"]
    m1 = inc.update(spark.createDataFrame(g2), input_token="ga-d2")
    assert "compaction" not in m1  # one pending generation: below threshold
    assert os.path.exists(f"{d}/generations")

    g3 = make_docs_corpus(40, seed=33)
    g3["path"] = "gen3/" + g3["path"]
    m2 = inc.update(spark.createDataFrame(g3), input_token="ga-d3")
    assert m2.get("compaction", {}).get("noop") is not True
    assert not os.path.exists(f"{d}/generations")

    post = spark.read.parquet(f"{d}/postings")
    assert post.groupBy("term").count().filter("count > 1").count() == 0
    eng = SearchEngine(spark, d)
    assert eng.wand_safe is True
    union = pd.concat([base, g2, g3], ignore_index=True)
    oracle = OracleIndex(union)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    for q in QUERIES[:3]:
        got = path_scores(eng.search(q, 10**6))
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        assert got == want, q


def test_crashed_update_rerun_never_duplicates(spark, tmp_path):
    """Crash recovery: an update that dies AFTER appending postings but
    BEFORE its doc_dict append leaves orphan posting ids. The generations
    marker records each append's id range before any file lands, so the
    re-run tombstones the orphan range, resumes ids above it, and results
    match the oracle exactly (no duplicate postings, no double-counted
    df); compact() then purges the orphans physically."""
    import hashlib
    import os
    import shutil

    base = make_docs_corpus(120, seed=41)
    dA = str(tmp_path / "idx_crash_base")
    IndexBuilder(spark, dA, n_buckets=4).build(
        spark.createDataFrame(base), input_token="cr-base"
    )

    changed = base.iloc[:30].copy()
    changed["content"] = "crashmark " + changed["content"]
    changed["content_sha256"] = [
        hashlib.sha256(c.encode()).hexdigest() for c in changed["content"]
    ]
    fresh = make_docs_corpus(30, seed=42)
    fresh["path"] = "cr2/" + fresh["path"]
    delta = pd.concat([changed, fresh], ignore_index=True)

    # run the update fully on a copy to harvest the post-append artifacts
    dB = str(tmp_path / "idx_crash_done")
    shutil.copytree(dA, dB)
    IncrementalIndexer(spark, dB).update(spark.createDataFrame(delta), "cr-delta")

    # crash state: tombstones + marker + appended postings from the dead
    # run, but doc_dict/stats/summaries still the base's (a crash just
    # after the postings append in the r5 commit order: tombstones ->
    # marker -> postings -> stats -> summaries -> doc_dict)
    dC = str(tmp_path / "idx_crash")
    shutil.copytree(dA, dC)
    for piece in ("postings", "tombstones", "generations"):
        dst = os.path.join(dC, piece)
        src = os.path.join(dB, piece)
        shutil.rmtree(dst, ignore_errors=True)
        if os.path.isfile(src):
            shutil.copy(src, dst)
        elif os.path.isdir(src):
            shutil.copytree(src, dst)

    # the re-run (same delta, new token — content-identical)
    inc = IncrementalIndexer(spark, dC)
    m = inc.update(spark.createDataFrame(delta), "cr-delta-rerun")
    assert m["rows_new"] == 60  # all delta rows re-applied (dict never saw them)

    want_docs = pd.concat([base.iloc[30:], changed, fresh], ignore_index=True)
    oracle = OracleIndex(want_docs)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    eng = SearchEngine(spark, dC)
    for q in QUERIES[:3] + ["crashmark"]:
        got = path_scores(eng.search(q, 10**6))
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        assert got == want, q

    # compact purges orphan postings: every surviving posting id is live
    cm = inc.compact()
    assert cm.get("noop") is not True
    post = spark.read.parquet(f"{dC}/postings")
    assert post.groupBy("term").count().filter("count > 1").count() == 0
    live_ids = {
        int(r["doc_id"])
        for r in spark.read.parquet(f"{dC}/doc_dict").select("doc_id").collect()
    }
    from admarus_spark.index.codec import decode_postings

    for r in post.select("ids", "tfs", "dls", "block_firsts", "block_lens").collect():
        ids, _, _ = decode_postings(
            bytes(r["ids"]), bytes(r["tfs"]), bytes(r["dls"]),
            r["block_firsts"], r["block_lens"],
        )
        assert set(int(i) for i in ids) <= live_ids
    eng2 = SearchEngine(spark, dC)
    for q in QUERIES[:2] + ["crashmark"]:
        got = path_scores(eng2.search(q, 10**6))
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        assert got == want, ("post-compact", q)


def test_tombstoned_search_is_float_exact_precompact(spark, tmp_path):
    """With tombstones pending (changed docs, NO compact), scoring must be
    float64-exact against the live-corpus oracle — not merely rank-bounded:
    idf comes from each term's live df, without its dead postings. Every
    query takes group-eval, whose task drops dead ids and counts live df
    itself; the filtered query reads its filter ids from the
    tombstone-free dictionary. Covers the single-query path AND the
    batched path."""
    import hashlib

    base = make_docs_corpus(140, seed=51)
    d = str(tmp_path / "idx_tomb_exact")
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(base), input_token="te-base"
    )
    changed = base.iloc[:50].copy()  # heavy churn: stale df would flip idf
    changed["content"] = "zzreplaced " + changed["content"]
    changed["content_sha256"] = [
        hashlib.sha256(c.encode()).hexdigest() for c in changed["content"]
    ]
    inc = IncrementalIndexer(spark, d)
    m = inc.update(spark.createDataFrame(changed), input_token="te-delta")
    assert m["rows_changed"] == 50
    import os

    assert os.path.exists(f"{d}/tombstones")  # pre-compact state under test

    live = pd.concat([base.iloc[50:], changed], ignore_index=True)
    oracle = OracleIndex(live)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    eng = SearchEngine(spark, d)
    for q in QUERIES + ["zzreplaced"]:
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        got = path_scores(eng.search(q, 10**6))
        assert got == want, q
    res = eng.search_many({f"q{i}": q for i, q in enumerate(QUERIES)}, k=10)
    rows = res.collect()
    for i, q in enumerate(QUERIES):
        got = sorted((r["path"], r["score"]) for r in rows if r["query_id"] == f"q{i}")
        want = sorted((opaths[di], s) for di, s in oracle.search(q, 10))
        assert got == want, ("batched", q)


def test_tombstone_only_crash_heals_stats(spark, tmp_path):
    """Crash window: a dead update wrote its changed-doc tombstones but died
    before the generations marker (the very first window of the commit
    sequence). The rerun then sees the changed paths as brand-new (their old
    ids are dead), so n_changed can no longer re-subtract the dead lengths
    from the running totals — the stats row's n_dead_acc count detects the
    un-accounted tombstones and forces the exact recompute (r5 review #1)."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    base = make_docs_corpus(100, seed=61)
    d = str(tmp_path / "idx_tombcrash")
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(base), input_token="tc-base"
    )
    # simulate the dead run's only surviving artifact: tombstones for the
    # docs whose content the (re-run) delta replaces
    changed = base.iloc[[4, 17]].copy()
    changed["content"] = "tombcrashmark " + changed["content"]
    changed["content_sha256"] = [
        hashlib.sha256(c.encode()).hexdigest() for c in changed["content"]
    ]
    dd = spark.read.parquet(os.path.join(d, "doc_dict"))
    dead_ids = [
        int(r["doc_id"])
        for r in dd.join(
            spark.createDataFrame(changed[["repo", "path"]]), ["repo", "path"]
        ).select("doc_id").collect()
    ]
    assert len(dead_ids) == 2
    spark.createDataFrame([(i,) for i in dead_ids], "doc_id long").coalesce(
        1
    ).write.mode("append").parquet(os.path.join(d, "tombstones"))

    inc = IncrementalIndexer(spark, d)
    m = inc.update(spark.createDataFrame(changed), input_token="tc-rerun")
    # the dead ids made the paths look new — and that is exactly why the
    # running formula would overstate; the guard must have re-based
    assert m["rows_changed"] == 0 and m["rows_new"] == 2
    assert m["stats_mode"] == "recompute"

    stats = spark.read.parquet(os.path.join(d, "stats")).collect()[0]
    tomb = spark.read.parquet(os.path.join(d, "tombstones"))
    live = spark.read.parquet(os.path.join(d, "doc_dict")).join(
        tomb, "doc_id", "left_anti"
    )
    agg = live.agg(F.count("*").alias("n"), F.sum("doc_len").alias("tt")).collect()[0]
    assert int(stats["n_docs"]) == int(agg["n"]) == 100
    assert int(stats["total_tokens"]) == int(agg["tt"])
    assert int(stats["n_dead_acc"]) == 2

    want_docs = pd.concat(
        [base.drop(index=[4, 17]), changed], ignore_index=True
    )
    oracle = OracleIndex(want_docs)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    eng = SearchEngine(spark, d)
    for q in QUERIES[:3] + ["tombcrashmark"]:
        got = path_scores(eng.search(q, 10**6))
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        assert got == want, q


def test_crash_before_docdict_append_rerun_heals(spark, tmp_path):
    """Crash window: the dead update wrote EVERYTHING except the final
    doc_dict append (the r5 commit order: tombstones -> marker -> postings
    -> stats -> summaries -> doc_dict). The rerun must orphan-tombstone the
    dead run's ids, re-absorb the delta, and land with stats equal to the
    live aggregate and float-exact scoring — the stale stats/summaries the
    dead run left behind must not survive."""
    import hashlib
    import os
    import shutil

    from pyspark.sql import functions as F

    base = make_docs_corpus(110, seed=71)
    dA = str(tmp_path / "idx_ddcrash_base")
    IndexBuilder(spark, dA, n_buckets=4).build(
        spark.createDataFrame(base), input_token="ddc-base"
    )
    changed = base.iloc[:20].copy()
    changed["content"] = "ddcrashmark " + changed["content"]
    changed["content_sha256"] = [
        hashlib.sha256(c.encode()).hexdigest() for c in changed["content"]
    ]
    fresh = make_docs_corpus(25, seed=72)
    fresh["path"] = "ddc/" + fresh["path"]
    delta = pd.concat([changed, fresh], ignore_index=True)

    dB = str(tmp_path / "idx_ddcrash_done")
    shutil.copytree(dA, dB)
    IncrementalIndexer(spark, dB).update(spark.createDataFrame(delta), "ddc-delta")

    # crash state: every artifact of the dead run EXCEPT doc_dict
    dC = str(tmp_path / "idx_ddcrash")
    shutil.copytree(dB, dC)
    shutil.rmtree(os.path.join(dC, "doc_dict"))
    shutil.copytree(os.path.join(dA, "doc_dict"), os.path.join(dC, "doc_dict"))

    inc = IncrementalIndexer(spark, dC)
    m = inc.update(spark.createDataFrame(delta), "ddc-rerun")
    assert m["rows_new"] == 45  # dict never saw the dead run's ids
    assert m["stats_mode"] == "recompute"  # orphan recovery re-based stats

    stats = spark.read.parquet(os.path.join(dC, "stats")).collect()[0]
    tomb = spark.read.parquet(os.path.join(dC, "tombstones"))
    live = spark.read.parquet(os.path.join(dC, "doc_dict")).join(
        tomb, "doc_id", "left_anti"
    )
    agg = live.agg(F.count("*").alias("n"), F.sum("doc_len").alias("tt")).collect()[0]
    assert int(stats["n_docs"]) == int(agg["n"]) == 110 + 25
    assert int(stats["total_tokens"]) == int(agg["tt"])

    want_docs = pd.concat([base.iloc[20:], changed, fresh], ignore_index=True)
    oracle = OracleIndex(want_docs)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    eng = SearchEngine(spark, dC)
    for q in QUERIES[:3] + ["ddcrashmark"]:
        got = path_scores(eng.search(q, 10**6))
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        assert got == want, q

    # compact then purges the dead run's duplicate posting generations
    inc.compact()
    post = spark.read.parquet(f"{dC}/postings")
    assert post.groupBy("term").count().filter("count > 1").count() == 0
    eng2 = SearchEngine(spark, dC)
    for q in QUERIES[:2] + ["ddcrashmark"]:
        got = path_scores(eng2.search(q, 10**6))
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        assert got == want, ("post-compact", q)


def test_compact_folds_generations_across_arrow_batches(spark, tmp_path):
    """A bucket's vocabulary spans MANY Arrow batches in the compaction
    sweep (arrow maxRecordsPerBatch << bucket terms at realistic scale) — a
    term whose generation rows straddle a batch boundary must still fold to
    ONE row (r5 review #3: the per-batch fold silently left one row per
    batch; the partition-local term sort + tail-carry makes the fold exact
    with bounded memory). Forced here by shrinking the Arrow batch size far
    below the fixture vocabulary."""
    import os

    base = make_docs_corpus(120, seed=81)
    g2 = make_docs_corpus(50, seed=82)
    g2["path"] = "gen2/" + g2["path"]
    g3 = make_docs_corpus(50, seed=83)
    g3["path"] = "gen3/" + g3["path"]
    d = str(tmp_path / "idx_foldbatch")
    IndexBuilder(spark, d, n_buckets=2).build(
        spark.createDataFrame(base), input_token="fb-base"
    )
    inc = IncrementalIndexer(spark, d)
    inc.update(spark.createDataFrame(g2), "fb-d2")
    inc.update(spark.createDataFrame(g3), "fb-d3")
    assert os.path.exists(f"{d}/generations")

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")  # far below the bucket vocabulary
    try:
        cm = inc.compact()
    finally:
        spark.conf.set(key, prev)
    assert cm.get("noop") is not True
    post = spark.read.parquet(f"{d}/postings")
    multi = post.groupBy("term").count().filter("count > 1").count()
    assert multi == 0

    union = pd.concat([base, g2, g3], ignore_index=True)
    oracle = OracleIndex(union)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    eng = SearchEngine(spark, d)
    assert eng.wand_safe is True
    for q in QUERIES:
        got = path_scores(eng.search(q, 10**6))
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        assert got == want, q


def test_compact_over_cap_takes_whole_table_exchange(spark, tmp_path, monkeypatch):
    """Above SPARK_GRAFT_COMPACT_MULTI_CAP multi-row terms, the split sweep
    would not fit its broadcast — compact() must fall back to the whole-table
    exchange + sort (every row through the tail-carry fold) and stay exact.
    Forced with cap=0 + a tiny Arrow batch so the carry path is stressed."""
    import os

    base = make_docs_corpus(120, seed=91)
    g2 = make_docs_corpus(50, seed=92)
    g2["path"] = "gen2/" + g2["path"]
    d = str(tmp_path / "idx_capfold")
    IndexBuilder(spark, d, n_buckets=2).build(
        spark.createDataFrame(base), input_token="cap-base"
    )
    inc = IncrementalIndexer(spark, d)
    inc.update(spark.createDataFrame(g2), "cap-d2")
    assert os.path.exists(f"{d}/generations")

    monkeypatch.setenv("SPARK_GRAFT_COMPACT_MULTI_CAP", "0")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        cm = inc.compact()
    finally:
        spark.conf.set(key, prev)
    assert cm.get("noop") is not True
    post = spark.read.parquet(f"{d}/postings")
    assert post.groupBy("term").count().filter("count > 1").count() == 0

    union = pd.concat([base, g2], ignore_index=True)
    oracle = OracleIndex(union)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    eng = SearchEngine(spark, d)
    assert eng.wand_safe is True
    for q in QUERIES:
        got = path_scores(eng.search(q, 10**6))
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        assert got == want, q


def test_update_dedups_within_delta(spark, tmp_path):
    """A delta carrying the same (repo, path) twice — two versions observed
    in one crawl tick — must index exactly ONE deterministic winner (the
    greatest content_sha256). Without the within-delta dedup both copies
    pass the live-corpus anti-join, the manifest assigns each its own id
    and the join fans out: duplicated postings, double-counted df, two live
    dictionary rows for one path (r5 review)."""
    import os

    base = make_docs_corpus(60, seed=71)
    d = str(tmp_path / "idx_dupdelta")
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(base), input_token="dup-base"
    )
    extra = make_docs_corpus(4, seed=72).reset_index(drop=True)
    extra.loc[0, "path"] = "extra/dup.py"
    extra.loc[1, "path"] = "extra/dup.py"
    extra.loc[0, "repo"] = extra.loc[1, "repo"] = "orgd/projd"
    # two CHANGED versions of one existing path
    extra.loc[2, ["repo", "path"]] = base.loc[5, ["repo", "path"]]
    extra.loc[3, ["repo", "path"]] = base.loc[5, ["repo", "path"]]
    extra = extra.drop(columns=["content_sha256"])  # recomputed by update()

    inc = IncrementalIndexer(spark, d)
    m = inc.update(spark.createDataFrame(extra), input_token="dup-d1")
    assert m["rows_new"] == 2  # one winner per duplicated path
    assert m["rows_changed"] == 1

    from admarus_spark.corpus import sha256_hex

    shas = [sha256_hex(c) for c in extra["content"]]
    w_new = extra.iloc[0] if shas[0] > shas[1] else extra.iloc[1]
    w_chg = extra.iloc[2] if shas[2] > shas[3] else extra.iloc[3]
    expected = pd.concat(
        [base.drop(index=5), pd.DataFrame([w_new, w_chg])], ignore_index=True
    )

    # exactly one live dictionary row per (repo, path)
    dd = spark.read.parquet(f"{d}/doc_dict")
    tomb = spark.read.parquet(f"{d}/tombstones")
    live = dd.join(tomb, "doc_id", "left_anti")
    assert live.groupBy("repo", "path").count().filter("count > 1").count() == 0
    assert live.count() == len(expected)

    oracle = OracleIndex(expected)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    eng = SearchEngine(spark, d)
    for q in QUERIES:
        got = path_scores(eng.search(q, 10**6))
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        assert got == want, q


def test_heal_swap_recovers_interrupted_compaction(spark, tmp_path):
    """A crash between _swap_dir's two renames leaves the live dir missing
    while the fully-written `_next` dir is still on disk; the next
    update()/compact() must promote `_next` and converge instead of dying
    on path-not-found (r5 review — the one crash window the marker protocol
    did not cover)."""
    import os

    base = make_docs_corpus(80, seed=81)
    g2 = make_docs_corpus(30, seed=82)
    g2["path"] = "g2/" + g2["path"]
    d = str(tmp_path / "idx_heal")
    IndexBuilder(spark, d, n_buckets=2).build(
        spark.createDataFrame(base), input_token="heal-base"
    )
    inc = IncrementalIndexer(spark, d)
    inc.update(spark.createDataFrame(g2), "heal-d2")
    inc.compact()

    # simulate the crash window on BOTH swapped dirs
    post, dd = f"{d}/postings", f"{d}/doc_dict"
    os.rename(post, post + "_next")
    os.rename(dd, dd + "_next")
    cm = inc.compact()  # heals first, then no-ops (nothing left to fold)
    assert cm.get("noop") is True
    assert os.path.exists(post) and os.path.exists(dd)
    assert not os.path.exists(post + "_next")  # promoted, not copied
    assert not os.path.exists(dd + "_next")

    union = pd.concat([base, g2], ignore_index=True)
    oracle = OracleIndex(union)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    eng = SearchEngine(spark, d)
    for q in QUERIES:
        got = path_scores(eng.search(q, 10**6))
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        assert got == want, q


def test_heal_swap_recovers_summaries_and_stats(spark, tmp_path):
    """summaries and stats are now written via the same write-then-swap as
    postings/doc_dict (a plain overwrite deletes the live files before the
    job commits — a crash there permanently lost un-affected buckets' bloom
    rows). Simulate the crash window on both dirs; the next update() must
    heal them and stay rank-exact, and a sha-invalid delta row must be
    excluded (build-parity validation on the incremental path)."""
    import os

    base = make_docs_corpus(80, seed=83)
    d = str(tmp_path / "idx_heal_ss")
    IndexBuilder(spark, d, n_buckets=2).build(
        spark.createDataFrame(base), input_token="heal-ss-base"
    )
    summ, stats = f"{d}/summaries", f"{d}/stats"
    os.rename(summ, summ + "_next")
    os.rename(stats, stats + "_next")

    g2 = make_docs_corpus(30, seed=84)
    g2["path"] = "g2/" + g2["path"]
    # one junk-sha row: must be excluded, not indexed under the wrong sha
    g2.loc[0, "content_sha256"] = "f" * 64
    inc = IncrementalIndexer(spark, d)
    m = inc.update(spark.createDataFrame(g2), "heal-ss-d2")
    assert m["rows_invalid_sha"] == 1
    assert os.path.exists(summ) and os.path.exists(stats)
    assert not os.path.exists(summ + "_next")
    assert not os.path.exists(stats + "_next")

    union = pd.concat([base, g2.iloc[1:]], ignore_index=True)
    oracle = OracleIndex(union)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    eng = SearchEngine(spark, d)
    for q in QUERIES:
        got = path_scores(eng.search(q, 10**6))
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        assert got == want, q


def test_torn_marker_tail_healed_on_next_update(spark, tmp_path):
    """A crash mid-append can leave the generations marker with a torn final
    line (no trailing newline). The NEXT update must truncate it before
    appending — 'a'-mode would otherwise concatenate the two lines into one
    garbled record, losing the new run's id range and turning the tolerated
    torn-FINAL line into a loud mid-file corruption error forever after."""
    import os

    from admarus_spark.streaming.incremental import _marker_max_id

    base = make_docs_corpus(60, seed=91)
    d = str(tmp_path / "idx_torn")
    IndexBuilder(spark, d, n_buckets=2).build(
        spark.createDataFrame(base), input_token="torn-base"
    )
    inc = IncrementalIndexer(spark, d)
    g2 = make_docs_corpus(20, seed=92)
    g2["path"] = "g2/" + g2["path"]
    inc.update(spark.createDataFrame(g2), "torn-d2")

    gen = os.path.join(d, "generations")
    with open(gen, "a") as f:
        f.write("torn-run\t99")  # torn fragment: no \n, unparseable
    m_before = _marker_max_id(gen)  # tolerated as the FINAL line

    g3 = make_docs_corpus(20, seed=93)
    g3["path"] = "g3/" + g3["path"]
    inc.update(spark.createDataFrame(g3), "torn-d4")

    with open(gen) as f:
        lines = f.read().splitlines()
    assert all(len(ln.split("\t")) == 3 for ln in lines), lines
    assert _marker_max_id(gen) > m_before  # parseable, new range recorded

    union = pd.concat([base, g2, g3], ignore_index=True)
    oracle = OracleIndex(union)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    eng = SearchEngine(spark, d)
    for q in QUERIES[:3]:
        got = path_scores(eng.search(q, 10**6))
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        assert got == want, q


def test_all_invalid_delta_still_reports_invalid_count(spark, tmp_path):
    """A delta rejected wholesale (every row sha-invalid) takes the
    n_new == 0 early return — which must still carry rows_invalid_sha:
    that is exactly the case a caller monitoring the metric exists for."""
    base = make_docs_corpus(40, seed=95)
    d = str(tmp_path / "idx_allbad")
    IndexBuilder(spark, d, n_buckets=2).build(
        spark.createDataFrame(base), input_token="allbad-base"
    )
    bad = make_docs_corpus(5, seed=96)
    bad["path"] = "bad/" + bad["path"]
    bad["content_sha256"] = "0" * 64
    m = IncrementalIndexer(spark, d).update(spark.createDataFrame(bad), "allbad-d2")
    assert m["rows_new"] == 0
    assert m["rows_invalid_sha"] == 5


def test_engine_init_heals_interrupted_swap(spark, tmp_path):
    """A crash between swap_dir's two renames leaves stats/summaries missing
    with the complete new table in <dir>_next. A READ-ONLY consumer
    (SearchEngine) constructed inside that window must heal and serve —
    update()/compact() are not the only processes that open an index."""
    import os

    base = make_docs_corpus(60, seed=97)
    d = str(tmp_path / "idx_roheal")
    IndexBuilder(spark, d, n_buckets=2).build(
        spark.createDataFrame(base), input_token="roheal-base"
    )
    os.rename(f"{d}/stats", f"{d}/stats_next")
    os.rename(f"{d}/summaries", f"{d}/summaries_next")

    oracle = OracleIndex(base)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    eng = SearchEngine(spark, d)  # must heal, not fail at the parquet read
    assert os.path.isdir(f"{d}/stats") and os.path.isdir(f"{d}/summaries")
    assert not os.path.exists(f"{d}/stats_next")
    for q in QUERIES[:3]:
        got = path_scores(eng.search(q, 10**6))
        want = sorted((opaths[i], s) for i, s in oracle.search(q, 10**6))
        assert got == want, q


def test_shard_ranges_cover_sparse_live_ids(spark, tmp_path, monkeypatch):
    """Ids are append-assigned and never reused: after every doc of a 100-doc
    corpus is replaced once and the index compacted, the live ids occupy
    [100, 199] while n_docs stays 100. Forced doc-range sharding must size
    its ranges from the TRUE max live id and stay exact — ranges sized by
    n_docs would funnel the whole corpus into the open-ended last shard
    (r5 review)."""
    base = make_docs_corpus(100, seed=85)
    d = str(tmp_path / "idx_sparse")
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(base), input_token="sparse-base"
    )
    changed = base.drop(columns=["content_sha256"]).copy()
    changed["content"] = changed["content"] + " zzshardmarker"
    inc = IncrementalIndexer(spark, d)
    m = inc.update(spark.createDataFrame(changed), input_token="sparse-d1")
    assert m["rows_changed"] == 100
    inc.compact()

    eng = SearchEngine(spark, d)
    assert eng.n_docs == 100
    assert eng._max_live_doc_id() == 199  # sparse: max id ~ 2x the live count

    monkeypatch.setenv("SPARK_GRAFT_GROUP_EVAL_SHARDS", "4")
    batch = {f"q{i}": q for i, q in enumerate(QUERIES) if "=" not in q}
    got = eng.search_many(batch, k=10).collect()
    by_qid: dict[str, list] = {}
    for r in got:
        by_qid.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in batch.items():
        single = [(r["doc_id"], r["score"]) for r in eng.search(q, 10).collect()]
        assert by_qid.get(qid, []) == single, q


def test_stale_bounds_maxfold_decodes_full(spark, tmp_path):
    """A new-docs-only delta that RAISES avgdl leaves no tombstones but
    stale block maxes: every saturation grows, long docs' most. In the
    base, the short ``a/0000`` (tf 1, dl 1) tops ``zzfoo``'s first block
    and the long ``a/0199`` (tf 5, dl 50) its second block, under a lower
    bound. After the delta (avgdl ~10 -> ~100) a/0199 scores higher, yet
    its stored bound stays below a/0000's new saturation: a greedy block
    selection on the stored bounds would stop after the first block and
    miss it. Max-fold queries at k=1 still take group-eval, which decodes
    them in full while the bounds are stale."""
    from admarus_spark.corpus import sha256_hex

    filler = "alpha bravo charlie delta echo foxtrot golf hotel india"

    def docs(rows):
        pdf = pd.DataFrame(rows, columns=["repo", "path", "content"])
        pdf["commit"], pdf["lang"] = "0" * 40, "en"
        pdf["content_sha256"] = pdf["content"].map(sha256_hex)
        return pdf

    contents = ["zzfoo " + filler] * 200
    contents[0] = "zzfoo"
    contents[199] = "zzfoo " * 5 + " ".join([filler] * 5)
    base = docs([("a", f"{i:04d}", c) for i, c in enumerate(contents)])
    delta = docs([("b", f"{i:04d}", " ".join(["zzlong"] * 1000)) for i in range(20)])
    d = str(tmp_path / "idx_stale_bounds")
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(base), input_token="sb-base"
    )
    IncrementalIndexer(spark, d).update(spark.createDataFrame(delta), "sb-delta")
    eng = SearchEngine(spark, d)
    assert eng.tombstones is None and eng.wand_safe is False
    assert eng.avgdl > 9 * float(eng.spark.read.parquet(f"{d}/stats").first()["bm_avgdl"])
    oracle = OracleIndex(pd.concat([base, delta], ignore_index=True))
    assert oracle.docs["path"][oracle.search("zzfoo", 1)[0][0]] == "0199"
    for q, k in (("zzfoo", 1), ("zzfoo", 2), ("zzfoo zzlong", 1)):
        got = [(r["doc_id"], r["score"]) for r in eng.search(q, k).collect()]
        assert got == oracle.search(q, k), (q, k)
        assert eng.last_group_eval is not None, q
    rows = eng.search_many({"a": "zzfoo", "b": "zzfoo zzlong"}, k=1).collect()
    assert [(r["query_id"], r["doc_id"], r["score"]) for r in rows] == [
        ("a", *oracle.search("zzfoo", 1)[0]),
        ("b", *oracle.search("zzfoo zzlong", 1)[0]),
    ]


def test_sharded_tombstoned_group_takes_driver_live_df(
    spark, tomb_engine, tomb_oracle, monkeypatch
):
    """Forced doc-range sharding on a tombstoned index: a shard sees only
    part of each posting list, so the group takes its live df from the
    driver (_live_df_map) — and stays float-exact, single and batched."""
    eng = tomb_engine
    calls = []
    live_df = eng._live_df_map

    def counting(pruned, df_map):
        calls.append(sorted(df_map))
        return live_df(pruned, df_map)

    monkeypatch.setattr(eng, "_live_df_map", counting)
    monkeypatch.setenv("SPARK_GRAFT_GROUP_EVAL_SHARDS", "2")
    queries = ["hunger", "hunger AND games", "license", "parser lexer bloom",
               "2(parser, lexer, bloom)", "parser AND NOT bloom", "zzdoomedterm"]

    def want(q, k):
        return [
            (tomb_oracle.docs["repo"][i], tomb_oracle.docs["path"][i], s)
            for i, s in tomb_oracle.search(q, k)
        ]

    for q in queries:
        calls.clear()
        got = [(r["repo"], r["path"], r["score"]) for r in eng.search(q, 10).collect()]
        assert got == want(q, 10), q
        assert eng.last_group_eval["sharded_groups"] >= 1, q
        assert calls, q
    calls.clear()
    batch = {f"q{i}": q for i, q in enumerate(queries)}
    rows = eng.search_many(batch, k=10).collect()
    assert eng.last_group_eval["sharded_groups"] >= 1
    assert calls
    for qid, q in batch.items():
        got = [(r["repo"], r["path"], r["score"]) for r in rows if r["query_id"] == qid]
        assert got == want(q, 10), q
