"""End-to-end: Spark engine must be rank-identical (doc ids AND float64
scores, bit-for-bit) to the NumPy oracle on the reference query set
(FIXTURES.md §3) plus engine-stress queries."""

import shutil

import numpy as np
import pytest

from admarus_spark.index import checkpoint as ckpt
from admarus_spark.index.build import IndexBuilder
from admarus_spark.search.engine import SearchEngine

MOVIES_QUERIES = [
    "hunger",                       # kamilata/tests/search.rs:57
    "perfectly matching",           # kamilata/tests/priorities.rs:74,87 (quick-OR!)
    "hunger AND games",
    "hunger / games",
    "hunger + fire",
    "survival AND NOT hunger",
    "2(hunger, games, fire)",
    "3(hunger, games, fire, survival)",
    "lang=en AND hunger",
    "repo=movies AND fire",
    "lang=en",
    "path=hunger AND hunger",       # path is not a metadata column -> empty
    "survival rebellion hope",
    "NOT hunger",
    "nosuchterm",
    "aa bb",                        # all sub-3-char -> empty
]

DOCS_QUERIES = [
    "license",                      # hot term (>=50% of docs: skew fixture)
    "parser",
    "license AND parser",           # hot ∧ mid
    "rareterm000063z",              # unique rare term
    "license AND rareterm000063z",  # hot ∧ rare
    "parser lexer bloom",           # quick-OR
    "license / parser / bloom",
    "2(parser, lexer, bloom)",
    "parser AND NOT bloom",
    "lang=python AND bloom",
    "camelcase",                    # mixed-case source token
    "todo",
    "123 456",                      # numeric tokens
    "if a of",                      # tokenizer-drop -> empty
    "license AND NOT license",      # contradiction -> empty
]


def run_parity(engine, oracle, queries, k=10, wand="auto"):
    fails = []
    for q in queries:
        got = [(r["doc_id"], r["score"]) for r in engine.search(q, k, wand=wand).collect()]
        want = oracle.search(q, 10**9 if k is None else k)
        if got != want:
            fails.append((q, got[:3], want[:3]))
    assert not fails, fails


def cap_for_shards(eng, q, shards=3):
    """A group-eval byte budget that splits the one-member group of ``q``
    into ``shards`` doc-range shards (its decoded estimate is ~24 bytes
    per posting of its indexed terms)."""
    from admarus_spark.query.parser import parse_query

    est = sum(eng.df_cache.get(t, 0) for t in set(parse_query(q).terms()))
    return max(-(-est * 24 // shards), 1)


def run_capped_parity(eng, oracle, queries, monkeypatch, k=10, shards=3):
    """``run_parity`` with each query's group over the per-task byte
    budget: it must split into ``shards`` shards and stay oracle-exact."""
    for q in queries:
        with monkeypatch.context() as m:
            m.setattr(eng, "group_eval_max_bytes", cap_for_shards(eng, q, shards))
            run_parity(eng, oracle, [q], k=k)
        st = eng.last_group_eval
        assert st is None or (st["tasks"], st["sharded_groups"]) == (shards, 1), (q, st)


def shard_eval(eng, q, k, shards, monkeypatch):
    """Run the group-eval task of ``q`` in this process, split into
    ``shards`` doc-range shards the way the engine splits an over-budget
    group, with ``group_eval.decode_postings`` and the greedy block
    selection wrapped. Returns (merged top-k rows, ids decoded per term —
    not counting the greedy's block probes —, terms the greedy ran for,
    stored df per term)."""
    from pyspark.sql import functions as F

    from admarus_spark.oracle import bm25_idf
    from admarus_spark.query.parser import parse_query
    from admarus_spark.search import group_eval

    query = parse_query(q)
    terms = sorted(set(query.terms()))
    pdf = (
        eng.postings.filter(F.col("term").isin(terms))
        .select(
            "term", "df", "ids", "tfs", "dls", "block_firsts", "block_lasts",
            "block_lens", "ids_offs", "tfs_offs", "dls_offs", "block_max",
        )
        .toPandas()
    )
    rows: dict[str, list] = {}
    for r in pdf.itertuples():
        rows.setdefault(r.term, []).append(r)
    df_map = {t: int(sum(r.df for r in rs)) for t, rs in rows.items()}
    idf_map = {t: bm25_idf(eng.n_docs, d) for t, d in df_map.items()}
    term_of = {id(r.ids): t for t, rs in rows.items() for r in rs}
    decoded: dict[str, int] = {}
    greedy: set[str] = set()
    decode, topk = group_eval.decode_postings, group_eval.select_blocks_topk
    probing = []

    def counting_decode(ids, *a):
        out = decode(ids, *a)
        if not probing:  # the greedy's own block probes are not the decode
            t = term_of[id(ids)]
            decoded[t] = decoded.get(t, 0) + out[0].size
        return out

    def counting_topk(r, *a):
        greedy.add(term_of[id(r.ids)])
        probing.append(1)
        try:
            return topk(r, *a)
        finally:
            probing.pop()

    max_id = eng._max_live_doc_id() + 1
    step = -(-max_id // shards)
    got: list[tuple[int, float]] = []
    for j in range(shards):
        lo, hi = j * step, ((j + 1) * step if j < shards - 1 else 1 << 62)
        with monkeypatch.context() as m:
            m.setattr(group_eval, "decode_postings", counting_decode)
            m.setattr(group_eval, "select_blocks_topk", counting_topk)
            recs = group_eval.evaluate_group(
                [("q", query)], rows, df_map, idf_map, k, eng.avgdl,
                id_lo=lo, id_hi=hi,
            )
        got += [(d, s) for _q, d, s in recs]
    got.sort(key=lambda x: (-x[1], x[0]))
    return got[:k], decoded, greedy, df_map


def test_movies_parity(movies_engine, movies_oracle):
    run_parity(movies_engine, movies_oracle, MOVIES_QUERIES)


def test_docs_parity(docs_engine, docs_oracle):
    run_parity(docs_engine, docs_oracle, DOCS_QUERIES)


def test_docs_parity_wand_off(docs_engine, docs_oracle):
    run_parity(docs_engine, docs_oracle, DOCS_QUERIES, wand="off")


def test_oracle_sweep_k_and_wand(movies_engine, movies_oracle, docs_engine, docs_oracle):
    """Every query shape (filters, ``lang=en``, ``NOT hunger``, misses) at
    k in {1, 10, None} and wand in {auto, off} equals the oracle: one
    evaluation route serves them all, ``wand="off"`` as its unpruned
    reference."""
    for k in (1, 10, None):
        for wand in ("auto", "off"):
            run_parity(movies_engine, movies_oracle, MOVIES_QUERIES, k=k, wand=wand)
            run_parity(docs_engine, docs_oracle, DOCS_QUERIES, k=k, wand=wand)


def _tomb_sweep(eng, oracle):
    fails = []
    for k in (1, 10, None):
        for wand in ("auto", "off"):
            for q in MOVIES_QUERIES + DOCS_QUERIES:
                if tomb_search(eng, q, k, wand) != tomb_results(oracle, q, k):
                    fails.append((q, k, wand))
    assert not fails, fails


def test_oracle_sweep_tombstoned(tomb_engine, tomb_oracle):
    """The same sweep on an index with pending tombstones, against the
    live-corpus oracle."""
    _tomb_sweep(tomb_engine, tomb_oracle)


def test_oracle_sweep_sharded(tomb_engine, tomb_oracle, monkeypatch):
    """The tombstoned sweep with every group split into two doc-range
    shards: filter ids clip to each shard, live df comes from the
    driver, and the shard merge keeps the oracle's order."""
    monkeypatch.setenv("SPARK_GRAFT_GROUP_EVAL_SHARDS", "2")
    _tomb_sweep(tomb_engine, tomb_oracle)
    assert tomb_engine.last_group_eval["sharded_groups"] == 1


def test_wand_rank_safe_large_k(docs_engine, docs_oracle):
    # WAND block skipping must stay exact at several k values
    for k in (1, 3, 25, 200):
        run_parity(docs_engine, docs_oracle, ["license", "parser lexer bloom"], k=k)


def test_partition_count_invariance(spark, docs_pdf, docs_oracle, tmp_path):
    """Same corpus indexed with different bucket/partition settings must
    produce identical query results (SURVEY.md §5 test plan b)."""
    d = str(tmp_path / "idx_alt")
    IndexBuilder(spark, d, n_buckets=3).build(
        spark.createDataFrame(docs_pdf).repartition(17), input_token="alt"
    )
    eng = SearchEngine(spark, d)
    run_parity(eng, docs_oracle, ["license", "license AND parser", "2(parser, lexer, bloom)"])


def test_tid_dict_parity_with_string_path(spark, docs_pdf, docs_oracle, tmp_path, monkeypatch):
    """The tid-dictionary shuffle-encode (default) and the plan a vocabulary
    above SPARK_GRAFT_S2_MAX_DICT_TERMS takes instead — local-merge, which
    keeps string term keys and needs no dictionary; the string shuffle-encode
    it replaces is gone — must produce the SAME postings (every term with its
    df, bucket and decoded (doc id, tf, dl) entries, every block's id bounds
    tight) and identical query results. Block boundaries may differ:
    local-merge concatenates one encoded chunk per tf partition. Forces the
    fallback by zeroing the dictionary-size gate."""
    import numpy as np

    from admarus_spark.index.codec import decode_postings

    d1 = str(tmp_path / "idx_tid")
    b1 = IndexBuilder(spark, d1, n_buckets=8)
    b1.build(spark.createDataFrame(docs_pdf), input_token="tid")
    assert b1.metrics["stage2_postings"]["strategy"] == "shuffle-encode"

    monkeypatch.setenv("SPARK_GRAFT_S2_MAX_DICT_TERMS", "0")
    d2 = str(tmp_path / "idx_str")
    b2 = IndexBuilder(spark, d2, n_buckets=8)
    b2.build(spark.createDataFrame(docs_pdf), input_token="str")
    assert b2.metrics["stage2_postings"]["strategy"] == "local-merge"

    def snapshot(d):
        out = []
        for r in spark.read.parquet(d + "/postings").collect():
            ids, tfs, dls = decode_postings(
                r["ids"], r["tfs"], r["dls"], r["block_firsts"], r["block_lens"]
            )
            assert ids.size == r["df"] == sum(r["block_lens"]), r["term"]
            ends = np.cumsum(r["block_lens"])
            for first, last, lo, hi in zip(
                r["block_firsts"], r["block_lasts"], ends - r["block_lens"], ends
            ):
                assert (first, last) == (ids[lo:hi].min(), ids[lo:hi].max()), r["term"]
            entries = tuple(sorted(zip(ids.tolist(), tfs.tolist(), dls.tolist())))
            out.append((r["term"], r["df"], r["tb"], entries))
        return sorted(out)

    assert snapshot(d1) == snapshot(d2)
    for d in (d1, d2):
        run_parity(
            SearchEngine(spark, d), docs_oracle,
            ["license", "license AND parser", "parser lexer bloom"],
        )


def test_auto_guard_uses_largest_bucket(spark, tmp_path, monkeypatch):
    """The 'auto' memory guard must gate on the LARGEST bucket, not the
    cross-bucket mean (ADVICE r4): with a cap between the two, a skewed
    vocabulary (every doc shares one hot term) must fall back to
    local-merge even though the mean estimate fits."""
    import pandas as pd

    pdf = pd.DataFrame(
        [
            {
                "repo": "skew", "path": f"f{i:04d}.py", "commit": "c0",
                "lang": "python", "content": f"hotterm uniq{i:05d}term",
            }
            for i in range(300)
        ]
    )
    d1 = str(tmp_path / "idx_probe")
    b1 = IndexBuilder(spark, d1, n_buckets=8)
    b1.build(spark.createDataFrame(pdf), input_token="probe")
    s2 = b1.metrics["stage2_postings"]
    s1 = b1.metrics["stage1_tokenize"]
    assert s2["strategy"] == "shuffle-encode"
    max_bucket_bytes = int(s2["max_bucket_rows"]) * 48
    mean_est = int(s1["total_tokens"]) * 48 // 8
    cap = max_bucket_bytes - 1
    assert mean_est <= cap, "corpus must separate mean from max for this test"
    monkeypatch.setenv("SPARK_GRAFT_S2_MAX_BUCKET_BYTES", str(cap))
    d2 = str(tmp_path / "idx_skewguard")
    b2 = IndexBuilder(spark, d2, n_buckets=8)
    b2.build(spark.createDataFrame(pdf), input_token="skewguard")
    assert b2.metrics["stage2_postings"]["strategy"] == "local-merge"


def test_auto_strategy_resolution(spark, docs_pdf, docs_oracle, tmp_path, monkeypatch):
    """Stage 2 resolves to shuffle-encode when the largest bucket fits
    SPARK_GRAFT_S2_MAX_BUCKET_BYTES, and to local-merge above the cap — with
    identical query results either way (the gate is a physical-plan decision
    only). The dictionary-size cap is checked by
    test_tid_dict_parity_with_string_path."""
    d1 = str(tmp_path / "idx_auto_se")
    b1 = IndexBuilder(spark, d1, n_buckets=8)
    b1.build(spark.createDataFrame(docs_pdf), input_token="auto1")
    assert b1.metrics["stage2_postings"]["strategy"] == "shuffle-encode"

    monkeypatch.setenv("SPARK_GRAFT_S2_MAX_BUCKET_BYTES", "1")  # force fallback
    d2 = str(tmp_path / "idx_auto_lm")
    b2 = IndexBuilder(spark, d2, n_buckets=8)
    b2.build(spark.createDataFrame(docs_pdf), input_token="auto2")
    assert b2.metrics["stage2_postings"]["strategy"] == "local-merge"
    for d in (d1, d2):
        run_parity(
            SearchEngine(spark, d), docs_oracle,
            ["license", "parser lexer bloom", "license AND parser"],
        )


def test_resume_skips_completed_stages(spark, movies_pdf, tmp_path):
    d = str(tmp_path / "idx_resume")
    b = IndexBuilder(spark, d, n_buckets=4)
    docs = spark.createDataFrame(movies_pdf)
    b.build(docs, input_token="r1")
    s1 = b.metrics["stage1_tokenize"]["wall_clock_completed"]
    # stage2 invalidated -> only stages 2,3 re-run; stage1 output reused
    ckpt.invalidate(d, "stage2_postings")
    b.build(docs, input_token="r1")
    assert b.metrics["stage1_tokenize"]["wall_clock_completed"] == s1
    eng = SearchEngine(spark, d)
    assert eng.search("hunger", 5).count() == 5


def test_sha_validation_excludes_rows(spark, movies_pdf, tmp_path):
    d = str(tmp_path / "idx_sha")
    bad = movies_pdf.copy()
    bad.loc[3, "content_sha256"] = "0" * 64
    # parquet source, not createDataFrame: the content-free-scan guard below
    # is a plan assertion, and Catalyst constant-folds filters into a
    # LocalRelation (where sha2 would vanish from the plan either way)
    src = str(tmp_path / "docs_sha.parquet")
    spark.createDataFrame(bad).write.parquet(src)
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(spark.read.parquet(src), input_token="sha")
    m = b.metrics["stage1_tokenize"]
    assert m["rows_invalid_sha"] == 1
    assert m["n_docs"] == len(movies_pdf) - 1
    # duplicate-free input: the doc_dict job must stay content-free — the
    # validity filter lives in the tf marker join, NOT a sha2 re-scan (r5
    # regression guard; the plan-level flag is recorded by the build)
    assert m["docdict_hashes_content"] is False


def test_duplicate_input_paths_deduped_to_max_sha_winner(
    spark, movies_pdf, tmp_path
):
    """A crawl dump carrying the same (repo, path) twice must not fan out
    the manifest join (duplicate postings, double-counted df, multiple
    doc_dict rows): the build keeps ONE deterministic winner per key — the
    max-content_sha256 row, same rule as the incremental within-delta
    dedup — and the engine matches an oracle over the deduped corpus."""
    import hashlib

    from admarus_spark.oracle import OracleIndex

    dirty = movies_pdf.copy()
    dup = dirty.iloc[[5]].copy()
    dup["content"] = dup["content"] + " duplicated variant row"
    dup["content_sha256"] = [
        hashlib.sha256(c.encode()).hexdigest() for c in dup["content"]
    ]
    dirty = __import__("pandas").concat([dirty, dup], ignore_index=True)

    # expected corpus: per (repo, path) the max-sha row
    clean = (
        dirty.sort_values(["repo", "path", "content_sha256"])
        .groupby(["repo", "path"], as_index=False)
        .last()
    )
    oracle = OracleIndex(clean)

    d = str(tmp_path / "idx_dup")
    src = str(tmp_path / "docs_dup.parquet")
    spark.createDataFrame(dirty).write.parquet(src)
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(spark.read.parquet(src), input_token="dup")
    m = b.metrics["stage1_tokenize"]
    assert m["rows_dup_path"] == 1
    assert m["n_docs"] == len(clean)
    # the dirty path alone pays the content re-scan (dedup needs the
    # sha-validated rows in the dictionary lineage; parquet source so the
    # plan flag is meaningful — see test_sha_validation_excludes_rows)
    assert m["docdict_hashes_content"] is True

    dd = spark.read.parquet(d + "/doc_dict").toPandas()
    assert len(dd) == len(clean)
    assert dd.groupby(["repo", "path"]).size().max() == 1

    eng = SearchEngine(spark, d)
    run_parity(eng, oracle, ["hunger", "hunger AND games", "perfectly matching"])


def test_duplicate_with_junk_sha_never_shadows_valid_row(
    spark, movies_pdf, tmp_path
):
    """sha validation runs BEFORE the duplicate dedup (same order as the
    incremental path): a junk-sha duplicate sorts above any real hex sha —
    if it won the dedup first, the gate would then drop it and the VALID
    version of the document would silently vanish from the index."""
    from admarus_spark.oracle import OracleIndex

    dirty = movies_pdf.copy()
    dup = dirty.iloc[[3]].copy()
    dup["content"] = dup["content"] + " poisoned copy"
    dup["content_sha256"] = "f" * 64  # junk: max possible hex string
    dirty = __import__("pandas").concat([dirty, dup], ignore_index=True)

    oracle = OracleIndex(movies_pdf)  # the valid originals, nothing lost
    d = str(tmp_path / "idx_junkdup")
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(spark.createDataFrame(dirty), input_token="junkdup")
    m = b.metrics["stage1_tokenize"]
    assert m["rows_dup_path"] == 1
    assert m["n_docs"] == len(movies_pdf)

    eng = SearchEngine(spark, d)
    run_parity(eng, oracle, ["hunger", "hunger AND games", "perfectly matching"])


def test_duplicate_equal_sha_winner_is_deterministic(spark, movies_pdf, tmp_path):
    """Equal-sha duplicates with differing metadata must pick the SAME winner
    on every run: the dedup orders by the full (content_sha256, *other
    columns) tuple (index.build.max_tuple_dedup — shared with the
    incremental within-delta dedup), not by sha alone, where row_number
    over a tied ordering is nondeterministic across partitionings."""
    dirty = movies_pdf.copy()
    dup = dirty.iloc[[8]].copy()  # same content + sha, different commit
    dup["commit"] = "z" * 40  # sorts above any hex commit
    dirty = __import__("pandas").concat([dirty, dup], ignore_index=True)
    key_path = dup["path"].iat[0]

    for token in ("eqsha-a", "eqsha-b"):
        d = str(tmp_path / f"idx_{token}")
        b = IndexBuilder(spark, d, n_buckets=4)
        b.build(spark.createDataFrame(dirty), input_token=token)
        dd = spark.read.parquet(d + "/doc_dict").toPandas()
        row = dd[dd["path"] == key_path]
        assert len(row) == 1
        assert row["commit"].iat[0] == "z" * 40  # max-tuple winner, both runs


def test_dedup_doc_rows_fallback_matches_broadcast_path(spark, monkeypatch):
    """dedup_doc_rows has two physical shapes — broadcast-split (unique rows
    bypass the exchange) and the full max-struct aggregate above the
    duplicated-rows cap. Same winners either way."""
    import pandas as pd

    from admarus_spark.index import build as build_mod

    rows = []
    for i in range(40):
        for v in range(3 if i % 5 == 0 else 1):
            c = f"content {i} v{v}"
            rows.append({
                "repo": "r", "path": f"p{i:03d}", "commit": f"c{v}",
                "lang": "en", "content": c,
                "content_sha256": __import__("hashlib").sha256(c.encode()).hexdigest(),
            })
    docs = spark.createDataFrame(pd.DataFrame(rows))
    n_dup = len(rows) - 40

    a = build_mod.dedup_doc_rows(docs, n_dup).toPandas()
    monkeypatch.setattr(build_mod, "DUP_KEYS_BROADCAST_MAX", 0)
    b = build_mod.dedup_doc_rows(docs, n_dup).toPandas()
    key = ["repo", "path"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert len(a) == 40
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])


def test_assign_range_ids_dedup_is_shuffle_free(spark):
    """The manifest dedup must stay partition-local: range partitioning
    co-locates equal (repo, path) keys and the partition sort makes them
    adjacent, so duplicate dropping rides the existing id-assign Arrow pass
    (with a batch tail-carry) and the distinct count is a map-side partial.
    Pin BOTH the semantics (dense ids over distinct keys, duplicates
    collapsed even when a run straddles Arrow batch boundaries) and the
    plan shape (exactly ONE exchange — the range repartition; a distinct()
    regression would add a hash exchange)."""
    import pandas as pd

    from admarus_spark.index.build import assign_range_ids

    rows = []
    for i in range(600):
        # every 7th key duplicated 3x: runs long enough to straddle the
        # 64-row Arrow batches forced below
        for _ in range(3 if i % 7 == 0 else 1):
            rows.append({"repo": f"r{i % 5}", "path": f"p{i:05d}"})
    pdf = pd.DataFrame(rows).sample(frac=1.0, random_state=7)  # shuffled input
    docs = spark.createDataFrame(pdf)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        manifest_ids, manifest, part_counts, _ = assign_range_ids(docs, 4, base=10)
        got = manifest_ids.toPandas().sort_values("doc_id")
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        manifest.unpersist()

    want = (
        pdf.drop_duplicates()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    assert sum(part_counts.values()) == len(want)
    assert list(got["doc_id"]) == list(range(10, 10 + len(want)))
    assert list(zip(got["repo"], got["path"])) == list(zip(want["repo"], want["path"]))

    plan = manifest_ids._jdf.queryExecution().executedPlan().toString()
    # the ONLY exchange is the range repartition; a distinct()/dropDuplicates
    # regression would add an Exchange hashpartitioning + HashAggregate pair
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" in plan, plan


def test_result_schema(movies_engine):
    df = movies_engine.search("hunger", 3)
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "score", "repo", "path", "commit", "lang",
    ]


def test_empty_top_bucket_routing(spark, movies_pdf, movies_oracle, tmp_path):
    """Routing modulus must come from the persisted n_buckets, not from
    max(occupied bucket)+1: with n_buckets far above the term count, the
    highest buckets hold zero terms and write no partition/summary row —
    occupancy inference would mis-route every term (ADVICE r1, medium)."""
    d = str(tmp_path / "idx_many_buckets")
    IndexBuilder(spark, d, n_buckets=512).build(
        spark.createDataFrame(movies_pdf), input_token="many-buckets"
    )
    eng = SearchEngine(spark, d)
    assert eng.n_buckets == 512
    run_parity(eng, movies_oracle, ["hunger", "hunger AND games", "perfectly matching"])


def test_search_k_none_returns_all_matches(movies_engine, movies_oracle):
    got = [
        (r["doc_id"], r["score"])
        for r in movies_engine.search("hunger", None).collect()
    ]
    want = movies_oracle.search("hunger", 10**9)
    assert got == want


def test_manifest_broadcast_gate_off(spark, movies_pdf, movies_oracle, tmp_path):
    """Build with the stage-1 manifest broadcast gate forced OFF (threshold 0
    -> sort-merge/AQE join path): results must be identical."""
    d = str(tmp_path / "idx_nobc")
    IndexBuilder(
        spark, d, n_buckets=4, broadcast_manifest_max=0
    ).build(spark.createDataFrame(movies_pdf), input_token="nobc")
    eng = SearchEngine(spark, d)
    run_parity(eng, movies_oracle, ["hunger", "hunger / games", "lang=en AND hunger"])


def test_conjunctive_pruning_exact(docs_engine, docs_oracle, monkeypatch):
    """AND/n-of-n decode pruning must be EXACT (not just rank-safe) at any
    k, in one group-eval task and split into doc-range shards by the
    per-task byte budget: with the rarest required word bounding
    candidates, results equal the unpruned oracle bit-for-bit. Also covers
    required-word-missing early exit and the full-decode control
    (wand="off")."""
    queries = [
        "license AND parser",
        "license AND rareterm000063z",
        "3(parser, lexer, bloom)",          # n == len -> all required
        "license AND parser AND NOT bloom",  # Not child inside n==len AND
        "lang=python AND bloom",             # filter child, word required
    ]
    for k in (3, 10, 10**6):
        run_parity(docs_engine, docs_oracle, queries, k=k)
    # over the per-task byte budget: three doc-range shards per query
    for k in (3, 10, 10**6):
        run_capped_parity(docs_engine, docs_oracle, queries, monkeypatch, k=k)
    # control: the full decode gives identical results
    run_parity(docs_engine, docs_oracle, queries, wand="off")


def test_nofm_pigeonhole_pruning_exact(docs_engine, docs_oracle, monkeypatch):
    """n-of-m decode pruning (1 < n < m, pigeonhole cover of the m-n+1
    rarest children) must be EXACT at any k, in one group-eval task and
    split into doc-range shards by the per-task byte budget, including with
    a hot child in the cover complement, unindexed children shrinking m',
    and the fewer-than-n-present early exit; the full decode (wand="off")
    is the control."""
    queries = [
        "2(parser, lexer, bloom)",
        "2(license, parser, bloom)",          # hot child pruned by rare cover
        "3(license, parser, lexer, bloom)",
        "2(parser, lexer, nosuchterm)",       # m' shrinks to 2 -> cover of 1
        "2(rareterm000063z, nosuchterma, nosuchtermb)",  # m' < n -> empty
    ]
    for k in (3, 10, 10**6):
        run_parity(docs_engine, docs_oracle, queries, k=k)
    # over the per-task byte budget: three doc-range shards per query
    for k in (3, 10, 10**6):
        run_capped_parity(docs_engine, docs_oracle, queries, monkeypatch, k=k)
    # control: the full decode gives identical results
    run_parity(docs_engine, docs_oracle, queries, wand="off")


def test_nofm_cover_selection():
    from admarus_spark.query.parser import parse_query
    from admarus_spark.search.group_eval import nofm_cover_words as _nofm_cover_words

    df_map = {"aaa": 5, "bbb": 10, "ccc": 100}
    # 2-of-3: cover = the 2 rarest children
    assert _nofm_cover_words(parse_query("2(aaa, bbb, ccc)").root, df_map) == ["aaa", "bbb"]
    # n == m is the conjunctive (required-words) path, not ours
    assert _nofm_cover_words(parse_query("aaa AND bbb").root, df_map) is None
    # quick-OR (n=1) is the WAND path
    assert _nofm_cover_words(parse_query("aaa bbb ccc").root, df_map) is None
    # unindexed children shrink m': 2-of-3 with one absent -> cover of 1
    assert _nofm_cover_words(parse_query("2(aaa, bbb, zzz)").root, df_map) == ["aaa"]
    # fewer present than n -> provably empty
    assert _nofm_cover_words(parse_query("2(aaa, yyy, zzz)").root, df_map) == []
    # nested / non-Word children -> not applicable
    assert _nofm_cover_words(parse_query("2(aaa, bbb, NOT ccc)").root, df_map) is None


def _term_rows(eng, term):
    """The term's posting rows (itertuples of the blob columns)."""
    from pyspark.sql import functions as F

    return list(
        eng.postings.filter(F.col("term") == term)
        .select(
            "ids", "tfs", "dls", "block_firsts", "block_lasts", "block_lens",
            "ids_offs", "tfs_offs", "dls_offs",
        )
        .toPandas()
        .itertuples()
    )


def _decode_ids(r, keep=None):
    from admarus_spark.index.codec import decode_postings

    return decode_postings(
        r.ids, r.tfs, r.dls, r.block_firsts, r.block_lens,
        keep, r.ids_offs, r.tfs_offs, r.dls_offs,
    )[0]


def _term_ids(eng, term):
    return np.sort(np.concatenate([_decode_ids(r) for r in _term_rows(eng, term)]))


def _license_decodes(eng, cand):
    """Ids of the hot term 'license' decoded in full, and the rows left when
    only the blocks whose id range meets the sorted candidate array decode
    and only candidate ids are kept (what group-eval's fold reads)."""
    from admarus_spark.search.group_eval import select_blocks_intersect

    (r,) = _term_rows(eng, "license")
    kept = _decode_ids(r, select_blocks_intersect(r, cand))
    return _decode_ids(r), kept[np.isin(kept, cand)]


def test_nofm_pruning_reduces_decode(docs_engine):
    """A hot term's decode must shrink when candidates come from the rare
    cover of a 2-of-3 query (the measured win recorded in BENCH/PLANS.md),
    and keep every candidate it holds."""
    eng = docs_engine
    cover = np.unique(
        np.concatenate([_term_ids(eng, "parser"), _term_ids(eng, "bloom")])
    )
    full, cut = _license_decodes(eng, cover)
    assert cut.size < full.size
    assert set(np.intersect1d(full, cover)) <= set(cut)


def test_conjunctive_pruning_reduces_decode(docs_engine):
    """The pruned decode must emit strictly fewer rows for a hot term when
    candidates come from a rare conjunct, and keep every candidate it
    holds."""
    eng = docs_engine
    rare_ids = _term_ids(eng, "rareterm000063z")
    assert rare_ids.size >= 1
    full, cut = _license_decodes(eng, rare_ids)
    assert cut.size < full.size
    assert cut.size <= rare_ids.size  # only candidate rows
    assert set(np.intersect1d(full, rare_ids)) <= set(cut)


def test_single_query_routes_to_group_eval(docs_engine, docs_oracle):
    """search() evaluates executor-side through group-eval (search_many's
    one-member case) and matches the oracle at every k, metadata folds
    included: every query with a match ran one group-eval member."""
    routed = 0
    for k in (1, 5, 10):
        for q in DOCS_QUERIES:
            got = [(r["doc_id"], r["score"]) for r in docs_engine.search(q, k).collect()]
            want = docs_oracle.search(q, k)
            assert got == want, (q, k)
            if want:
                assert docs_engine.last_group_eval is not None, (q, k)
                assert docs_engine.last_group_eval["members"] == 1
                assert docs_engine.last_group_eval["filters"] == ("=" in q)
                routed += 1
    assert routed >= 3 * 11


def test_pivot_routes_keep_results(spark, docs_engine, docs_oracle, monkeypatch):
    """Metadata folds, k=None, wand="off" and groups over the per-task byte
    budget — the shapes a second evaluation route used to serve — take
    group-eval (last_group_eval set) with oracle-exact results; an
    over-budget group splits into doc-range shards, and a capped max-fold
    keeps its block pruning in every shard. A wand value other than "auto"
    or "off" raises."""
    for bad in ("on", "of", ""):
        with pytest.raises(ValueError):
            docs_engine.search("license", 10, wand=bad)
        with pytest.raises(ValueError):
            docs_engine.search_many({"q": "license"}, 10, wand=bad)

    def check(eng, q, k, wand="auto"):
        got = [(r["doc_id"], r["score"]) for r in eng.search(q, k, wand=wand).collect()]
        assert got == docs_oracle.search(q, 10**9 if k is None else k), (q, k, wand)
        assert eng.last_group_eval is not None, (q, k, wand)

    for q in ("lang=python AND bloom", "parser AND NOT lang=python", "lang=python"):
        check(docs_engine, q, 10)
        check(docs_engine, q, None)
    for q in ("license", "parser lexer bloom", "license AND parser"):
        check(docs_engine, q, None)
        check(docs_engine, q, 10, wand="off")
    for q in ("license", "parser lexer bloom", "2(parser, lexer, bloom)"):
        monkeypatch.setattr(docs_engine, "group_eval_max_bytes", cap_for_shards(docs_engine, q))
        check(docs_engine, q, 10)
        assert docs_engine.last_group_eval["tasks"] == 3, q
    monkeypatch.undo()
    # a max-fold over the budget still prunes: in each of its shards a term
    # decodes only its greedy top-k blocks, fewer ids than its postings
    for q in ("license", "license parser"):
        got, decoded, greedy, df_map = shard_eval(docs_engine, q, 1, 3, monkeypatch)
        assert got == docs_oracle.search(q, 1), q
        assert greedy == set(df_map), q
        assert decoded["license"] < df_map["license"], (q, decoded)


def tomb_results(oracle, q, k):
    """The oracle's answer as (repo, path, score) rows: engine and oracle
    doc ids differ on an updated index, their order does not."""
    return [
        (oracle.docs["repo"][i], oracle.docs["path"][i], s)
        for i, s in oracle.search(q, 10**9 if k is None else k)
    ]


def tomb_search(eng, q, k, wand="auto"):
    return [
        (r["repo"], r["path"], r["score"])
        for r in eng.search(q, k, wand=wand).collect()
    ]


def test_tombstoned_index_keeps_pivot(tomb_engine, tomb_oracle):
    """On an index with pending tombstones, metadata folds, wand="off" and
    k=None take group-eval too (the task drops dead generations, and the
    filter ids come from the tombstone-free dictionary), float-exact
    against the live corpus."""
    eng = tomb_engine
    cases = [("lang=en AND hunger", 10, "auto"), ("lang=en AND hunger", None, "off")]
    for q in ("hunger", "hunger AND games", "perfectly matching"):
        cases += [(q, 10, "off"), (q, None, "auto")]
    for q, k, wand in cases:
        assert tomb_search(eng, q, k, wand) == tomb_results(tomb_oracle, q, k), (q, k, wand)
        assert eng.last_group_eval is not None, (q, k, wand)


def test_tombstoned_index_routes_to_group_eval(tomb_engine, tomb_oracle, monkeypatch):
    """Postings-only queries on a tombstoned index take group-eval, which
    drops dead ids and counts live df inside the task: results match the
    live-corpus oracle float-exactly and the driver's live-df job never
    runs. ``zzdoomedterm`` is still in the stored df (1) but its only
    posting is dead, so it must come back exactly as empty as the
    oracle's."""
    eng = tomb_engine
    calls = []
    live_df = eng._live_df_map

    def counting(pruned, df_map):
        calls.append(sorted(df_map))
        return live_df(pruned, df_map)

    monkeypatch.setattr(eng, "_live_df_map", counting)
    assert eng.df_cache["zzdoomedterm"] == 1
    queries = ["hunger", "hunger AND games", "perfectly matching", "zzdoomedterm"]
    queries += [q for q in DOCS_QUERIES if "=" not in q]
    routed = 0
    for k in (1, 5, 10):
        for q in queries:
            want = tomb_results(tomb_oracle, q, k)
            assert tomb_search(eng, q, k) == want, (q, k)
            if want or q == "zzdoomedterm":
                assert eng.last_group_eval is not None, (q, k)
                routed += 1
    assert tomb_results(tomb_oracle, "zzdoomedterm", 10) == []
    assert routed >= 3 * 12
    assert not calls, calls


def test_single_query_runs_two_jobs(spark, docs_engine):
    """A single query runs at most 2 Spark jobs, counted from the status
    tracker under a job group: the broadcast of the k winners and the
    dictionary join that returns them. A metadata filter adds none: its
    ids ride in the same task's source."""
    for i, q in enumerate(("parser lexer bloom", "lang=python AND bloom")):
        assert 0 < len(_query_jobs(spark, docs_engine, q, f"single_query_jobs_{i}")) <= 2, q


def test_tombstoned_single_query_runs_two_jobs(spark, tomb_engine):
    """On a tombstoned index a single query also runs at most 2 Spark jobs
    once warm (bucket blooms and dead ids load lazily once): no driver job
    for the live df, and none for a metadata filter."""
    for i, q in enumerate(("hunger AND games", "lang=en AND hunger")):
        assert 0 < len(_query_jobs(spark, tomb_engine, q, f"tomb_single_query_jobs_{i}")) <= 2, q


def _query_jobs(spark, eng, q, group):
    """Spark job ids of one warm ``search(q, 10)`` (run once before to
    load lazy caches), read from the status tracker under a job group."""
    sc = spark.sparkContext
    eng.search(q, 10).collect()
    sc.setJobGroup(group, q, False)
    try:
        eng.search(q, 10).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_doc_dict_pin_and_refresh_release(spark, movies_pdf, movies_oracle, tmp_path):
    """r6: the engine pins its dictionary at init (size-gated); results are
    unchanged, and refresh() releases the old pin before re-init so a
    long-lived serving engine neither leaks cache nor serves a stale
    dictionary snapshot after an external change."""
    d = str(tmp_path / "idx_ddpin")
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(movies_pdf), input_token="ddpin"
    )
    eng = SearchEngine(spark, d)
    assert eng._dd_persisted  # gate admits the tiny corpus
    assert eng.doc_dict.storageLevel.useMemory
    run_parity(eng, movies_oracle, ["hunger", "hunger AND games"])
    old_dd = eng.doc_dict
    # storageLevel is plan-keyed, so with the re-pin active the old handle
    # would report the NEW pin; gate the re-pin off to observe the release
    import os as _os

    _os.environ["SPARK_GRAFT_DD_CACHE_MAX_DOCS"] = "0"
    try:
        eng.refresh()
        assert not eng._dd_persisted  # gate respected
        assert not old_dd.storageLevel.useMemory  # old pin released
    finally:
        del _os.environ["SPARK_GRAFT_DD_CACHE_MAX_DOCS"]
    run_parity(eng, movies_oracle, ["hunger"])
    eng.refresh()
    assert eng._dd_persisted  # re-pinned once the gate admits again
    run_parity(eng, movies_oracle, ["hunger"])


def test_close_releases_pins(spark, movies_engine, tmp_path):
    """close() releases what an engine pins (the doc_dict pin; a filtered
    query persists nothing): repeated engine lives do not grow the
    session's persistent RDDs, and a second close() is a no-op."""
    d = str(tmp_path / "idx_close")
    shutil.copytree(movies_engine.paths.index_dir, d)  # its own cache keys
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for _ in range(5):
        eng = SearchEngine(spark, d)
        for q in ("hunger", "lang=en AND hunger"):
            eng.search(q, 10).collect()
        assert jsc.getPersistentRDDs().size() > before
        eng.close()
        assert jsc.getPersistentRDDs().size() <= before
    eng.close()
    assert jsc.getPersistentRDDs().size() <= before
    assert not eng._dd_persisted and eng.df_cache is None and not eng.bucket_blooms


def test_pivot_missing_required_word_skips_decode(spark, docs_engine, monkeypatch):
    """A metadata-filtered query whose required word is not indexed (here:
    every bloom probe answers "maybe", as on a false positive) returns
    nothing from the driver prep: zero Spark jobs run, in search and
    search_many alike. So do an n-of-m query with fewer than n children
    indexed and a query with no positive indexed term or filter."""
    from admarus_spark.search import engine as engine_mod

    monkeypatch.setattr(engine_mod, "filter_get", lambda bloom, word: True)
    sc = spark.sparkContext
    queries = [
        "lang=python AND bloom AND nosuchwordzz",
        "2(bloom, nosuchwordzz, nosuchwordzy)",
        "NOT bloom",
        "path=src AND NOT bloom",
    ]
    for q in queries:  # warm: bucket blooms load lazily once
        docs_engine.search(q, 10).collect()
    sc.setJobGroup("driver_exit_jobs", "driver-only exits", False)
    try:
        got = [docs_engine.search(q, 10).collect() for q in queries]
        assert docs_engine.last_group_eval is None
        got.append(docs_engine.search_many({q: q for q in queries}, 10).collect())
        assert docs_engine.last_group_eval is None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == [[]] * (len(queries) + 1)
    assert list(sc.statusTracker().getJobIdsForGroup("driver_exit_jobs")) == []


def test_small_volume_gate_skips_driver_pruning(docs_engine, docs_oracle, monkeypatch):
    """Over the per-task byte budget each multi-term shape splits into
    doc-range shards that prune inside the task, with no driver-side
    candidate fetch; only the max-fold runs the greedy block selection.
    Results stay oracle-exact."""
    for q, greedy_expected in (
        ("parser lexer bloom", True),
        ("license AND parser", False),
        ("2(parser, lexer, bloom)", False),
    ):
        run_capped_parity(docs_engine, docs_oracle, [q], monkeypatch, k=5)
        got, _decoded, greedy, df_map = shard_eval(docs_engine, q, 5, 3, monkeypatch)
        assert got == docs_oracle.search(q, 5), q
        assert greedy == (set(df_map) if greedy_expected else set()), q


def test_zero_term_corpus_builds_empty_index(spark, tmp_path):
    """A corpus whose documents tokenize to ZERO >=3-char tokens must build
    a valid, empty-searchable index — the partitionBy postings write emits
    only _SUCCESS for it, which used to kill the read-back (and every later
    reader) with UNABLE_TO_INFER_SCHEMA (r5 review)."""
    import pandas as pd

    from admarus_spark.corpus import sha256_hex

    rows = []
    for i in range(6):
        content = "a b c d aa bb cc"  # every token < 3 chars
        rows.append(("r", f"p{i}.txt", "c" * 40, "en", content, sha256_hex(content)))
    pdf = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content", "content_sha256"]
    )
    d = str(tmp_path / "idx_zeroterm")
    IndexBuilder(spark, d, n_buckets=2).build(
        spark.createDataFrame(pdf), input_token="zt"
    )
    post = spark.read.parquet(f"{d}/postings")  # readable, typed, empty
    assert post.count() == 0
    eng = SearchEngine(spark, d)
    assert eng.search("anything", 10).count() == 0
    assert eng.search("aa bb", 10).count() == 0


def test_keep_tf_false_cleans_and_resumes(spark, movies_pdf, tmp_path):
    """keep_tf=False drops the stage-1 tf table after a successful build
    (it is postings-sized — r5 review: the flag was dead config); a resume
    with valid stage-2/3 checkpoints must still no-op, and search parity
    holds."""
    import os

    from admarus_spark.oracle import OracleIndex

    d = str(tmp_path / "idx_nokeep")
    b = IndexBuilder(spark, d, n_buckets=4, keep_tf=False)
    sdf = spark.createDataFrame(movies_pdf)
    b.build(sdf, input_token="nk")
    assert not os.path.exists(f"{d}/tf")

    oi = OracleIndex(movies_pdf)
    eng = SearchEngine(spark, d)
    for q in ["hunger", "hunger AND games", "2(hunger, games, fire)"]:
        got = [(r["doc_id"], r["score"]) for r in eng.search(q, 10).collect()]
        assert got == oi.search(q, 10), q

    # resume with everything checkpointed: no stage re-runs, no tf needed
    b2 = IndexBuilder(spark, d, n_buckets=4, keep_tf=False)
    b2.build(sdf, input_token="nk")
    assert b2.metrics["stage2_postings"] == b.metrics["stage2_postings"]
