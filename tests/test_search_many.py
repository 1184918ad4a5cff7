"""Batched search must produce per-query results identical to search()."""

QUERIES = {
    "hot": "license",
    "and2": "license AND parser",
    "quick_or": "parser lexer bloom",
    "nofm": "2(parser, lexer, bloom)",
    "notq": "parser AND NOT bloom",
    # metadata filter in a NOT subtree: stays on the BATCHED path (no
    # positive filter) but forces the needs_meta doc_dict join + the fold's
    # meta_exprs inside the exploded per-query struct projection
    "not_meta": "parser AND NOT lang=python",
    "rare": "rareterm000063z",
    "meta": "lang=python AND bloom",      # positive filter -> exact fallback
    "pure_meta": "lang=python",           # filter-only candidates -> fallback
    "missing": "nosuchterm",
}


def test_search_many_matches_single(docs_engine):
    batch = docs_engine.search_many(QUERIES, k=10).collect()
    by_q: dict[str, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in QUERIES.items():
        single = [
            (r["doc_id"], r["score"]) for r in docs_engine.search(q, 10, wand="off").collect()
        ]
        assert by_q.get(qid, []) == single, qid


def test_search_many_empty_batch(docs_engine):
    out = docs_engine.search_many({"none": "nosuchterm"}, k=5)
    assert out.count() == 0


def test_search_many_forced_pruning_matches_single(docs_engine):
    """At small k group-eval's greedy top-k block selection discards the
    most blocks: EVERY batched shape must still match its sequential
    full-decode result at k = 1 and 3."""
    for k in (1, 3):
        batch = docs_engine.search_many(QUERIES, k=k).collect()
        by_q: dict[str, list] = {}
        for r in batch:
            by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid, q in QUERIES.items():
            single = [
                (r["doc_id"], r["score"])
                for r in docs_engine.search(q, k, wand="off").collect()
            ]
            assert by_q.get(qid, []) == single, (qid, k)


def test_search_many_wand_off_matches_single(docs_engine):
    """Forcing the full decode must not change batched results."""
    batch = docs_engine.search_many(QUERIES, k=10, wand="off").collect()
    by_q: dict[str, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in QUERIES.items():
        single = [
            (r["doc_id"], r["score"]) for r in docs_engine.search(q, 10, wand="off").collect()
        ]
        assert by_q.get(qid, []) == single, qid


def _pivot_decodes(eng, monkeypatch) -> list:
    """Zero the group-eval cap and record the ``greedy_k`` of every pivot
    ``_decode`` call."""
    monkeypatch.setattr(eng, "group_eval_max_bytes", 0)
    decode, calls = eng._decode, []

    def counting(pruned, greedy_k=None):
        calls.append(greedy_k)
        return decode(pruned, greedy_k)

    monkeypatch.setattr(eng, "_decode", counting)
    return calls


def test_search_many_batched_decode_prunes(docs_engine, monkeypatch):
    """Group-eval's in-task decode must skip blocks when a member's shape
    bounds its candidates: a hot∧rare conjunction decodes the hot term only
    in the blocks holding the rare term's postings (VERDICT r4 #2). The
    group runs in the test process on the collected posting rows, with the
    codec's decode wrapped to count ids per term."""
    from pyspark.sql import functions as F

    from admarus_spark.oracle import bm25_idf
    from admarus_spark.query.parser import parse_query
    from admarus_spark.search import group_eval

    eng = docs_engine
    q = "license AND rareterm000063z"
    terms = ["license", "rareterm000063z"]
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
    df_map = {t: int(sum(r.df for r in rows[t])) for t in terms}
    idf_map = {t: bm25_idf(eng.n_docs, df_map[t]) for t in terms}
    term_of = {id(r.ids): t for t, rs in rows.items() for r in rs}
    decoded: dict[str, int] = {}
    decode = group_eval.decode_postings

    def counting(ids, *a, **kw):
        out = decode(ids, *a, **kw)
        t = term_of[id(ids)]
        decoded[t] = decoded.get(t, 0) + out[0].size
        return out

    monkeypatch.setattr(group_eval, "decode_postings", counting)
    got = group_eval.evaluate_group(
        [("q", parse_query(q))], rows, df_map, idf_map, 5, eng.avgdl
    )
    assert decoded["rareterm000063z"] == df_map["rareterm000063z"]
    assert 0 < decoded["license"] < df_map["license"]
    single = [(r["doc_id"], r["score"]) for r in eng.search(q, 5, wand="off").collect()]
    assert single and [(d, s) for _q, d, s in got] == single


def test_search_many_greedy_fallback_matches_single(docs_engine, monkeypatch):
    """With the group-eval cap at zero every member takes the pivot one by
    one: one ``_decode`` per member with postings to scan, the executor-side
    per-term greedy (``greedy_k``) only for max-fold shapes, and results
    equal to the sequential full decode."""
    from admarus_spark.query.parser import parse_query
    from admarus_spark.search.fold import is_max_fold

    calls = _pivot_decodes(docs_engine, monkeypatch)
    batch = docs_engine.search_many(QUERIES, k=10).collect()
    # pure_meta has no term to decode; missing is bloom-gated out
    decoding = [q for qid, q in QUERIES.items() if qid not in ("pure_meta", "missing")]
    want = sorted(
        (10 if is_max_fold(parse_query(q).root) else 0) for q in decoding
    )
    assert sorted(gk or 0 for gk in calls) == want
    assert 10 in want and 0 in want
    by_q: dict[str, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in QUERIES.items():
        single = [
            (r["doc_id"], r["score"]) for r in docs_engine.search(q, 10, wand="off").collect()
        ]
        assert by_q.get(qid, []) == single, qid


def test_search_many_capped_probe_failure_degrades_to_greedy(docs_engine, monkeypatch):
    """A skewed max-fold (hot term OR rare term) on the pivot decodes with
    the executor-side greedy in one ``_decode``, never through a driver
    fetch, and matches the sequential full decode."""
    calls = _pivot_decodes(docs_engine, monkeypatch)
    got = docs_engine.search_many(
        {"skew": "license rareterm000063z"}, k=10
    ).collect()
    assert calls == [10]
    single = [
        (r["doc_id"], r["score"])
        for r in docs_engine.search("license rareterm000063z", 10, wand="off").collect()
    ]
    assert [(r["doc_id"], r["score"]) for r in got] == single


def test_group_eval_routing_stats(docs_engine):
    """At defaults, every postings-only member routes to the executor-side
    group evaluation; members sharing terms coalesce into one group
    (connected components), so the shared blobs ship and decode once."""
    docs_engine.search_many(QUERIES, k=10).collect()
    st = docs_engine.last_group_eval
    assert st is not None
    # hot/and2/quick_or/nofm/notq/rare are postings-only; not_meta has a
    # filter in its fold (pivot), meta/pure_meta fall back, missing is
    # bloom-gated out
    assert st["members"] == 6
    # hot+and2 share 'license'; and2+quick_or+nofm+notq share parser/bloom
    # -> one component; 'rare' stands alone
    assert st["groups"] == 2


def test_group_eval_zero_cap_routes_all_to_pivot(docs_engine, monkeypatch):
    """With the group byte cap at zero every group is 'over cap': each
    member that passes the bloom gate is answered one by one through
    ``_search_one`` — results identical."""
    from admarus_spark.query.parser import parse_query

    monkeypatch.setattr(docs_engine, "group_eval_max_bytes", 0)
    one, calls = docs_engine._search_one, []

    def counting(q, k, wand):
        calls.append(q)
        return one(q, k, wand)

    monkeypatch.setattr(docs_engine, "_search_one", counting)
    batch = docs_engine.search_many(QUERIES, k=10).collect()
    monkeypatch.undo()
    assert docs_engine.last_group_eval is None
    gated_in = [
        q for q in QUERIES.values()
        if docs_engine._bloom_match_score(parse_query(q).root, docs_engine.global_bloom)
    ]
    assert len(calls) == len(gated_in) == len(QUERIES) - 1
    by_q: dict[str, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in QUERIES.items():
        single = [
            (r["doc_id"], r["score"]) for r in docs_engine.search(q, 10, wand="off").collect()
        ]
        assert by_q.get(qid, []) == single, qid


def test_group_members_connected_components():
    from admarus_spark.query.parser import parse_query
    from admarus_spark.search.group_eval import group_members

    members = {
        "a": parse_query("alpha AND beta"),
        "b": parse_query("beta OR gamma"),
        "c": parse_query("delta"),
        "d": parse_query("unindexedword"),
    }
    df = {"alpha": 3, "beta": 5, "gamma": 2, "delta": 1}
    comps = group_members(members, df)
    as_sets = sorted(tuple(c) for c in comps)
    # a-b share 'beta'; c alone; d has no indexed terms -> its own component
    assert as_sets == [("a", "b"), ("c",), ("d",)]


def test_group_eval_sharded_matches_single(docs_engine, monkeypatch):
    """Forced doc-range sharding (3 shards per group): every member's
    result must stay float-identical to the sequential path — per-shard
    top-ks are exact within their id range (BM25 is doc-local) and the
    merge window keeps the same (score desc, doc_id asc) order."""
    monkeypatch.setenv("SPARK_GRAFT_GROUP_EVAL_SHARDS", "3")
    batch = docs_engine.search_many(QUERIES, k=10).collect()
    st = docs_engine.last_group_eval
    assert st is not None
    assert st["sharded_groups"] == st["groups"] == 2
    assert st["tasks"] == 6
    by_q: dict[str, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in QUERIES.items():
        single = [
            (r["doc_id"], r["score"]) for r in docs_engine.search(q, 10, wand="off").collect()
        ]
        assert by_q.get(qid, []) == single, qid


def test_group_eval_many_shards_matches_single(docs_engine, monkeypatch):
    """More shards than docs-per-range granularity (8): empty shards and
    rows range-pruned out of most replicas must not change any result."""
    monkeypatch.setenv("SPARK_GRAFT_GROUP_EVAL_SHARDS", "8")
    batch = docs_engine.search_many(QUERIES, k=10).collect()
    by_q: dict[str, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in QUERIES.items():
        single = [
            (r["doc_id"], r["score"]) for r in docs_engine.search(q, 10, wand="off").collect()
        ]
        assert by_q.get(qid, []) == single, qid


def test_group_eval_shards_off_single_task_per_group(docs_engine, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_GROUP_EVAL_SHARDS", "off")
    docs_engine.search_many(QUERIES, k=10).collect()
    st = docs_engine.last_group_eval
    assert st is not None
    assert st["tasks"] == st["groups"] and st["sharded_groups"] == 0
