"""Batched search must produce per-query results identical to search()."""

QUERIES = {
    "hot": "license",
    "and2": "license AND parser",
    "quick_or": "parser lexer bloom",
    "nofm": "2(parser, lexer, bloom)",
    "notq": "parser AND NOT bloom",
    # metadata filter in a NOT subtree: its ids ride into the task as a
    # gate, never as candidates
    "not_meta": "parser AND NOT lang=python",
    "rare": "rareterm000063z",
    "meta": "lang=python AND bloom",      # positive filter, conjunctive
    "pure_meta": "lang=python",           # filter-only candidates
    "missing": "nosuchterm",
}


def _by_query(rows) -> dict[str, list]:
    by_q: dict[str, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return by_q


def test_search_many_matches_single(docs_engine, docs_oracle):
    """The batch equals the single-query full decode (``wand="off"``) and
    the oracle: ``wand="off"`` is the same engine unpruned, so the oracle
    is the independent check."""
    by_q = _by_query(docs_engine.search_many(QUERIES, k=10).collect())
    for qid, q in QUERIES.items():
        single = [
            (r["doc_id"], r["score"]) for r in docs_engine.search(q, 10, wand="off").collect()
        ]
        assert by_q.get(qid, []) == single == docs_oracle.search(q, 10), qid


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


def _cap_biggest_group(eng, monkeypatch, shards=3) -> None:
    """Set a per-task byte budget that splits the batch's biggest group
    (everything sharing license/parser/bloom) into ``shards`` shards."""
    from admarus_spark.query.parser import parse_query

    terms = {
        t for qid, q in QUERIES.items() if qid not in ("rare", "missing")
        for t in parse_query(q).terms()
    }
    est = sum(eng.df_cache.get(t, 0) for t in terms)
    monkeypatch.setattr(eng, "group_eval_max_bytes", -(-est * 24 // shards))


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


def test_search_many_greedy_fallback_matches_single(docs_engine, docs_oracle, monkeypatch):
    """With the per-task byte budget below the biggest group's estimate,
    that group splits into doc-range shards (the rare term's group stays
    one task), the executor-side greedy still runs only for max-fold
    members, and results equal the sequential full decode."""
    from admarus_spark.query.parser import parse_query
    from admarus_spark.search.group_eval import is_max_fold

    _cap_biggest_group(docs_engine, monkeypatch)
    by_q = _by_query(docs_engine.search_many(QUERIES, k=10).collect())
    st = docs_engine.last_group_eval
    assert st["sharded_groups"] == 1 and st["tasks"] == st["groups"] + 2
    monkeypatch.undo()
    assert any(is_max_fold(parse_query(q).root) for q in QUERIES.values())
    for qid, q in QUERIES.items():
        single = [
            (r["doc_id"], r["score"]) for r in docs_engine.search(q, 10, wand="off").collect()
        ]
        assert by_q.get(qid, []) == single == docs_oracle.search(q, 10), qid


def test_search_many_capped_probe_failure_degrades_to_greedy(docs_engine, docs_oracle, monkeypatch):
    """A skewed max-fold (hot term OR rare term) over the per-task byte
    budget splits into shards that each decode with the executor-side
    greedy, never through a driver fetch, and matches the sequential full
    decode."""
    from test_engine_e2e import cap_for_shards, shard_eval

    q = "license rareterm000063z"
    monkeypatch.setattr(docs_engine, "group_eval_max_bytes", cap_for_shards(docs_engine, q))
    got = docs_engine.search_many({"skew": q}, k=10).collect()
    assert docs_engine.last_group_eval["tasks"] == 3
    monkeypatch.undo()
    single = [
        (r["doc_id"], r["score"])
        for r in docs_engine.search(q, 10, wand="off").collect()
    ]
    assert [(r["doc_id"], r["score"]) for r in got] == single == docs_oracle.search(q, 10)
    merged, _decoded, greedy, df_map = shard_eval(docs_engine, q, 10, 3, monkeypatch)
    assert merged == single
    assert greedy == set(df_map)


def test_group_eval_routing_stats(docs_engine):
    """At defaults, every member that can match routes to the
    executor-side group evaluation, filter members included; members
    sharing terms coalesce into one group (connected components), so the
    shared blobs ship and decode once. Filters do not join groups."""
    docs_engine.search_many(QUERIES, k=10).collect()
    st = docs_engine.last_group_eval
    assert st is not None
    # every member but 'missing' (bloom-gated out)
    assert st["members"] == len(QUERIES) - 1
    # hot+and2 share 'license'; and2+quick_or+nofm+notq+not_meta+meta share
    # parser/bloom -> one component; 'rare' and 'pure_meta' stand alone
    assert st["groups"] == 3
    assert st["filters"] == 1


def test_group_eval_zero_cap_routes_all_to_pivot(docs_engine, docs_oracle, monkeypatch):
    """With the per-task byte budget below every group's estimate, each
    group with postings splits into doc-range shards instead of leaving
    group-eval — results identical. The batch drops the members that tie
    'license' to the parser/bloom group and the rare term, so the two
    postings groups are of similar size and a budget of half the smaller
    one gives each 2-3 shards."""
    from admarus_spark.query.parser import parse_query

    batch = {q: t for q, t in QUERIES.items() if q not in ("and2", "rare")}
    monkeypatch.setattr(
        docs_engine, "group_eval_max_bytes", docs_engine.df_cache["license"] * 24 // 2
    )
    by_q = _by_query(docs_engine.search_many(batch, k=10).collect())
    st = docs_engine.last_group_eval
    monkeypatch.undo()
    # 'license' splits in 2, the parser/bloom group in 3; pure_meta's group
    # holds no postings and stays one task
    assert (st["groups"], st["sharded_groups"], st["tasks"]) == (3, 2, 6), st
    gated_in = [
        q for q in batch.values()
        if docs_engine._bloom_match_score(parse_query(q).root, docs_engine.global_bloom)
    ]
    assert st["members"] == len(gated_in) == len(batch) - 1
    for qid, q in batch.items():
        single = [
            (r["doc_id"], r["score"]) for r in docs_engine.search(q, 10, wand="off").collect()
        ]
        assert by_q.get(qid, []) == single == docs_oracle.search(q, 10), qid


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
    assert st["sharded_groups"] == st["groups"] == 3
    assert st["tasks"] == 9
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
