"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship BM25 top-k through the full engine on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2), each
``(spark, sf_dir) -> DataFrame``.
``oracle_sql()`` — DuckDB-runnable ANSI SQL equivalents over the same parquet
views; floats are rounded to 9 decimals on BOTH sides (absorbs libm-ulp and
summation-order noise; 1e-9 ≫ 1e-15 noise, ≪ real score gaps).

The BM25 entries run through the real engine: a persistent inverted index is
built once per (sf_dir) into /tmp and queried; the DuckDB oracle recomputes
BM25 from first principles over the raw table. Tie-breaks are pinned to
(score desc, source asc, path asc) on both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from admarus_spark import BM25_B, BM25_K1, ops
from admarus_spark.index.build import IndexBuilder
from admarus_spark.ops._scan import read_wide
from admarus_spark.search.engine import SearchEngine
from admarus_spark.tokenizer import DUCKDB_TOKENS_EXPR, tokenize_expr

K1, B = BM25_K1, BM25_B
DEFAULT_K = 10

# ----------------------------------------------------------------------
# shared: documents -> engine docs shape; memoized index per sf_dir
# ----------------------------------------------------------------------

_ENGINES: dict[str, SearchEngine] = {}


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _documents_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan widened for tokenize-heavy map work (ops/_scan.py:
    single-row-group local corpora pin the whole pipelined map stage to one
    task). The index-build entries keep the narrow ``_documents`` — the
    builder applies its own widening rule to its content scan."""
    return read_wide(spark, os.path.join(sf_dir, "documents.parquet"))


def _docs_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map testdata documents(doc_id, text, lang, source, n_chars) into the
    input_hint shape (repo, path, commit, lang, content, content_sha256).
    path embeds doc_id zero-padded, so path order == doc_id order per repo."""
    d = _documents(spark, sf_dir)
    return d.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.lpad(F.col("doc_id").cast("string"), 10, "0")).alias("path"),
        F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 40).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.sha2(F.col("text"), 256).alias("content_sha256"),
    )


def _engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    if sf_dir not in _ENGINES:
        tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
        idx = f"/tmp/admarus_entry_idx/{tag}"
        IndexBuilder(spark, idx, n_buckets=16).build(
            _docs_shape(spark, sf_dir), input_token=f"testdata:{sf_dir}"
        )
        _ENGINES[sf_dir] = SearchEngine(spark, idx)
    return _ENGINES[sf_dir]


_UPD_SUFFIX = " zzupdated zzupdated zzupdated"
_UPD_ENGINES: dict[str, SearchEngine] = {}


def _engine_after_update(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """S3/T1/A6 end-to-end under the driver's value gate: build the base
    index, re-index every doc_id % 17 == 3 with changed content through
    ``IncrementalIndexer.update()`` (new generation + tombstone-first), then
    ``compact()`` (tombstones cleared without a content rescan, WAND
    re-enabled). The DuckDB oracle recomputes BM25 from first principles
    over the post-update corpus, so stats/df/idf drift in the incremental
    path would hash-mismatch. Idempotent across driver runs: the base build
    resumes from its lineage checkpoint, a re-applied delta dedups on
    content sha (index.rs:68-75 semantics), and compact() on a clean index
    is a no-op."""
    if sf_dir not in _UPD_ENGINES:
        from admarus_spark.streaming.incremental import IncrementalIndexer

        tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
        idx = f"/tmp/admarus_entry_idx/{tag}_upd"
        IndexBuilder(spark, idx, n_buckets=16).build(
            _docs_shape(spark, sf_dir), input_token=f"testdata-upd-base:{sf_dir}"
        )
        d = _documents(spark, sf_dir).filter(F.col("doc_id") % 17 == 3)
        delta = d.select(
            F.col("source").alias("repo"),
            F.concat(F.lit("doc/"), F.lpad(F.col("doc_id").cast("string"), 10, "0")).alias("path"),
            F.substring(
                F.sha2(F.concat(F.col("doc_id").cast("string"), F.lit(":upd")), 256), 1, 40
            ).alias("commit"),
            F.col("lang"),
            F.concat(F.col("text"), F.lit(_UPD_SUFFIX)).alias("content"),
        )
        inc = IncrementalIndexer(spark, idx)
        inc.update(delta, input_token=f"testdata-upd-delta:{sf_dir}")
        inc.compact()
        _UPD_ENGINES[sf_dir] = SearchEngine(spark, idx)
    return _UPD_ENGINES[sf_dir]


def _bm25_after_update_query(query_text: str, k: int = DEFAULT_K):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        eng = _engine_after_update(spark, sf_dir)
        res = eng.search(query_text, None)
        return (
            res.withColumn("score_r", F.round(F.col("score"), 9))
            .orderBy(F.desc("score_r"), F.asc("repo"), F.asc("path"))
            .limit(k)
            .select("path", "score_r")
        )

    return run


_GEN_SUFFIX = " zzgen zzgen"
_GEN_ENGINES: dict[str, SearchEngine] = {}


def _engine_multigen(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """The r5 generational read path under the driver's value gate: build
    the base index, append a NEW-DOCS delta (every doc_id % 13 == 5
    re-lands under a gen2/ path with ``_GEN_SUFFIX``'d content) through
    ``IncrementalIndexer.update()``, and do NOT compact — shared terms hold
    one posting row per generation, so the engine must concatenate rows,
    SUM df across generations (engine._sum_df) and keep stats as running
    totals to match a first-principles oracle over the union corpus.
    Idempotent across driver runs: the base build resumes from its lineage
    checkpoint and a re-applied delta dedups to n_new == 0 on (repo, path)
    + content sha, returning before any postings write."""
    if sf_dir not in _GEN_ENGINES:
        from admarus_spark.streaming.incremental import IncrementalIndexer

        tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
        idx = f"/tmp/admarus_entry_idx/{tag}_gen"
        IndexBuilder(spark, idx, n_buckets=16).build(
            _docs_shape(spark, sf_dir), input_token=f"testdata-gen-base:{sf_dir}"
        )
        d = _documents(spark, sf_dir).filter(F.col("doc_id") % 13 == 5)
        delta = d.select(
            F.col("source").alias("repo"),
            F.concat(
                F.lit("gen2/doc/"), F.lpad(F.col("doc_id").cast("string"), 10, "0")
            ).alias("path"),
            F.substring(
                F.sha2(F.concat(F.col("doc_id").cast("string"), F.lit(":gen")), 256), 1, 40
            ).alias("commit"),
            F.col("lang"),
            F.concat(F.col("text"), F.lit(_GEN_SUFFIX)).alias("content"),
        )
        IncrementalIndexer(spark, idx).update(
            delta, input_token=f"testdata-gen-delta:{sf_dir}"
        )
        _GEN_ENGINES[sf_dir] = SearchEngine(spark, idx)
    return _GEN_ENGINES[sf_dir]


def _bm25_multigen_query(query_text: str, k: int = DEFAULT_K):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        eng = _engine_multigen(spark, sf_dir)
        res = eng.search(query_text, None)
        return (
            res.withColumn("score_r", F.round(F.col("score"), 9))
            .orderBy(F.desc("score_r"), F.asc("repo"), F.asc("path"))
            .limit(k)
            .select("path", "score_r")
        )

    return run


def _bm25_query(query_text: str, k: int = DEFAULT_K):
    """Engine search -> (path, score_r), ordered/limited on the rounded score
    with (source, path) tie-break — the exact rule the SQL oracle uses.
    ``k=None`` fetches EVERY gated match so the rounded-score re-rank can
    never lose a doc straddling the cutoff (a fixed +N buffer could, when
    more than N docs tie on the rounded score at the boundary)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        eng = _engine(spark, sf_dir)
        res = eng.search(query_text, None)
        return (
            res.withColumn("score_r", F.round(F.col("score"), 9))
            .orderBy(F.desc("score_r"), F.asc("repo"), F.asc("path"))
            .limit(k)
            .select("path", "score_r")
        )

    return run


# Batched execution under the value gate: five mixed-shape postings-only
# queries through ``SearchEngine.search_many`` — at HEAD defaults these
# route to the executor-side GROUP-EVAL path (search/group_eval.py: two
# connected components, {batch,dup} and {spark,stream,window,join,hash}),
# so the driver's DuckDB compare covers the batched fast path itself, not
# just its pytest parity with the sequential engine. k is effectively
# unbounded at the engine (every gated match comes back) and the rounded
# re-rank picks the displayed top-k, same robustness rule as _bm25_query.
_BATCH_MEMBERS: dict[str, str] = {
    "hot": "batch",
    "conj": "spark AND stream",
    "quickor": "join hash window",
    "nofm": "2(spark, stream, window)",
    "notq": "batch AND NOT dup",
}

# the DuckDB twin of each _BATCH_MEMBERS query (terms, gate, score) — one
# spec shared by bm25_batch AND bm25_batch_sharded so the two entries can
# never drift apart (the sharded plan must match the unsharded rows)
_BATCH_MEMBER_ORACLES: dict[str, tuple[list[str], str, str]] = {
    "hot": (["batch"], "s_0 > 0", "s_0"),
    "conj": (["spark", "stream"], "s_0 > 0 AND s_1 > 0", "(s_0 + s_1) / 2"),
    "quickor": (
        ["join", "hash", "window"],
        "greatest(s_0, s_1, s_2) > 0",
        "greatest(s_0, s_1, s_2)",
    ),
    "nofm": (
        ["spark", "stream", "window"],
        "((s_0 > 0)::INT + (s_1 > 0)::INT + (s_2 > 0)::INT) >= 2",
        "(s_0 + s_1 + s_2 - least(s_0, s_1, s_2)) / 2",
    ),
    "notq": (["batch", "dup"], "s_0 > 0 AND s_1 = 0", "s_0 / 2"),
}


def _bm25_batch(k: int = DEFAULT_K, shards: int | None = None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import os as _os

        from pyspark.sql.window import Window

        eng = _engine(spark, sf_dir)
        if shards is not None:
            # force doc-range sharding (r5, engine._search_many_groups):
            # each group's blobs replicate to `shards` id-range shards and
            # the per-shard exact top-ks merge in a k-row window — this
            # entry puts the sharded path itself under the driver's DuckDB
            # value gate (plan construction happens inside search_many, so
            # the env must be set around the CALL, not the collect)
            prev = _os.environ.get("SPARK_GRAFT_GROUP_EVAL_SHARDS")
            _os.environ["SPARK_GRAFT_GROUP_EVAL_SHARDS"] = str(shards)
            try:
                res = eng.search_many(dict(_BATCH_MEMBERS), k=1_000_000_000)
            finally:
                if prev is None:
                    _os.environ.pop("SPARK_GRAFT_GROUP_EVAL_SHARDS", None)
                else:
                    _os.environ["SPARK_GRAFT_GROUP_EVAL_SHARDS"] = prev
        else:
            res = eng.search_many(dict(_BATCH_MEMBERS), k=1_000_000_000)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score_r"), F.asc("repo"), F.asc("path")
        )
        return (
            res.withColumn("score_r", F.round(F.col("score"), 9))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "path", "score_r")
            .orderBy("query_id", F.desc("score_r"), F.asc("path"))
        )

    return run


# ----------------------------------------------------------------------
# DuckDB oracle SQL builders (fulltext core)
# ----------------------------------------------------------------------

_TOK_CTES = f"""
tok AS (
  SELECT doc_id, unnest({DUCKDB_TOKENS_EXPR.format(col="text")}) AS term
  FROM documents
),
tft AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY doc_id, term),
dl  AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
st  AS (SELECT (SELECT count(*)::DOUBLE FROM documents) AS n,
               (SELECT count(*)::DOUBLE FROM tok)
                 / (SELECT count(*)::DOUBLE FROM documents) AS avgdl),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tft GROUP BY term),
idfs AS (SELECT term, ln(1 + ((SELECT n FROM st) - df + 0.5) / (df + 0.5)) AS idf FROM dfs)
"""


def _bm25_res_ctes(terms: list[str], gate: str, score: str, join_meta: bool = False) -> str:
    """CTE chain ending in res(doc_id, score). ``gate``/``score`` are SQL
    exprs over per-term score columns s_0..s_{n-1} (0.0 when the doc lacks
    the term) and, with join_meta, the documents columns (lang, source)."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    s_cols = ",\n         ".join(
        f"coalesce(max(CASE WHEN tft.term = '{t}' THEN i.idf * tft.tf / "
        f"(tft.tf + {K1} * ({1.0 - B} + {B} * dl.dl / (SELECT avgdl FROM st))) END), 0.0) AS s_{j}"
        for j, t in enumerate(terms)
    )
    meta_join = "JOIN documents doc ON doc.doc_id = sc.doc_id" if join_meta else ""
    return f"""
WITH {_TOK_CTES},
sc AS (
  SELECT tft.doc_id,
         {s_cols}
  FROM tft
  JOIN dl USING (doc_id)
  JOIN idfs i ON i.term = tft.term
  WHERE tft.term IN ({in_list})
  GROUP BY tft.doc_id
),
res AS (
  SELECT sc.doc_id, {score} AS score
  FROM sc {meta_join}
  WHERE {gate}
)
"""


def _bm25_oracle(terms: list[str], gate: str, score: str, k: int = DEFAULT_K, join_meta: bool = False) -> str:
    return f"""
{_bm25_res_ctes(terms, gate, score, join_meta)}
SELECT 'doc/' || lpad(CAST(r.doc_id AS VARCHAR), 10, '0') AS path,
       round(r.score, 9) AS score_r
FROM res r JOIN documents d ON d.doc_id = r.doc_id
ORDER BY round(r.score, 9) DESC, d.source ASC, path ASC
LIMIT {k}
"""


def _bm25_after_update_oracle(terms: list[str], gate: str, score: str, k: int = DEFAULT_K) -> str:
    """First-principles BM25 over the POST-UPDATE corpus: a docs2 CTE applies
    the same deterministic content change the Spark entry pushes through
    ``IncrementalIndexer.update()`` (doc_id % 17 == 3 gains _UPD_SUFFIX), and
    every tokenize/df/idf/avgdl CTE is retargeted from documents to docs2 —
    so the oracle checks the incremental path's stats and postings, not just
    its row plumbing."""
    docs2 = """docs2 AS (
  SELECT doc_id, lang, source,
         CASE WHEN doc_id % 17 = 3
              THEN text || '""" + _UPD_SUFFIX + """'
              ELSE text END AS text
  FROM documents
),
"""
    body = _bmp_replace_src(_bm25_res_ctes(terms, gate, score), "docs2")
    body = body.replace("WITH ", "WITH " + docs2, 1)
    return f"""
{body}
SELECT 'doc/' || lpad(CAST(r.doc_id AS VARCHAR), 10, '0') AS path,
       round(r.score, 9) AS score_r
FROM res r JOIN docs2 d ON d.doc_id = r.doc_id
ORDER BY round(r.score, 9) DESC, d.source ASC, path ASC
LIMIT {k}
"""


def _bm25_multigen_oracle(terms: list[str], gate: str, score: str, k: int = DEFAULT_K) -> str:
    """First-principles BM25 over the POST-APPEND corpus (base docs plus the
    gen2 delta as rows with offset ids and gen2/ paths), matching the Spark
    entry's un-compacted multi-generation index: df/idf/avgdl over the
    union, so a reader that missed a generation (or double-counted df)
    would hash-mismatch."""
    docs2 = f"""docs2 AS (
  SELECT doc_id, lang, source, text,
         'doc/' || lpad(CAST(doc_id AS VARCHAR), 10, '0') AS path
  FROM documents
  UNION ALL
  SELECT doc_id + 100000000, lang, source, text || '{_GEN_SUFFIX}',
         'gen2/doc/' || lpad(CAST(doc_id AS VARCHAR), 10, '0') AS path
  FROM documents WHERE doc_id % 13 = 5
),
"""
    body = _bmp_replace_src(_bm25_res_ctes(terms, gate, score), "docs2")
    body = body.replace("WITH ", "WITH " + docs2, 1)
    return f"""
{body}
SELECT d.path AS path, round(r.score, 9) AS score_r
FROM res r JOIN docs2 d ON d.doc_id = r.doc_id
ORDER BY round(r.score, 9) DESC, d.source ASC, d.path ASC
LIMIT {k}
"""


def _bm25_batch_oracle(
    members: dict[str, tuple[list[str], str, str]], k: int = DEFAULT_K
) -> str:
    """One statement for the whole batch: the tokenize/df/idf CTE chain is
    shared (as the engine shares one postings scan), then per-member sc/res
    CTEs and a UNION ALL of per-member top-k arms, each with the pinned
    (rounded score desc, source, path) selection rule."""
    sc_parts, arms = [], []
    for qid, (terms, gate, score) in members.items():
        in_list = ", ".join(f"'{t}'" for t in terms)
        s_cols = ",\n         ".join(
            f"coalesce(max(CASE WHEN tft.term = '{t}' THEN i.idf * tft.tf / "
            f"(tft.tf + {K1} * ({1.0 - B} + {B} * dl.dl / (SELECT avgdl FROM st))) END), 0.0) AS s_{j}"
            for j, t in enumerate(terms)
        )
        sc_parts.append(f"""
sc_{qid} AS (
  SELECT tft.doc_id,
         {s_cols}
  FROM tft
  JOIN dl USING (doc_id)
  JOIN idfs i ON i.term = tft.term
  WHERE tft.term IN ({in_list})
  GROUP BY tft.doc_id
),
res_{qid} AS (
  SELECT sc.doc_id, {score} AS score FROM sc_{qid} sc WHERE {gate}
)""")
        arms.append(f"""
(SELECT '{qid}' AS query_id,
        'doc/' || lpad(CAST(r.doc_id AS VARCHAR), 10, '0') AS path,
        round(r.score, 9) AS score_r
 FROM res_{qid} r JOIN documents d ON d.doc_id = r.doc_id
 ORDER BY round(r.score, 9) DESC, d.source ASC, path ASC
 LIMIT {k})""")
    return (
        f"WITH {_TOK_CTES},{','.join(sc_parts)}\n"
        + "\nUNION ALL\n".join(arms)
        + "\nORDER BY query_id, score_r DESC, path"
    )


def _bmp_replace_src(sql: str, src: str) -> str:
    """Retarget the tokenize CTE chain's base table (the only 'FROM
    documents' occurrences in a join_meta=False chain live in _TOK_CTES)."""
    return sql.replace("FROM documents", f"FROM {src}")


# ----------------------------------------------------------------------
# direct pipeline entries (tokenizer / stats — SURVEY.md §2.2-2.3)
# ----------------------------------------------------------------------


def q_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+A1: vectorized tokenizer + per-(doc, term) tf (documents.rs:48-52,
    inner_im.rs:75-79 — tf by repetition)."""
    d = _documents_wide(spark, sf_dir)
    return (
        d.select("doc_id", F.explode(tokenize_expr(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: per-doc token count (doc_len)."""
    d = _documents_wide(spark, sf_dir)
    return d.select("doc_id", F.size(tokenize_expr(F.col("text"))).cast("long").alias("doc_len"))


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: corpus N / total tokens / avgdl (BM25 globals)."""
    d = _documents_wide(spark, sf_dir)
    per_doc = d.select(F.size(tokenize_expr(F.col("text"))).cast("long").alias("dl"))
    return per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
        F.round(F.sum("dl") / F.count("*"), 9).alias("avgdl_r"),
    )


def q_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/O3: dictionary (term -> document frequency)."""
    d = _documents_wide(spark, sf_dir)
    return (
        d.select("doc_id", F.explode_outer(F.array_distinct(tokenize_expr(F.col("text")))).alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )


def q_filter_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/M-filter: pure metadata-equality query (lang=es), Catalyst predicate."""
    d = _documents(spark, sf_dir)
    return (
        d.filter(F.col("lang") == "es")
        .select(
            F.concat(F.lit("doc/"), F.lpad(F.col("doc_id").cast("string"), 10, "0")).alias("path")
        )
        .orderBy("path")
        .limit(50)
    )


def q_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 candidate generation: union of positive terms' posting doc ids."""
    d = _documents_wide(spark, sf_dir)
    terms = ["batch", "dup"]
    return (
        d.select("doc_id", F.explode(tokenize_expr(F.col("text"))).alias("term"))
        .filter(F.col("term").isin(terms))
        .select("doc_id")
        .distinct()
    )


def _bm25_grouped(query_text: str, gk: int = 5):
    """G2/G4 analog: group results by repo root, group score = best member
    (webui/src/result/ranked.rs:116-139, grouped.rs:28-31)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        eng = _engine(spark, sf_dir)
        # k=None: the group-by aggregates the full scored match set directly
        # (regular join, no million-row top-k broadcast)
        res = eng.search(query_text, None)
        return (
            res.groupBy(F.col("repo").alias("source"))
            .agg(F.round(F.max("score"), 9).alias("best_r"), F.count("*").alias("members"))
            .orderBy(F.desc("best_r"), F.asc("source"))
            .limit(gk)
        )

    return run


def _bm25_grouped_anchored(query_text: str, gk: int = 25):
    """G1+G3: title-anchored grouping with small-group disband
    (format.rs:114-141, ranked.rs:141-162). Group key = 10-doc directory
    (path prefix, G2); title = first 8 tokens; groups without a member whose
    title satisfies the AST, or with <= 3 members, are disbanded into
    individual results. Output (key, score_r, members)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from admarus_spark.query.parser import parse_query
        from admarus_spark.search.grouping import TITLE_TOKENS, group_anchored

        eng = _engine(spark, sf_dir)
        res = eng.search(query_text, None)
        titles = _documents(spark, sf_dir).select(
            F.concat(
                F.lit("doc/"), F.lpad(F.col("doc_id").cast("string"), 10, "0")
            ).alias("path"),
            F.slice(tokenize_expr(F.col("text")), 1, TITLE_TOKENS).alias("ttoks"),
        )
        return group_anchored(
            res,
            titles,
            parse_query(query_text).root,
            group_key=F.substring("path", 1, 13),
            limit=gk,
        )

    return run


def _nested_path_col(c: "F.Column"):
    """Deterministic NESTED path namespace for the grouping-walk entry: the
    flat testdata paths carry no directory structure, so the walk entry
    synthesizes one from doc_id — mixed depth (ids with doc_id%10 < 3 sit
    one level up) so anchors occur at multiple levels and the disband
    cascade crosses levels. The DuckDB oracle uses the identical expression
    (_NPATH_DUCK)."""
    return F.concat(
        F.lit("g"), (c % 5).cast("string"),
        F.lit("/m"), F.floor(c / 50).cast("long").cast("string"),
        F.when(c % 10 < 3, F.lit("")).otherwise(
            F.concat(F.lit("/s"), F.floor(c / 10).cast("long").cast("string"))
        ),
        F.lit("/f"), c.cast("string"),
    )


_NPATH_DUCK = (
    "'g' || (doc_id % 5) || '/m' || (doc_id // 50) || "
    "(CASE WHEN doc_id % 10 < 3 THEN '' ELSE '/s' || (doc_id // 10) END) "
    "|| '/f' || doc_id"
)


def _bm25_grouped_walk(query_text: str, gk: int = 30):
    """G2 longest-matching-ancestor grouping over a nested path namespace
    (ranked.rs:107-162 — the full prefix walk incl. the disband cascade; the
    fixed-width-prefix variant stays available as bm25_grouped_anchored)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from admarus_spark.query.parser import parse_query
        from admarus_spark.search.grouping import TITLE_TOKENS, group_walk

        eng = _engine(spark, sf_dir)
        res = eng.search(query_text, None)
        did = F.expr("CAST(substring(path, 5, 10) AS BIGINT)")
        res = res.select(_nested_path_col(did).alias("path"), "score")
        titles = _documents(spark, sf_dir).select(
            _nested_path_col(F.col("doc_id")).alias("path"),
            F.slice(tokenize_expr(F.col("text")), 1, TITLE_TOKENS).alias("ttoks"),
        )
        return group_walk(res, titles, parse_query(query_text).root, limit=gk)

    return run


def _bm25_grouped_walk_oracle(terms: list[str], gate: str, score: str, gk: int = 30) -> str:
    """DuckDB twin of group_walk: anchors -> parent per dir (best score),
    members attach to the longest anchored ancestor (correlated LIKE walk),
    groups with < 4 children disband and re-walk to the longest KEPT
    ancestor, group score = best member, members = parent+attached+rewalked."""
    tmatch = " AND ".join(f"list_contains(dt.tt, '{t}')" for t in terms)
    return f"""
{_bm25_res_ctes(terms, gate, score)},
t AS (
  SELECT r.doc_id, r.score, {_NPATH_DUCK.replace("doc_id", "r.doc_id")} AS path, ({tmatch}) AS tm
  FROM res r
  JOIN (SELECT doc_id, ({_TOK_EXPR})[1:8] AS tt FROM documents) dt
    ON dt.doc_id = r.doc_id
),
base AS (
  SELECT doc_id, score, path, tm, regexp_replace(path, '/[^/]*$', '') AS dir
  FROM t
),
anch AS (
  SELECT *, row_number() OVER (PARTITION BY dir ORDER BY score DESC, path ASC) AS rk
  FROM base WHERE tm
),
parents AS (SELECT dir AS gkey, path AS ppath, score AS pscore FROM anch WHERE rk = 1),
walkers AS (
  SELECT path, score FROM base WHERE NOT tm
  UNION ALL SELECT path, score FROM anch WHERE rk > 1
),
att AS (
  SELECT w.path, w.score,
         (SELECT p.gkey FROM parents p WHERE w.path LIKE p.gkey || '/%'
          ORDER BY length(p.gkey) DESC LIMIT 1) AS gkey
  FROM walkers w
),
attached AS (SELECT * FROM att WHERE gkey IS NOT NULL),
unatt AS (SELECT path, score FROM att WHERE gkey IS NULL),
g AS (SELECT gkey, count(*) AS children, max(score) AS mbest FROM attached GROUP BY gkey),
pg AS (
  SELECT p.gkey, p.ppath, p.pscore, coalesce(g.children, 0) AS children, g.mbest
  FROM parents p LEFT JOIN g ON g.gkey = p.gkey
),
keptk AS (SELECT * FROM pg WHERE children >= 4),
disb AS (SELECT * FROM pg WHERE children < 4),
rewalk AS (
  SELECT a.path, a.score FROM attached a JOIN disb d ON a.gkey = d.gkey
  UNION ALL SELECT d.ppath, d.pscore FROM disb d
),
ratt AS (
  SELECT i.path, i.score,
         (SELECT k.gkey FROM keptk k WHERE i.path LIKE k.gkey || '/%'
          ORDER BY length(k.gkey) DESC LIMIT 1) AS gkey
  FROM rewalk i
),
rg AS (SELECT gkey, count(*) AS rn, max(score) AS rbest FROM ratt WHERE gkey IS NOT NULL GROUP BY gkey),
kept_final AS (
  SELECT k.gkey AS key,
         round(greatest(k.pscore, coalesce(k.mbest, k.pscore), coalesce(rg.rbest, k.pscore)), 9) AS score_r,
         (1 + k.children + coalesce(rg.rn, 0))::BIGINT AS members
  FROM keptk k LEFT JOIN rg ON rg.gkey = k.gkey
),
indiv AS (
  SELECT path AS key, round(score, 9) AS score_r, 1::BIGINT AS members FROM unatt
  UNION ALL
  SELECT path AS key, round(score, 9) AS score_r, 1::BIGINT AS members
  FROM ratt WHERE gkey IS NULL
)
SELECT key, score_r, members FROM (SELECT * FROM kept_final UNION ALL SELECT * FROM indiv)
ORDER BY score_r DESC, key ASC
LIMIT {gk}
"""


def _bm25_grouped_anchored_oracle(
    terms: list[str], gate: str, score: str, gk: int = 25
) -> str:
    tmatch = " AND ".join(f"list_contains(dt.tt, '{t}')" for t in terms)
    return f"""
{_bm25_res_ctes(terms, gate, score)},
t AS (
  SELECT r.doc_id, r.score,
         'doc/' || lpad(CAST(r.doc_id AS VARCHAR), 10, '0') AS path,
         substr('doc/' || lpad(CAST(r.doc_id AS VARCHAR), 10, '0'), 1, 13) AS grp,
         ({tmatch}) AS tm
  FROM res r
  JOIN (SELECT doc_id, ({_TOK_EXPR})[1:8] AS tt FROM documents) dt
    ON dt.doc_id = r.doc_id
),
g AS (
  SELECT grp, max(score) AS best, count(*) AS members,
         max(CASE WHEN tm THEN 1 ELSE 0 END) AS anch
  FROM t GROUP BY grp
)
SELECT key, score_r, members FROM (
  SELECT grp AS key, round(best, 9) AS score_r, members
  FROM g WHERE anch = 1 AND members >= 4
  UNION ALL
  SELECT t.path AS key, round(t.score, 9) AS score_r, 1::BIGINT AS members
  FROM t JOIN g USING (grp) WHERE NOT (g.anch = 1 AND g.members >= 4)
)
ORDER BY score_r DESC, key ASC
LIMIT {gk}
"""


def _bm25_grouped_oracle(terms: list[str], gate: str, score: str, gk: int = 5) -> str:
    return f"""
{_bm25_res_ctes(terms, gate, score)}
SELECT d.source AS source, round(max(r.score), 9) AS best_r, count(*) AS members
FROM res r JOIN documents d ON d.doc_id = r.doc_id
GROUP BY d.source
ORDER BY round(max(r.score), 9) DESC, source ASC
LIMIT {gk}
"""


_FULLTEXT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "tokenize_tf": q_tokenize_tf,
    "doc_stats": q_doc_stats,
    "corpus_stats": q_corpus_stats,
    "term_df": q_term_df,
    "filter_only": q_filter_only,
    "candidates_union": q_candidates,
    "bm25_hot": _bm25_query("batch"),
    "bm25_rare": _bm25_query("dup"),
    "bm25_and": _bm25_query("spark AND stream"),
    "bm25_or": _bm25_query("spark / stream"),
    "bm25_quick_or": _bm25_query("join hash window"),
    "bm25_nofm": _bm25_query("2(spark, stream, window)"),
    "bm25_not": _bm25_query("batch AND NOT dup"),
    "bm25_lang_filter": _bm25_query("lang=es AND spark"),
    "bm25_batch": _bm25_batch(),
    "bm25_batch_sharded": _bm25_batch(shards=4),
    "bm25_after_update": _bm25_after_update_query("batch zzupdated"),
    "bm25_multigen": _bm25_multigen_query("batch zzgen"),
    "bm25_grouped": _bm25_grouped("batch"),
    "bm25_grouped_anchored": _bm25_grouped_anchored("spark AND stream"),
    "bm25_grouped_walk": _bm25_grouped_walk("batch"),
}

_TOK_EXPR = DUCKDB_TOKENS_EXPR.format(col="text")

_FULLTEXT_ORACLES: dict[str, str] = {
    "tokenize_tf": f"""
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest({_TOK_EXPR}) AS term FROM documents)
        GROUP BY doc_id, term
    """,
    "doc_stats": f"SELECT doc_id, len({_TOK_EXPR}) ::BIGINT AS doc_len FROM documents",
    "corpus_stats": f"""
        SELECT count(*) AS n_docs,
               sum(len({_TOK_EXPR}))::BIGINT AS total_tokens,
               round(sum(len({_TOK_EXPR}))::DOUBLE / count(*), 9) AS avgdl_r
        FROM documents
    """,
    "term_df": f"""
        SELECT term, count(DISTINCT doc_id) AS df
        FROM (SELECT doc_id, unnest({_TOK_EXPR}) AS term FROM documents)
        GROUP BY term
    """,
    "filter_only": """
        SELECT 'doc/' || lpad(CAST(doc_id AS VARCHAR), 10, '0') AS path
        FROM documents WHERE lang = 'es' ORDER BY path LIMIT 50
    """,
    "candidates_union": f"""
        SELECT DISTINCT doc_id
        FROM (SELECT doc_id, unnest({_TOK_EXPR}) AS term FROM documents)
        WHERE term IN ('batch', 'dup')
    """,
    "bm25_hot": _bm25_oracle(["batch"], gate="s_0 > 0", score="s_0"),
    "bm25_rare": _bm25_oracle(["dup"], gate="s_0 > 0", score="s_0"),
    "bm25_and": _bm25_oracle(
        ["spark", "stream"], gate="s_0 > 0 AND s_1 > 0", score="(s_0 + s_1) / 2"
    ),
    "bm25_or": _bm25_oracle(
        ["spark", "stream"], gate="greatest(s_0, s_1) > 0", score="greatest(s_0, s_1)"
    ),
    "bm25_quick_or": _bm25_oracle(
        ["join", "hash", "window"],
        gate="greatest(s_0, s_1, s_2) > 0",
        score="greatest(s_0, s_1, s_2)",
    ),
    "bm25_nofm": _bm25_oracle(
        ["spark", "stream", "window"],
        gate="((s_0 > 0)::INT + (s_1 > 0)::INT + (s_2 > 0)::INT) >= 2",
        score="(s_0 + s_1 + s_2 - least(s_0, s_1, s_2)) / 2",
    ),
    "bm25_not": _bm25_oracle(
        ["batch", "dup"], gate="s_0 > 0 AND s_1 = 0", score="s_0 / 2"
    ),
    "bm25_lang_filter": _bm25_oracle(
        ["spark"], gate="doc.lang = 'es' AND s_0 > 0", score="s_0 / 2", join_meta=True
    ),
    "bm25_batch": _bm25_batch_oracle(_BATCH_MEMBER_ORACLES),
    # the sharded path must produce the SAME rows as the unsharded batch —
    # one oracle text, two engine plans under the value gate
    "bm25_batch_sharded": _bm25_batch_oracle(_BATCH_MEMBER_ORACLES),
    "bm25_after_update": _bm25_after_update_oracle(
        ["batch", "zzupdated"],
        gate="greatest(s_0, s_1) > 0",
        score="greatest(s_0, s_1)",
    ),
    "bm25_multigen": _bm25_multigen_oracle(
        ["batch", "zzgen"],
        gate="greatest(s_0, s_1) > 0",
        score="greatest(s_0, s_1)",
    ),
    "bm25_grouped": _bm25_grouped_oracle(["batch"], gate="s_0 > 0", score="s_0"),
    "bm25_grouped_anchored": _bm25_grouped_anchored_oracle(
        ["spark", "stream"], gate="s_0 > 0 AND s_1 > 0", score="(s_0 + s_1) / 2"
    ),
    "bm25_grouped_walk": _bm25_grouped_walk_oracle(
        ["batch"], gate="s_0 > 0", score="s_0"
    ),
}


# ----------------------------------------------------------------------
# driver contract
# ----------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full engine (index build + BM25 top-k) on sf0.001."""
    return _bm25_query("spark AND stream")(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    out.update(_FULLTEXT_QUERIES)
    out.update(ops.queries())
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out.update(_FULLTEXT_ORACLES)
    out.update(ops.oracle_sql())
    return out
