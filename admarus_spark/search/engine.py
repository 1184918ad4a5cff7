"""Top-k BM25 query engine over a built index.

Query lifecycle (mirrors the reference's local search slice,
``/root/reference/daemon/src/api/local_search.rs:3-18`` →
``daemon/src/index/inner_im.rs:90-104``, re-expressed Spark-first —
SURVEY.md §4 physical plan):

driver:  parse AST → bloom gate (M1, ``matching.rs:19-41``) → per-term
         bucket routing (term-hash partition pruning + per-bucket bloom)
stage A: scan postings WHERE tb IN (...) AND term IN (...)   [partition
         pruning + parquet predicate pushdown]
stage B-D, group-eval route (postings-only folds, finite k, clean or
         dirty index): one executor task decodes the scanned blobs with
         local rank-safe block pruning, drops tombstoned ids, folds in
         NumPy and emits the top-k (group_eval.py)
stage B-D, pivot route (metadata folds, k=None, wand="off", groups over
         the decoded-bytes cap): decode every scanned block (Arrow-batched
         mapInPandas, NumPy inside; a max-fold with exact block maxes
         decodes each term's greedy top-k blocks) → tombstone anti-join →
         per-doc AST fold compiled to Catalyst expressions (fold.py) →
         global top-k: orderBy(score desc, doc_id asc).limit(k) →
         TakeOrderedAndProject. ``search_many`` answers the members its
         group-eval does not take one by one on this route.
stage E: broadcast-join the k winners back to doc_dict for display fields;
         one task sorts them

Per-term idf is ``oracle.bm25_idf`` over the live df, so engine and oracle
share the exact same ln() bits (float-parity note in oracle.py). The driver
computes it from collected (term, df) rows; while tombstones are pending,
the stored df still counts dead generations, so the pivot and sharded
group-eval correct it with one extra job (``_live_df_map``), and an
unsharded group-eval task counts the live df itself from the ids it
decodes.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import BM25_B, BM25_K1
from ..hashword import filter_get
from ..index.build import IndexPaths, check_layout, heal_swap
from ..index.codec import decode_postings
from ..murmur import identity_partition_keys, term_bucket
from ..oracle import bm25_idf
from ..query.ast import Filter, NAmong, Not, Query, QueryComp, Word, required_words
from ..query.parser import parse_query
from .fold import compile_fold, dlit, is_max_fold, sql_quote
from .group_eval import (
    dead_hits,
    evaluate_group,
    group_members,
    nofm_cover_words as _nofm_cover_words,
    select_blocks_topk as _select_blocks_topk,
)

RESULT_SCHEMA = "doc_id long, score double, repo string, path string, commit string, lang string"


def _sum_df(rows) -> dict[str, int]:
    """df per term as the SUM over its posting rows: an updated-but-not-yet-
    compacted index stores one row per (term, generation) — the incremental
    path APPENDS delta postings instead of rewriting buckets — and idf must
    see the term's TOTAL df (generations hold disjoint doc ids, so the sum
    is exact)."""
    out: dict[str, int] = {}
    for r in rows:
        out[r["term"]] = out.get(r["term"], 0) + int(r["df"])
    return out


class SearchEngine:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        # heal interrupted write-then-swap replacements (r5 review): a crash
        # between swap_dir's two renames leaves a live dir missing with the
        # complete new generation in <dir>_next — a read-only consumer
        # constructed inside that window must promote it, not fail at the
        # parquet read. Guarded on the dir being absent so a clean init
        # touches nothing (single-writer: no update()/compact() mid-flight).
        for _p in (self.paths.stats, self.paths.summaries,
                   self.paths.postings, self.paths.doc_dict):
            if not os.path.isdir(_p):
                heal_swap(_p)
        stats = spark.read.parquet(self.paths.stats).collect()[0]
        self.doc_dict = spark.read.parquet(self.paths.doc_dict)
        self.postings = spark.read.parquet(self.paths.postings)
        # driver-side summaries: init reads ONLY the two rollup rows (meta
        # bloom + global term bloom, precomputed by stage3) — n_buckets
        # scales with the corpus, so eagerly materializing every bucket's
        # 125 KB bloom would cost O(n_buckets) driver heap and a slow init
        # at 100 TB scale. Per-bucket blooms load lazily, one pruned collect
        # per batch of queried buckets.
        self._summaries = spark.read.parquet(self.paths.summaries)
        self.bucket_blooms: dict[int, np.ndarray] = {}
        self._absent_buckets: set[int] = set()
        rollup = {
            r["kind"]: np.frombuffer(r["filter"], dtype=np.uint8)
            for r in self._summaries.filter(F.col("kind").isin("meta", "global")).collect()
        }
        # n_buckets is the ROUTING modulus (persisted by stage 2)
        self.n_buckets = check_layout(index_dir, self.postings, rollup, stats)
        self.meta_bloom = rollup["meta"]
        self.global_bloom = np.bitwise_or(rollup["global"], self.meta_bloom)
        self.n_docs = int(stats["n_docs"])
        self.avgdl = float(stats["avgdl"])
        # block-max values are exact bounds only under the avgdl they were
        # encoded with; stats drift (incremental updates) disables WAND
        self.wand_safe = float(stats["bm_avgdl"]) == self.avgdl
        # tombstones: stale generations of changed documents (incremental
        # upsert). Dead ids are dropped from decoded postings BEFORE ranking
        # (group-eval: in the task; pivot: broadcast anti-join) and
        # anti-joined out of the dictionary; block-max skipping is disabled
        # because the stored bounds may be dominated by dead docs (rank
        # safety). The set stays small relative to the corpus (compact()
        # clears it), so both stay shuffle-free.
        tomb_path = os.path.join(index_dir, "tombstones")
        self.tombstones: DataFrame | None = None
        if os.path.exists(tomb_path):
            self.tombstones = spark.read.parquet(tomb_path)
            self.doc_dict = self.doc_dict.join(
                F.broadcast(self.tombstones), "doc_id", "left_anti"
            )
            self.wand_safe = False
        from ..index import checkpoint as _ckpt

        stage2 = _ckpt.read_metrics(index_dir, "stage2_postings")
        # dictionary cache: for small dictionaries, (term -> df) is loaded
        # once at init so queries skip the per-query df-collect job; at
        # billion-term scale this stays lazy (per-query pruned collect).
        self.df_cache: dict[str, int] | None = None
        # batched members whose group (connected component of queries
        # sharing terms) decodes under this many estimated bytes evaluate
        # entirely executor-side (group_eval.py: co-located blobs, local
        # pruning, k rows out); members of larger groups take the per-doc
        # pivot one by one — at 10^12-doc scale a monster term's postings
        # must fan out per-doc, while a batch of bounded queries wants
        # per-QUERY parallelism. ~24 bytes per decoded posting (3 int64
        # arrays).
        self.group_eval_max_bytes = int(
            os.environ.get("SPARK_GRAFT_GROUP_EVAL_MAX_BYTES", 1 << 30)
        )
        # persisted intermediates from the previous search_many/_finish call;
        # released at the next query (or via release_cache) so a long-lived
        # serving session does not leak executor cache (ADVICE r1).
        self._live_cache: list[DataFrame] = []
        # the last call's group-eval routing (search or search_many)
        self.last_group_eval: dict | None = None
        # tombstoned ids pinned driver-side, lazily (bounded by design: the
        # set holds changed-doc old generations + crash-recovery orphans and
        # compact() clears it) — shipped into group-eval tasks and feeding
        # the driver's live-df correction (_live_df_map)
        self._dead_cache: np.ndarray | None = None
        # true max live doc id, lazily (one tiny columnar aggregate, cached
        # per engine life / refresh()): ids are append-assigned and never
        # reused, so after update()+compact() cycles the live set is SPARSE
        # in [0, max_id] with max_id >> n_docs — doc-range shards sized by
        # n_docs would pile every recent doc into the open-ended last shard
        # (r5 review)
        self._max_id_cache: int | None = None
        n_terms = stage2.get("n_terms")
        if n_terms is not None and n_terms <= 200_000:
            self.df_cache = _sum_df(self.postings.select("term", "df").collect())
        # dictionary pin (r6): every query's final join re-scans the doc_dict
        # parquet (~0.1-0.3 s/query measured at sf1.0); a serving engine
        # keeps its dictionary hot, same philosophy as df_cache above. Size-
        # gated like df_cache (rows known from stats — ~100 B/row, so the
        # default 5M cap bounds the executor cache at a few hundred MB; a
        # billion-doc index keeps the plain scan). Materialized EAGERLY:
        # a serving engine preloads its dictionary before taking traffic,
        # so the first query after init/refresh pays no cold scan (same
        # reasoning as the eager df_cache collect above). refresh()
        # unpersists before re-init, so an external update is picked up
        # exactly like the other init-time snapshots.
        self._dd_persisted = False
        dd_cache_max = int(os.environ.get("SPARK_GRAFT_DD_CACHE_MAX_DOCS", 5_000_000))
        if self.n_docs <= dd_cache_max:
            self.doc_dict = self.doc_dict.persist()
            self.doc_dict.count()
            self._dd_persisted = True

    # --------------------------------------------------------------------
    def refresh(self) -> None:
        """Re-sync with an index that was updated underneath this engine
        (incremental upsert / compaction from another process): a long-lived
        serving session otherwise keeps the df cache, blooms and tombstone
        view from init — the guards keep results rank-safe (stale df_cache
        returns empty rather than wrong) but recall silently drops until
        re-init (VERDICT r4 #7). ``close()``s, then re-runs init: stats,
        rollup rows, df cache, tombstones and n_buckets re-read. Cost equals
        engine construction (two O(1) summary collects + the size-gated
        dictionary cache) — cheap enough for a periodic refresh tick."""
        self.close()
        self.__init__(self.spark, self.paths.index_dir)

    def close(self) -> None:
        """Release everything this engine pins: persisted query
        intermediates, the doc_dict pin, and the driver-side caches (dead
        ids, df cache, per-bucket blooms). Idempotent. A closed engine still
        answers queries, without the doc_dict pin and the df cache."""
        self.release_cache()
        if self._dd_persisted:
            self.doc_dict.unpersist()
            self._dd_persisted = False
        self._dead_cache = None
        self.df_cache = None
        self.bucket_blooms = {}
        self._absent_buckets = set()

    # --- M1 bloom gate (matching.rs:19-41 semantics, u32 sum/gate) ------
    def _bloom_match_score(self, comp: QueryComp, filt: np.ndarray, optimistic: bool = True) -> int:
        """Driver-side query-vs-summary match score.

        ``optimistic=True`` (the pruning mode) treats Not subtrees as always
        possibly matching: a corpus-wide bloom can prove a term absent from
        every doc, but never that some doc lacks it — the reference's literal
        M1 would wrongly skip ``a AND NOT b`` whenever b exists anywhere
        (that is acceptable for its p2p routing, not for doc-level results).
        ``optimistic=False`` reproduces matching.rs:19-41 exactly (used by
        the parity tests)."""
        if isinstance(comp, Word):
            return 1 if filter_get(filt, comp.word) else 0
        if isinstance(comp, Filter):
            return 1 if filter_get(filt, f"{comp.name}={comp.value}") else 0
        if isinstance(comp, Not):
            if optimistic:
                return 1
            return 1 if self._bloom_match_score(comp.comp, filt, optimistic) == 0 else 0
        if isinstance(comp, NAmong):
            total = 0
            matching = 0
            for c in comp.among:
                s = self._bloom_match_score(c, filt, optimistic)
                total += s
                if s > 0:
                    matching += 1
            return total if matching >= comp.n else 0
        raise TypeError(type(comp))

    def _empty_result(self) -> DataFrame:
        return self.spark.createDataFrame([], RESULT_SCHEMA)

    def _ensure_bucket_blooms(self, tbs: set[int]) -> None:
        """Lazily load the queried buckets' term blooms: ONE tb-pruned
        collect for all missing buckets, cached for the engine's lifetime.
        Buckets with no summary row (zero terms landed there) are cached as
        absent so they are never re-queried."""
        missing = [
            tb
            for tb in tbs
            if tb not in self.bucket_blooms and tb not in self._absent_buckets
        ]
        if not missing:
            return
        rows = self._summaries.filter(
            (F.col("kind") == "terms") & F.col("tb").isin(missing)
        ).collect()
        for r in rows:
            self.bucket_blooms[int(r["tb"])] = np.frombuffer(r["filter"], dtype=np.uint8)
        self._absent_buckets.update(set(missing) - set(self.bucket_blooms))

    def _track(self, df: DataFrame) -> DataFrame:
        self._live_cache.append(df.persist())
        return df

    def release_cache(self) -> None:
        """Unpersist intermediates cached by previous queries."""
        for df in self._live_cache:
            df.unpersist()
        self._live_cache.clear()

    # --------------------------------------------------------------------
    def search(
        self, query: str | Query, k: int | None = 10, wand: str = "auto"
    ) -> DataFrame:
        """Top-k results: (doc_id, score, repo, path, commit, lang).

        Two routes. Postings-only queries (no metadata filter anywhere in
        the fold) with a finite ``k`` evaluate executor-side through
        group-eval — ``search_many``'s one-member case
        (``_search_many_groups``): decode, tombstone drop, fold and top-k
        run next to the postings and k rows come back, on a clean index and
        on one with pending tombstones or a drifted avgdl alike. The pivot
        serves the rest: metadata folds, ``k=None``, groups over the
        decoded-bytes cap (``group_eval_max_bytes``) and ``wand="off"``.
        ``last_group_eval`` records the route (None = pivot).

        ``wand``: ``"auto"`` (default) prunes wherever it is rank-safe;
        ``"off"`` takes the pivot with a full decode, the exactness
        baseline. Any other value raises ``ValueError``.

        ``k=None`` returns EVERY gated match ranked (no limit, no broadcast
        dictionary join) — the shape downstream group-bys aggregate directly
        instead of flowing through a huge top-k broadcast."""
        _check_wand(wand)
        self.release_cache()
        self.last_group_eval = None
        return self._search_one(query, k, wand)

    def _search_one(self, query: str | Query, k: int | None, wand: str) -> DataFrame:
        """``search`` without releasing cached intermediates or resetting
        ``last_group_eval`` — ``search_many`` answers the members its
        group-eval does not take here."""
        if isinstance(query, str):
            query = parse_query(query)
        # driver-side bloom short-circuit (inner_im.rs:91-94)
        if self._bloom_match_score(query.root, self.global_bloom) == 0:
            return self._empty_result()

        all_terms = list(dict.fromkeys(query.terms()))
        pos_filters = query.positive_filters()

        # route terms to buckets; per-bucket bloom drops absent terms early
        self._ensure_bucket_blooms({term_bucket(t, self.n_buckets) for t in all_terms})
        scan_terms: list[str] = []
        buckets: set[int] = set()
        for t in all_terms:
            tb = term_bucket(t, self.n_buckets)
            bloom = self.bucket_blooms.get(tb)
            if bloom is not None and filter_get(bloom, t):
                scan_terms.append(t)
                buckets.add(tb)

        has_filter_cands = any(n in self.doc_dict.columns for n, _ in pos_filters)
        if not scan_terms and not has_filter_cands:
            return self._empty_result()

        scored: DataFrame | None = None
        term_col: dict[str, str] = {}
        if scan_terms:
            pruned = self.postings.filter(
                F.col("tb").isin(sorted(buckets)) & F.col("term").isin(scan_terms)
            )
            if self.df_cache is not None:
                df_map = {t: self.df_cache[t] for t in scan_terms if t in self.df_cache}
            else:
                df_map = _sum_df(pruned.select("term", "df").collect())
            if df_map and k is not None and k > 0:
                groups, _pivot = self._route_batch_members({"": query}, df_map, wand)
                if groups:
                    topk = self._search_many_groups(groups, df_map, k)
                    return self._dict_join(topk.select("doc_id", "score"), k)
            if self.tombstones is not None and df_map:
                df_map = self._live_df_map(pruned, df_map)
            # pivot: a plain decode of the scanned terms. Two driver-only
            # early exits skip it: an unindexed required word, and an n-of-m
            # query with fewer than n children indexed. A max-fold with
            # valid block maxes decodes each term's greedy top-k blocks in
            # the task (rank-safe, zero driver bytes).
            greedy_k = None
            if wand != "off":
                req = required_words(query.root)
                if req - set(df_map):
                    return self._empty_result()  # a required word is unindexed
                if not req and _nofm_cover_words(query.root, df_map) == []:
                    return self._empty_result()  # fewer than n children present
                if is_max_fold(query.root) and self.wand_safe and k:
                    greedy_k = k
            if df_map:
                decoded = self._decode(pruned, greedy_k)
                scored, term_col = self._score(decoded, df_map)

        if scored is None and not has_filter_cands:
            return self._empty_result()
        return self._finish(query, scored, term_col, pos_filters, k)

    # --------------------------------------------------------------------
    def search_with_snippets(self, query, docs: DataFrame, k: int = 10) -> DataFrame:
        """Top-k + best-extract snippets (P5, documents.rs:131-163): the
        source table is joined only against the k winners (broadcast)."""
        from .snippets import with_snippets

        if isinstance(query, str):
            query = parse_query(query)
        res = self.search(query, k)
        return with_snippets(res, docs, query.positive_terms())

    # --------------------------------------------------------------------
    def search_many(
        self, queries: dict[str, str | Query], k: int = 10, wand: str = "auto"
    ) -> DataFrame:
        """Batched execution: MANY queries, per-query results identical to
        ``search`` (same floats, same order). Members take one of two routes
        and union:

        - **group-eval** (postings-only members, clean or dirty index):
          each connected component of queries sharing terms becomes ONE
          identity-routed shuffle partition of posting blobs, evaluated
          entirely executor-side (``group_eval.evaluate_group``: tombstone
          drop, local rank-safe block pruning, the oracle's NumPy fold,
          exact top-k) — k rows per query come back, no per-doc pivot.
        - **one by one** (``_search_one``, the route ``search`` takes): the
          members group-eval does not take — folds that reference metadata
          (positive filters source candidates from doc_dict, not postings),
          members of groups over the decoded-bytes cap, and every member of
          a ``wand="off"`` batch (the full-decode baseline).

        ``last_group_eval`` describes the batch's group-eval route (None
        when no group took it). Returns (query_id, doc_id, score, repo,
        path, commit, lang), top-k per query by (score desc, doc_id asc).
        """
        # Phase timings for the scaling decomposition (BENCH/BASELINE.md):
        # prep = parse + bloom gates + df lookup; plan = plan construction
        # after that. Both DRIVER-side constants — the distributed job
        # itself is timed by the caller.
        _check_wand(wand)
        t_start = time.time()
        self.last_batch_timings = {"prep_sec": 0.0, "plan_sec": 0.0}
        self.release_cache()
        parsed: dict[str, Query] = {
            qid: (parse_query(q) if isinstance(q, str) else q) for qid, q in queries.items()
        }
        batched: dict[str, Query] = {}
        one_by_one: dict[str, Query] = {}
        for qid, q in parsed.items():
            if self._bloom_match_score(q.root, self.global_bloom) == 0:
                continue
            # any positive metadata filter can source candidates beyond the
            # positive-term posting union (e.g. `lang=en / word`) -> take the
            # exact single-query path for those
            if q.positive_terms() and not q.positive_filters():
                batched[qid] = q
            elif q.positive_filters():
                one_by_one[qid] = q

        ge_groups: list[list[tuple[str, Query]]] = []
        if batched:
            union_terms: list[str] = list(
                dict.fromkeys(t for q in batched.values() for t in q.terms())
            )
            self._ensure_bucket_blooms(
                {term_bucket(t, self.n_buckets) for t in union_terms}
            )
            scan_terms = []
            for t in union_terms:
                tb = term_bucket(t, self.n_buckets)
                bloom = self.bucket_blooms.get(tb)
                if bloom is not None and filter_get(bloom, t):
                    scan_terms.append(t)
            if scan_terms:
                if self.df_cache is not None:
                    df_map = {t: self.df_cache[t] for t in scan_terms if t in self.df_cache}
                else:
                    buckets = sorted({term_bucket(t, self.n_buckets) for t in scan_terms})
                    df_map = _sum_df(
                        self.postings.filter(
                            F.col("tb").isin(buckets) & F.col("term").isin(scan_terms)
                        ).select("term", "df").collect()
                    )
                if df_map:
                    self.last_batch_timings["prep_sec"] = time.time() - t_start
                    ge_groups, rest = self._route_batch_members(batched, df_map, wand)
                    one_by_one.update(rest)
        parts: list[DataFrame] = [
            self._search_one(q, k, wand).select(
                F.lit(qid).alias("query_id"), "doc_id", "score"
            )
            for qid, q in one_by_one.items()
        ]
        # a member routed here alone may fit group-eval on its own; the
        # record describes the batch's groups only
        self.last_group_eval = None
        if ge_groups:
            parts.append(self._search_many_groups(ge_groups, df_map, k))
        if not parts:
            return self.spark.createDataFrame([], "query_id string, " + RESULT_SCHEMA)
        topk = parts[0]
        for p in parts[1:]:
            topk = topk.unionByName(p)
        result = self._dict_join(topk, k, by=("query_id",))
        self.last_batch_timings["plan_sec"] = (
            time.time() - t_start - self.last_batch_timings["prep_sec"]
        )
        return result

    # --------------------------------------------------------------------
    def _route_batch_members(
        self, batched: dict[str, Query], df_map: dict[str, int], wand: str
    ) -> tuple[list[list[tuple[str, Query]]], dict[str, Query]]:
        """Split batched members (or ``search``'s one query) between
        group-eval and the rest, which ``search_many`` answers one by one
        through ``_search_one`` (the pivot). Group-eval takes postings-only
        members (no metadata filter anywhere in the fold — group partitions
        carry no doc metadata), on a clean index and on a dirty one alike
        (the task drops tombstoned ids and skips block-max pruning while the
        bounds are stale — ``df_map`` here is the STORED df, used only for
        the size estimates, which it can only overstate); members sharing
        terms form one group (connected components) so a shared term's
        blobs ship and decode once; groups whose estimated decoded volume
        exceeds ``group_eval_max_bytes`` PER SHARD go to the pivot (its
        per-doc parallelism is the right shape for monster terms) — with
        doc-range sharding enabled a group may exceed the cap by up to the
        shard budget (``_search_many_groups`` raises its shard count to
        keep each shard under the cap; routing and sharding use the same
        budget so a group admitted here always fits). ``wand="off"`` sends
        every member to the pivot full decode — the no-pruning baseline."""
        if wand == "off":
            return [], dict(batched)
        ge: dict[str, Query] = {}
        pivot: dict[str, Query] = {}
        for qid, q in batched.items():
            if _collect_filter_names(q.root):
                pivot[qid] = q
            else:
                ge[qid] = q
        if not ge:
            return [], pivot
        groups: list[list[tuple[str, Query]]] = []
        cap = self.group_eval_max_bytes * self._max_group_shards()
        for comp in group_members(ge, df_map):
            terms = {t for qid in comp for t in ge[qid].terms() if t in df_map}
            est = sum(df_map[t] for t in terms) * 24
            if est > cap:
                for qid in comp:
                    pivot[qid] = ge[qid]
            else:
                groups.append([(qid, ge[qid]) for qid in comp])
        return groups, pivot

    def _max_group_shards(self) -> int:
        """Upper bound on doc-range shards per group-eval component —
        scales the routing cap: a group is group-eval-eligible iff its
        decoded estimate fits ``group_eval_max_bytes`` in SOME admissible
        shard count."""
        sh_mode = os.environ.get("SPARK_GRAFT_GROUP_EVAL_SHARDS", "auto")
        if sh_mode == "off":
            return 1
        if sh_mode != "auto":
            return max(1, int(sh_mode))
        return max(1, self.spark.sparkContext.defaultParallelism)

    def _search_many_groups(
        self,
        groups: list[list[tuple[str, Query]]],
        df_map: dict[str, int],
        k: int,
    ) -> DataFrame:
        """Executor-side batched evaluation: ONE tb/term-pruned scan of the
        member terms' posting blobs, identity-routed so each group's blobs
        land whole and alone in their shuffle partition (same trick as the
        build's raw-tf exchange, murmur.identity_partition_keys — no
        sampling pass, no balls-in-bins collision), then one Arrow-batched
        pass evaluates every member locally (group_eval.evaluate_group:
        rank-safe block pruning with zero driver bytes, the oracle's NumPy
        fold, exact top-k) and emits k rows per member. Driver cost is one
        plan — no θ probes, no blob fetches, no per-term pivot columns.

        Partition order IS launch order in Spark's scheduler, so tasks are
        keyed largest-estimated-first (LPT): with G skewed groups over C
        cores, an unlucky order that launches the biggest group last
        inflates the makespan by up to its whole runtime — measured 40-query
        ladder batches carry a 10× est spread across 17 components.

        **Doc-range sharding** (r5): a group whose posting estimate exceeds
        an even per-core share splits into S shards by doc-id range — BM25
        is doc-local (a doc's score reads only its own tf/dl + global
        df/avgdl), so each shard returns its exact in-range top-k and a
        k-row window upstream merges them (group_eval.py module docstring
        carries the rank-safety argument). The group's compressed blobs
        replicate to its S shard partitions, EXCEPT rows whose stored
        [min block_first, max block_last] span misses the shard's range —
        a rare term's single-block row ships to exactly one shard. This
        turns the batch's parallelism core-bound instead of
        component-bound: pre-sharding, the 10-query ladder's largest
        component (~3.7M posting rows) WAS the local[4] makespan
        (BENCH/QUERY_DECOMP.json). ``SPARK_GRAFT_GROUP_EVAL_SHARDS``:
        ``auto`` (default), ``off``, or a forced per-group shard count.

        **Dirty index.** ``df_map`` is the stored df. With tombstones
        pending, the driver-pinned dead ids (``_dead_ids_np``) ship into
        the tasks, which drop them from every decode; an unsharded group
        then counts each term's live df from its surviving ids and computes
        idf itself, while a sharded group — which sees only part of each
        posting list — gets its live df from the driver (``_live_df_map``).
        ``wand_safe`` ships too: stale block maxes turn the greedy off."""

        def _est(comp: list[tuple[str, Query]]) -> int:
            gterms = {t for _qid, q in comp for t in q.terms() if t in df_map}
            return sum(df_map[t] for t in gterms)

        ests = {id(c): _est(c) for c in groups}
        groups = sorted(groups, key=lambda c: ests[id(c)], reverse=True)
        sh_mode = os.environ.get("SPARK_GRAFT_GROUP_EVAL_SHARDS", "auto")
        ncores = self.spark.sparkContext.defaultParallelism
        min_rows = int(os.environ.get("SPARK_GRAFT_GE_MIN_SHARD_ROWS", 200_000))
        total_est = sum(ests.values())
        if sh_mode == "off":
            n_shards = [1] * len(groups)
        elif sh_mode != "auto":
            n_shards = [max(1, int(sh_mode))] * len(groups)
        else:
            # split any group bigger than an even per-core share, but never
            # below min_rows per shard (a shard's fixed cost — blob
            # replication + task launch — must stay amortized); ALSO raise
            # the count until each shard's decoded estimate fits the
            # group-eval byte cap (routing admits over-cap groups on the
            # promise that sharding divides them back under it)
            target = max(total_est / max(ncores, 1), float(min_rows))
            cap_rows = max(self.group_eval_max_bytes // 24, 1)
            n_shards = [
                min(
                    max(
                        1,
                        -(-ests[id(c)] // int(target)),
                        -(-ests[id(c)] // cap_rows),
                    ),
                    ncores,
                )
                for c in groups
            ]
        # shard ranges cover the TRUE live id span [0, max doc_id]: ids are
        # append-assigned and never reused, so n_docs (the live COUNT) can
        # be far below the max id after update()+compact() cycles — sizing
        # by n_docs would funnel every recent doc into the open-ended last
        # shard and regress the batch to component-bound (r5 review). The
        # last shard's bound stays open so a generation appended between
        # the cache fill and this query is still covered (rank-safe either
        # way — spans only route rows, never skip them).
        max_id = max(self._max_live_doc_id() + 1, 1) if max(n_shards) > 1 else 1
        tasks: list[tuple[int, int | None, int | None, float]] = []
        for i, comp in enumerate(groups):
            s = n_shards[i]
            if s == 1:
                tasks.append((i, None, None, float(ests[id(comp)])))
                continue
            share = float(ests[id(comp)]) / s
            step = -(-max_id // s)
            for j in range(s):
                lo = j * step
                hi = (j + 1) * step if j < s - 1 else (1 << 62)
                tasks.append((i, lo, hi, share))
        tasks.sort(key=lambda t: -t[3])  # LPT over (group, shard) tasks
        n = len(tasks)
        keys = identity_partition_keys(n)
        members_by_key: dict[int, tuple[list[tuple[str, Query]], int | None, int | None]] = {}
        term_keys: dict[str, list[int]] = {}
        key_range: dict[int, tuple[int, int]] = {}
        for kidx, (gi, lo, hi, _share) in enumerate(tasks):
            kkey = keys[kidx]
            members_by_key[kkey] = (groups[gi], lo, hi)
            if lo is not None:
                key_range[kkey] = (lo, hi)
            for _qid, q in groups[gi]:
                for t in q.terms():
                    if t in df_map:
                        term_keys.setdefault(t, [])
                        if kkey not in term_keys[t]:
                            term_keys[t].append(kkey)
        terms = sorted(term_keys)
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        pruned = self.postings.filter(
            F.col("tb").isin(buckets) & F.col("term").isin(terms)
        )
        cols = [
            "term", "ids", "tfs", "dls", "block_firsts", "block_lasts",
            "block_lens", "ids_offs", "tfs_offs", "dls_offs", "block_max",
        ]
        case = (
            "CASE "
            + " ".join(
                "WHEN term = {} THEN array({})".format(
                    sql_quote(t), ", ".join(str(kk_) for kk_ in term_keys[t])
                )
                for t in terms
            )
            + " END"
        )
        src = pruned.select(*cols).withColumn("gk", F.explode(F.expr(case)))
        if key_range:
            # drop replicas whose whole row misses the shard's id range —
            # per-block masks inside evaluate_group re-check exactly
            lo_case = (
                "CASE "
                + " ".join(f"WHEN gk = {kk_} THEN {r[0]}L" for kk_, r in key_range.items())
                + " ELSE NULL END"
            )
            hi_case = (
                "CASE "
                + " ".join(f"WHEN gk = {kk_} THEN {r[1]}L" for kk_, r in key_range.items())
                + " ELSE NULL END"
            )
            src = src.filter(
                F.expr(
                    f"({lo_case}) IS NULL OR "
                    f"(array_max(block_lasts) >= ({lo_case}) "
                    f"AND array_min(block_firsts) < ({hi_case}))"
                )
            )
        # one unsharded task (a single query's usual plan): collapse the
        # tb/term-pruned scan into one partition instead — no exchange, so
        # no shuffle job ahead of the evaluation
        src = src.coalesce(1) if n == 1 else src.repartition(n, "gk")
        idf_terms, live_df, dead = terms, df_map, None
        if self.tombstones is not None:
            dead = self._dead_ids_np()
            idf_terms = sorted(
                {
                    t
                    for i, comp in enumerate(groups)
                    if n_shards[i] > 1
                    for _qid, q in comp
                    for t in q.terms()
                    if t in df_map
                }
            )
            if idf_terms:
                live_df = self._live_df_map(
                    pruned.filter(F.col("term").isin(idf_terms)),
                    {t: df_map[t] for t in idf_terms},
                )
        idf_map = {t: bm25_idf(self.n_docs, live_df[t]) for t in idf_terms}
        dfm = {t: df_map[t] for t in terms}
        avgdl, kk, n_docs, bounds_valid = self.avgdl, k, self.n_docs, self.wand_safe
        k1, b = BM25_K1, BM25_B
        mbk = members_by_key

        def eval_map(batches):
            rows_by_key: dict[int, dict[str, list]] = {}
            for pdf in batches:
                for r in pdf.itertuples():
                    rows_by_key.setdefault(r.gk, {}).setdefault(r.term, []).append(r)
            recs: list[tuple[str, int, float]] = []
            for gk, rows in rows_by_key.items():
                comp, lo, hi = mbk[gk]
                recs.extend(
                    evaluate_group(
                        comp, rows, dfm, idf_map, kk, avgdl, k1, b, lo, hi,
                        dead, bounds_valid, n_docs,
                    )
                )
            if recs:
                yield pd.DataFrame(
                    {
                        "query_id": pd.Series([r[0] for r in recs], dtype=object),
                        "doc_id": pd.Series([r[1] for r in recs], dtype=np.int64),
                        "score": pd.Series([r[2] for r in recs], dtype=np.float64),
                    }
                )

        self.last_group_eval = {
            "groups": len(groups),
            "members": sum(len(c) for c in groups),
            "terms": len(terms),
            "tasks": n,
            "sharded_groups": sum(1 for s in n_shards if s > 1),
        }
        out = src.mapInPandas(eval_map, "query_id string, doc_id long, score double")
        if key_range:
            # merge shard top-ks: tiny input (<= k rows per member-shard),
            # and Spark's InferWindowGroupLimit keeps it map-side partial
            from pyspark.sql import Window

            w = Window.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            out = (
                out.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= k)
                .select("query_id", "doc_id", "score")
            )
        return out

    def _max_live_doc_id(self) -> int:
        """Max doc id in the live dictionary (column-pruned aggregate, one
        KB-scale job, cached until ``refresh()``). -1 on an empty corpus."""
        if self._max_id_cache is None:
            r = self.doc_dict.agg(F.max("doc_id")).collect()[0][0]
            self._max_id_cache = -1 if r is None else int(r)
        return self._max_id_cache

    def _dead_ids_np(self) -> np.ndarray:
        if self._dead_cache is None:
            if self.tombstones is None:
                self._dead_cache = np.empty(0, dtype=np.int64)
            else:
                self._dead_cache = np.array(
                    sorted(int(r["doc_id"]) for r in self.tombstones.collect()),
                    dtype=np.int64,
                )
        return self._dead_cache

    def _live_df_map(self, pruned: DataFrame, df_map: dict[str, int]) -> dict[str, int]:
        """EXACT per-term df while tombstones exist. Stored df counts dead
        generations (update() never reads old postings — that is what makes
        it O(delta)), which drifts idf and can even flip it negative once a
        term's dead postings outnumber the live corpus (df > N ⇒ ln(<1)):
        scores go non-positive and the result gate empties. This pass
        decodes the PRUNED terms' id streams executor-side, counts dead
        hits per term (sorted searchsorted against the driver-pinned
        tombstone set), ships only (term, dead_count) rows back, and
        subtracts: live df = stored sum − dead hits. Runs ONLY in the
        transient tombstoned state — compact() restores the single-pass
        stored-df path — and ONLY for terms an executor task cannot count
        itself: pivot members and sharded group-eval groups (an unsharded
        group-eval task decodes each term whole and counts its live df in
        place). Makes every incremental state float64-exact against the
        live-corpus oracle, not merely rank-bounded."""
        dead = self._dead_ids_np()
        if dead.size == 0 or not df_map:
            return df_map
        _decode_postings, _dead_hits = decode_postings, dead_hits

        def count_dead(batches):
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                terms, counts = [], []
                for i in range(n):
                    ids, _tfs, _dls = _decode_postings(
                        pdf["ids"].iat[i], pdf["tfs"].iat[i], pdf["dls"].iat[i],
                        np.asarray(pdf["block_firsts"].iat[i], np.int64),
                        np.asarray(pdf["block_lens"].iat[i], np.int64),
                    )
                    n_dead = int(_dead_hits(dead, ids).sum()) if ids.size else 0
                    terms.append(pdf["term"].iat[i])
                    counts.append(n_dead)
                yield pd.DataFrame({"term": terms, "dead": counts})

        rows = (
            pruned.select("term", "ids", "tfs", "dls", "block_firsts", "block_lens")
            .mapInPandas(count_dead, "term string, dead long")
            .collect()
        )
        dead_by: dict[str, int] = {}
        for r in rows:
            dead_by[r["term"]] = dead_by.get(r["term"], 0) + int(r["dead"])
        return {t: d - dead_by.get(t, 0) for t, d in df_map.items()}

    # --------------------------------------------------------------------
    def _decode(self, pruned: DataFrame, greedy_k: int | None = None) -> DataFrame:
        """Arrow-batched posting decode; the inner loop is NumPy over blocks.
        Every block decodes, except that with ``greedy_k`` set (a max-fold
        with exact block maxes) each term decodes only its greedy top-k
        blocks, selected in the task: blocks are visited in descending
        block-max order and skipped once >= k docs with saturation >= the
        block's upper bound are known. Rank-safe under the max fold
        (SURVEY.md §4 O12), and no bytes go through the driver. Tombstoned
        ids leave by broadcast anti-join."""
        src = pruned.select(
            "term", "ids", "tfs", "dls", "block_firsts", "block_lens",
            "ids_offs", "tfs_offs", "dls_offs", "block_max",
        )
        k1, b, avgdl = BM25_K1, BM25_B, self.avgdl

        def decode_map(batches):
            for pdf in batches:
                frames = []
                for r in pdf.itertuples():  # one row per term — tiny row count
                    keep = None
                    if greedy_k is not None:
                        keep = _select_blocks_topk(r, greedy_k, k1, b, avgdl)
                        if keep.all():
                            keep = None  # full decode, skip the gather path
                    ids, tfs, dls = decode_postings(
                        r.ids, r.tfs, r.dls, r.block_firsts, r.block_lens,
                        keep, r.ids_offs, r.tfs_offs, r.dls_offs,
                    )
                    frames.append(
                        pd.DataFrame(
                            {
                                "term": np.repeat(r.term, ids.size),
                                "doc_id": ids,
                                "tf": tfs,
                                "dl": dls,
                            }
                        )
                    )
                if frames:
                    yield pd.concat(frames, ignore_index=True)

        out = src.mapInPandas(decode_map, "term string, doc_id long, tf long, dl long")
        if self.tombstones is not None:
            out = out.join(F.broadcast(self.tombstones), "doc_id", "left_anti")
        return out

    # --------------------------------------------------------------------
    def _score(self, decoded: DataFrame, df_map: dict[str, int]) -> tuple[DataFrame, dict[str, str]]:
        """Per-(doc, term) BM25 score (JVM-side, pinned float order identical
        to oracle.term_scores), then pivot to per-doc term-score columns via
        conditional aggregation — whole-stage codegen, no Python."""
        # SQL strings, not Column chains: idf injection + the per-term pivot
        # were ~8 py4j round-trips per term — the dominant share of the
        # batched path's driver plan constant (BENCH/QUERY_DECOMP.json).
        # CASE branches are mutually exclusive so branch order can't change
        # the selected idf literal; the arithmetic shape (idf * (tf / (tf +
        # k1*((1-b) + (b*dl)/avgdl)))) is char-for-char the pinned one.
        terms = sorted(df_map)
        idf_sql = (
            "CASE "
            + " ".join(
                f"WHEN term = {sql_quote(t)} THEN {dlit(bm25_idf(self.n_docs, df_map[t]))}"
                for t in terms
            )
            + " ELSE 0.0D END"
        )
        s_sql = (
            f"({idf_sql}) * (CAST(tf AS DOUBLE) / (CAST(tf AS DOUBLE) + "
            f"{dlit(BM25_K1)} * ({dlit(1.0 - BM25_B)} + "
            f"({dlit(BM25_B)} * CAST(dl AS DOUBLE)) / {dlit(self.avgdl)})))"
        )
        s = decoded.withColumn("s", F.expr(s_sql))
        term_col = {t: f"_s_{i}" for i, t in enumerate(terms)}
        aggs = [
            F.expr(
                f"coalesce(max(CASE WHEN term = {sql_quote(t)} THEN s END), 0.0D)"
            ).alias(term_col[t])
            for t in terms
        ]
        return s.groupBy("doc_id").agg(*aggs), term_col

    # --------------------------------------------------------------------
    def _finish(
        self,
        query: Query,
        scored: DataFrame | None,
        term_col: dict[str, str],
        pos_filters,
        k: int,
    ) -> DataFrame:
        # candidate union (M2, matching.rs:70-84): POSITIVE term postings ∪
        # positive filter lists. The pivot table also carries NOT-subtree
        # terms (needed by the fold), so restrict to docs matching at least
        # one positive term.
        pred = None
        if scored is not None:
            pos_cols = [
                term_col[t]
                for t in dict.fromkeys(query.positive_terms())
                if t in term_col
            ]
            for c in pos_cols:
                p = F.col(c) > F.lit(0.0)
                pred = p if pred is None else (pred | p)

        filter_sources = [
            (name, value) for name, value in pos_filters if name in self.doc_dict.columns
        ]
        if scored is not None and pred is not None and not filter_sources:
            # common case: candidates == positive-term pivot rows; keep the
            # pivot single-referenced (a self-join here would recompute the
            # whole scan+decode twice — visible as duplicate postings scans
            # in the physical plan)
            return self._rank(query, scored.filter(pred), term_col, k)

        cand = None
        if scored is not None and pred is not None:
            scored = self._track(scored)  # referenced twice below
            cand = scored.filter(pred).select("doc_id")
        for name, value in filter_sources:
            ids = self.doc_dict.filter(F.col(name) == F.lit(value)).select("doc_id")
            cand = ids if cand is None else cand.unionByName(ids)
        if cand is None:
            return self._empty_result()
        cand = cand.distinct()
        if scored is not None:
            cand = cand.join(scored, "doc_id", "left")
        return self._rank(query, cand, term_col, k)

    # --------------------------------------------------------------------
    def _rank(self, query: Query, cand: DataFrame, term_col: dict[str, str], k: int | None) -> DataFrame:
        """Fold + gate + global top-k + dictionary join over a candidate
        pivot table (doc_id + per-term score columns [+ meta columns])."""
        meta_names = _collect_filter_names(query.root)
        if meta_names:
            meta_cols = ["doc_id"] + [c for c in ("lang", "repo") if c in self.doc_dict.columns]
            cand = cand.join(self.doc_dict.select(*meta_cols), "doc_id", "left")

        term_cols = {t: f"coalesce({c}, 0.0D)" for t, c in term_col.items()}
        meta_exprs = {n: n for n in ("lang", "repo") if n in cand.columns}
        gate, score = compile_fold(query.root, term_cols, meta_exprs)
        topk = (
            cand.withColumn("score", F.expr(score))
            .filter(F.expr(gate))
            .select("doc_id", "score")
        )
        if k is not None:
            topk = topk.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return self._dict_join(topk, k)

    def _dict_join(
        self, topk: DataFrame, k: int | None, by: tuple[str, ...] = ()
    ) -> DataFrame:
        """Display fields for ranked winners, ordered by (``by``, score
        desc, doc_id asc). With a finite ``k`` the winners are at most k
        rows per query: they broadcast into the dictionary join (SURVEY §4
        O3/O5) and ONE task sorts the joined rows (sortWithinPartitions) —
        a global orderBy would range-partition those few rows, paying a
        sampling job and a shuffle job. That task is the join itself
        (coalesce(1)), so the dictionary scan runs serially. ``k=None``
        (every match, unbounded) keeps a regular join and the global
        sort."""
        if k is not None:
            topk = F.broadcast(topk)
        out = self.doc_dict.join(topk, "doc_id").select(
            *by, "doc_id", "score", "repo", "path", "commit", "lang"
        )
        order = [*by, F.desc("score"), F.asc("doc_id")]
        if k is None:
            return out.orderBy(*order)
        return out.coalesce(1).sortWithinPartitions(*order)


def _check_wand(wand: str) -> None:
    if wand not in ("auto", "off"):
        raise ValueError(f"wand must be 'auto' or 'off', not {wand!r}")


def _collect_filter_names(comp: QueryComp) -> set[str]:
    if isinstance(comp, Filter):
        return {comp.name}
    if isinstance(comp, Not):
        return _collect_filter_names(comp.comp)
    if isinstance(comp, NAmong):
        out: set[str] = set()
        for c in comp.among:
            out |= _collect_filter_names(c)
        return out
    return set()


# _select_blocks_topk / _nofm_cover_words live in group_eval.py (shared by
# the executor-side group evaluation) and are imported above under their
# historical names.
