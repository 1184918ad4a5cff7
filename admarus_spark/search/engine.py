"""Top-k BM25 query engine over a built index.

Query lifecycle (mirrors the reference's local search slice,
``/root/reference/daemon/src/api/local_search.rs:3-18`` →
``daemon/src/index/inner_im.rs:90-104``, re-expressed Spark-first —
SURVEY.md §4 physical plan). ``search`` is the one-member case of
``search_many``; both take the same two steps:

driver:  parse AST → bloom gate (M1, ``matching.rs:19-41``) → per-term
         bucket routing (term-hash partition pruning + per-bucket bloom)
         → df lookup → driver-only exits (an unindexed required word, an
         empty n-of-m cover, no positive indexed term and no positive
         metadata filter): such a member returns empty with no Spark job
stage A: scan postings WHERE tb IN (...) AND term IN (...)   [partition
         pruning + parquet predicate pushdown], plus — only when a member
         uses a metadata filter — the filter's live doc ids from the pinned
         dictionary, keyed ``name=value``
stage B-D: group-eval — one executor task per group of members (a
         connected component of queries sharing terms; a group over the
         per-task byte budget splits into doc-range shards) decodes the
         scanned blobs with local rank-safe block pruning, drops tombstoned
         ids, folds in NumPy (filters as membership tests) and emits the
         top-k, or every match for ``k=None`` (group_eval.py)
stage E: broadcast-join the k winners back to doc_dict for display fields;
         one task sorts them

Per-term idf is ``oracle.bm25_idf`` over the live df, so engine and oracle
share the exact same ln() bits (float-parity note in oracle.py). The driver
computes it from collected (term, df) rows; while tombstones are pending,
the stored df still counts dead generations, so a sharded group takes its
live df from one extra job (``_live_df_map``), and an unsharded task counts
the live df itself from the ids it decodes.
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
from ..oracle import META_COLUMNS, bm25_idf
from ..query.ast import Filter, NAmong, Not, Query, QueryComp, Word, required_words
from ..query.parser import parse_query
from .group_eval import (
    evaluate_group,
    filter_key,
    group_members,
    in_sorted,
    nofm_cover_words,
)


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
        # upsert). Dead ids are dropped from decoded postings in the task
        # BEFORE ranking and anti-joined out of the dictionary (so filter
        # ids, read from it, are live); block-max skipping is disabled
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
        # per-task memory budget of group-eval: a group (connected
        # component of queries sharing terms) splits into at least
        # ceil(estimated decoded bytes / budget) doc-range shards, so each
        # task decodes about this much at most. ~24 bytes per decoded
        # posting (3 int64 arrays).
        self.group_eval_max_bytes = int(
            os.environ.get("SPARK_GRAFT_GROUP_EVAL_MAX_BYTES", 1 << 30)
        )
        # the last call's group-eval plan (search or search_many); None
        # when no Spark evaluation ran
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
        """Release everything this engine pins: the doc_dict pin and the
        driver-side caches (dead ids, df cache, per-bucket blooms).
        Idempotent. A closed engine still answers queries, without the
        doc_dict pin and the df cache."""
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
            return 1 if filter_get(filt, filter_key(comp.name, comp.value)) else 0
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

    def _empty_result(self, by: tuple[str, ...] = ()) -> DataFrame:
        """The result columns with no rows. A zero limit plans as an empty
        local relation, so collecting it runs no Spark job (a DataFrame
        made from an empty Python list would run one)."""
        return self.doc_dict.select(
            *[F.lit("").alias(c) for c in by], "doc_id", F.lit(0.0).alias("score"),
            "repo", "path", "commit", "lang",
        ).limit(0)

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

    # --------------------------------------------------------------------
    def search(
        self, query: str | Query, k: int | None = 10, wand: str = "auto"
    ) -> DataFrame:
        """Top-k results: (doc_id, score, repo, path, commit, lang).

        ``search_many``'s one-member case: the same driver prep
        (``_prep``), then group-eval (``_search_many_groups``) — decode,
        tombstone drop, fold and top-k run next to the postings and k rows
        come back, for every query shape, on a clean or dirty index.
        ``last_group_eval`` records the plan (None when no Spark evaluation
        ran).

        ``wand``: ``"auto"`` (default) prunes wherever it is rank-safe;
        ``"off"`` decodes every term whole, the exactness baseline. Any
        other value raises ``ValueError``.

        ``k=None`` returns EVERY gated match ranked (no limit, no broadcast
        dictionary join) — the shape downstream group-bys aggregate directly
        instead of flowing through a huge top-k broadcast."""
        _check_wand(wand)
        self.last_group_eval = None
        members, df_map = self._prep({"": query})
        if not members:
            return self._empty_result()
        topk = self._search_many_groups(members, df_map, k, wand == "auto")
        return self._dict_join(topk.select("doc_id", "score"), k)

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
        self, queries: dict[str, str | Query], k: int | None = 10, wand: str = "auto"
    ) -> DataFrame:
        """Batched execution: MANY queries, per-query results identical to
        ``search`` (same floats, same order). Each connected component of
        members sharing terms becomes ONE identity-routed shuffle partition
        of posting blobs (plus the filter ids its members use), evaluated
        entirely executor-side (``group_eval.evaluate_group``: tombstone
        drop, local rank-safe block pruning, the oracle's NumPy fold, exact
        top-k) — k rows per query come back.

        ``last_group_eval`` describes the batch's plan (None when no member
        reached Spark). Returns (query_id, doc_id, score, repo, path,
        commit, lang), top-k per query by (score desc, doc_id asc).
        """
        # Phase timings for the scaling decomposition (BENCH/BASELINE.md):
        # prep = parse + bloom gates + df lookup; plan = plan construction
        # after that. Both DRIVER-side constants — the distributed job
        # itself is timed by the caller.
        _check_wand(wand)
        t_start = time.time()
        self.last_batch_timings = {"prep_sec": 0.0, "plan_sec": 0.0}
        self.last_group_eval = None
        members, df_map = self._prep(queries)
        self.last_batch_timings["prep_sec"] = time.time() - t_start
        if not members:
            return self._empty_result(by=("query_id",))
        topk = self._search_many_groups(members, df_map, k, wand == "auto")
        result = self._dict_join(topk, k, by=("query_id",))
        self.last_batch_timings["plan_sec"] = (
            time.time() - t_start - self.last_batch_timings["prep_sec"]
        )
        return result

    # --------------------------------------------------------------------
    def _prep(
        self, queries: dict[str, str | Query]
    ) -> tuple[dict[str, Query], dict[str, int]]:
        """Driver prep shared by ``search`` and ``search_many``: parse,
        global bloom gate, per-bucket blooms and the df lookup (the df
        cache, or one tb/term-pruned collect). Returns the members that
        can match anything, with the stored df of their indexed terms.
        Three driver-only exits drop a member before any Spark job, each
        exact: a required word is unindexed; an n-of-m query has fewer than
        n children indexed; no positive term is indexed and no positive
        filter names a metadata column (``oracle.META_COLUMNS``) — the
        member has no candidate."""
        parsed: dict[str, Query] = {}
        for qid, q in queries.items():
            q = parse_query(q) if isinstance(q, str) else q
            # driver-side bloom short-circuit (inner_im.rs:91-94)
            if self._bloom_match_score(q.root, self.global_bloom):
                parsed[qid] = q
        terms = list(dict.fromkeys(t for q in parsed.values() for t in q.terms()))
        self._ensure_bucket_blooms({term_bucket(t, self.n_buckets) for t in terms})
        scan_terms = []
        for t in terms:
            bloom = self.bucket_blooms.get(term_bucket(t, self.n_buckets))
            if bloom is not None and filter_get(bloom, t):
                scan_terms.append(t)
        df_map: dict[str, int] = {}
        if scan_terms and self.df_cache is not None:
            df_map = {t: self.df_cache[t] for t in scan_terms if t in self.df_cache}
        elif scan_terms:
            buckets = sorted({term_bucket(t, self.n_buckets) for t in scan_terms})
            df_map = _sum_df(
                self.postings.filter(
                    F.col("tb").isin(buckets) & F.col("term").isin(scan_terms)
                ).select("term", "df").collect()
            )
        members: dict[str, Query] = {}
        for qid, q in parsed.items():
            req = required_words(q.root)
            if req - set(df_map):
                continue
            if not req and nofm_cover_words(q.root, df_map) == []:
                continue
            if not any(t in df_map for t in q.positive_terms()) and not any(
                n in META_COLUMNS for n, _v in q.positive_filters()
            ):
                continue
            members[qid] = q
        return members, df_map

    def _search_many_groups(
        self,
        members: dict[str, Query],
        df_map: dict[str, int],
        k: int | None,
        prune: bool,
    ) -> DataFrame:
        """Executor-side evaluation, the engine's one route: ONE
        tb/term-pruned scan of the member terms' posting blobs,
        identity-routed so each group's blobs land whole and alone in their
        shuffle partition (same trick as the build's raw-tf exchange,
        murmur.identity_partition_keys — no sampling pass, no balls-in-bins
        collision), then one Arrow-batched pass evaluates every member
        locally (group_eval.evaluate_group: rank-safe block pruning with
        zero driver bytes unless ``prune`` is False, the oracle's NumPy
        fold, exact top-k) and emits k rows per member (every match for
        ``k=None``). Driver cost is one plan — no θ probes, no blob
        fetches.

        Groups are connected components of members sharing indexed terms
        (``group_members``); filters do not join components. Partition
        order IS launch order in Spark's scheduler, so tasks are keyed
        largest-estimated-first (LPT): with G skewed groups over C cores,
        an unlucky order that launches the biggest group last inflates the
        makespan by up to its whole runtime — measured 40-query ladder
        batches carry a 10× est spread across 17 components.

        **Metadata filters.** Only when a member uses a ``name=value``
        filter on a metadata column: the filter's live doc ids (from the
        pinned, tombstone-free dictionary, collected into one array per
        filter) are unioned into the same source under
        ``filter_key(name, value)``, routed to every task whose members use
        it and clipped to each shard's range. Postings-only batches keep the
        plain postings plan.

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
        ``auto`` (default; at most one shard per core), ``off``, or a
        forced per-group shard count. Whatever the mode, a group gets at
        least ``ceil(est * 24 / group_eval_max_bytes)`` shards, so each
        task decodes within the per-task byte budget.

        **Dirty index.** ``df_map`` is the stored df. With tombstones
        pending, the driver-pinned dead ids (``_dead_ids_np``) ship into
        the tasks, which drop them from every decode; an unsharded group
        then counts each term's live df from its surviving ids and computes
        idf itself, while a sharded group — which sees only part of each
        posting list — gets its live df from the driver (``_live_df_map``).
        ``wand_safe`` ships too: stale block maxes turn the greedy off."""
        groups = [
            [(qid, members[qid]) for qid in comp]
            for comp in group_members(members, df_map)
        ]

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
            # replication + task launch — must stay amortized)
            target = max(total_est / max(ncores, 1), float(min_rows))
            n_shards = [
                min(max(1, -(-ests[id(c)] // int(target))), ncores) for c in groups
            ]
        budget = max(self.group_eval_max_bytes, 1)
        n_shards = [
            max(s, -(-ests[id(c)] * 24 // budget)) for s, c in zip(n_shards, groups)
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
        filter_keys: dict[tuple[str, str], list[int]] = {}
        key_range: dict[int, tuple[int, int]] = {}
        for kidx, (gi, lo, hi, _share) in enumerate(tasks):
            kkey = keys[kidx]
            members_by_key[kkey] = (groups[gi], lo, hi)
            if lo is not None:
                key_range[kkey] = (lo, hi)
            for _qid, q in groups[gi]:
                for t in q.terms():
                    if t in df_map and kkey not in term_keys.setdefault(t, []):
                        term_keys[t].append(kkey)
                for nv in q.filters():
                    if nv[0] in META_COLUMNS and kkey not in filter_keys.setdefault(nv, []):
                        filter_keys[nv].append(kkey)
        # each task key's shard bounds, for dropping replicas whose whole
        # row misses the shard's id range — per-block masks inside
        # evaluate_group re-check exactly
        lo_case = hi_case = None
        if key_range:
            lo_case, hi_case = (
                "CASE "
                + " ".join(f"WHEN gk = {kk_} THEN {r[i]}L" for kk_, r in key_range.items())
                + " ELSE NULL END"
                for i in (0, 1)
            )
        terms = sorted(term_keys)
        pruned = src = None
        if terms:
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
                src = src.filter(
                    F.expr(
                        f"({lo_case}) IS NULL OR "
                        f"(array_max(block_lasts) >= ({lo_case}) "
                        f"AND array_min(block_firsts) < ({hi_case}))"
                    )
                )
        if filter_keys:
            # one row per (filter, task): the filter's live doc ids as one
            # array (aggregated over one partition — no exchange), clipped
            # to the task's shard range
            fsrc = None
            for (name, value), gks in filter_keys.items():
                part = (
                    self.doc_dict.where(F.col(name) == value)
                    .coalesce(1)
                    .agg(F.collect_list("doc_id").alias("fids"))
                    .select(
                        F.lit(filter_key(name, value)).alias("term"),
                        "fids",
                        F.explode(F.array(*[F.lit(g) for g in gks])).alias("gk"),
                    )
                )
                fsrc = part if fsrc is None else fsrc.unionByName(part)
            if key_range:
                fsrc = fsrc.withColumn(
                    "fids",
                    F.expr(
                        f"filter(fids, x -> ({lo_case}) IS NULL OR "
                        f"(x >= ({lo_case}) AND x < ({hi_case})))"
                    ),
                )
            src = fsrc if src is None else src.unionByName(fsrc, allowMissingColumns=True)
        # one unsharded task (a single query's usual plan): collapse the
        # scan into one partition instead — no exchange, so no shuffle job
        # ahead of the evaluation
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
        has_filters = bool(filter_keys)

        def eval_map(batches):
            rows_by_key: dict[int, dict[str, list]] = {}
            fids_by_key: dict[int, dict[str, np.ndarray]] = {}
            for pdf in batches:
                for r in pdf.itertuples():
                    if has_filters and r.fids is not None:
                        fids_by_key.setdefault(r.gk, {})[r.term] = np.asarray(r.fids, np.int64)
                    else:
                        rows_by_key.setdefault(r.gk, {}).setdefault(r.term, []).append(r)
            recs: list[tuple[str, int, float]] = []
            for gk in rows_by_key.keys() | fids_by_key.keys():
                comp, lo, hi = mbk[gk]
                recs.extend(
                    evaluate_group(
                        comp, rows_by_key.get(gk, {}), dfm, idf_map, kk, avgdl, k1, b,
                        lo, hi, dead, bounds_valid, n_docs, fids_by_key.get(gk), prune,
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
            "filters": len(filter_keys),
            "tasks": n,
            "sharded_groups": sum(1 for s in n_shards if s > 1),
        }
        out = src.mapInPandas(eval_map, "query_id string, doc_id long, score double")
        if key_range and k is not None:
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
        itself: sharded group-eval groups (an unsharded group-eval task
        decodes each term whole and counts its live df in place). Makes every incremental state float64-exact against the
        live-corpus oracle, not merely rank-bounded."""
        dead = self._dead_ids_np()
        if dead.size == 0 or not df_map:
            return df_map
        _decode_postings, _in_sorted = decode_postings, in_sorted

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
                    n_dead = int(_in_sorted(dead, ids).sum())
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


def sql_quote(v: str) -> str:
    """Single-quoted SQL string literal (quotes doubled, backslashes escaped
    — Spark's parser treats backslash as an escape inside string literals)."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
