"""Incremental index maintenance (the batch/streaming analog of the
reference's 100-second re-crawl loop).

The reference re-crawls periodically, dedups against its ``listed`` /
``loaded`` sets and upserts new documents into the in-memory index
(``/root/reference/daemon/src/index/index.rs:36-131``, dedup at
``:37-38,68-75,99-100``). Our batch analog:

- ``IncrementalIndexer.update(delta)`` dedups the incoming rows against the
  LIVE ``doc_dict`` on (repo, path): unchanged paths are skipped; a path
  whose ``content_sha256`` changed is re-indexed as a NEW document (the
  reference keys documents by CID, so changed content IS a new document —
  ``index.rs:68-75``) and the stale doc id is appended to a ``tombstones``
  table. The engine drops tombstoned ids from decoded postings before
  ranking and anti-joins them out of the dictionary, and disables
  block-max skipping (bounds may count dead docs). Stored per-term ``df``
  keeps counting dead docs until compaction, but scoring stays EXACT: the
  engine uses each query term's LIVE df, so idf matches the live corpus
  float64-exactly in every incremental state — no Lucene-style rank drift
  window. A group-eval task (``search/group_eval.py``) that sees a term's
  whole posting list counts the live df from the ids that survive the
  tombstone drop; doc-range-sharded group-eval subtracts the
  dead postings from the stored df with one bounded extra pass over the
  pruned terms (``engine._live_df_map``). Both run only while tombstones
  exist.
- New docs get doc ids ``max_id + 1 ...`` in lexicographic (repo, path)
  order *within the delta* — arrival-order semantics, exactly the
  reference's ``LocalCid`` counter behavior across refresh rounds.
- New postings are encoded as self-contained blocks and APPENDED as a new
  GENERATION: fresh parquet files land inside the existing ``tb``
  partitions and no old bucket is read or rewritten — update cost is
  O(delta), never O(index). A term updated n times simply has n+1 posting
  rows; readers concatenate them (generations hold disjoint doc ids, new
  strictly greater than old), per-term ``df`` is the sum over rows, and
  driver-side BMW masks bail to the rank-safe per-row greedy on multi-row
  terms. ``compact()`` folds generations back to one row per term. Each
  append records its id range in the ``generations`` marker BEFORE any
  posting file lands, so a crash between the postings append and the
  doc_dict append is recovered on the next update(): the orphan id range
  is tombstoned (rank-safe — the engine anti-joins tombstones everywhere)
  and id assignment resumes above it; a re-run can never duplicate
  postings, and ``compact()`` purges the orphans physically.
- Stats are kept as O(delta) running totals; ``bm_avgdl`` keeps the value
  the block-max bounds were computed with, so the engine disables
  block-skipping when the bounds went stale (rank-safety) — ``compact()``
  or a full rebuild re-tightens them.

``foreach_batch_handler`` adapts ``update`` to Structured Streaming's
``foreachBatch`` for a ``readStream`` source of document rows.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import BLOCK_SIZE
from ..index.build import (
    POSTINGS_SCHEMA,
    IndexBuilder,
    IndexPaths,
    _tokenize_tf_map,
    check_layout,
    heal_swap as _heal_swap,
    max_tuple_dedup as _max_tuple_dedup,
    sort_encode_runs,
    swap_dir as _swap_dir,
    terms_bloom_of as _terms_bloom_of,
    write_swap as _write_swap,
)


@dataclass
class IncrementalIndexer:
    spark: SparkSession
    index_dir: str
    block_size: int = BLOCK_SIZE
    # deltas above this row count take the distributed range-partition id
    # assignment instead of the broadcast single-partition rank
    broadcast_delta_max: int = 100_000
    # when set, update() triggers compact() once tombstones exceed this
    # fraction of the live corpus — bounds the WAND-disabled window and the
    # df drift of a long-running incremental deployment
    auto_compact_frac: float | None = None
    # when set, update() triggers compact() once this many generational
    # appends are pending (the `generations` marker line count) — bounds
    # posting-list fragmentation for new-docs-only crawl loops, whose
    # updates never tombstone anything and so never trip the fraction
    # trigger above. An un-compacted term costs one posting row per
    # generation at read time (readers concatenate), so the read
    # amplification is exactly the pending-generation count.
    auto_compact_gens: int | None = None
    # per-row invariant (same as IndexBuilder.validate_sha): when the delta
    # arrives WITH a content_sha256 column, rows whose hash does not match
    # the content are excluded (a wrong sha would otherwise poison the
    # change detector — a stale sha masks new content as "unchanged", a
    # junk sha corrupts every later delta of that path). Computed-sha
    # deltas (no column) are trusted by construction.
    validate_sha: bool = True

    def update(self, delta: DataFrame, input_token: str = "delta") -> dict:
        """Public entry: runs the pinned body under try/finally so any
        exception between a persist and its unpersist cannot leak cached
        blocks for the session's lifetime (r5 ADVICE). unpersist is
        idempotent, so frames the body already released are no-ops here."""
        pins: list[DataFrame] = []
        try:
            return self._update_pinned(delta, input_token, pins)
        finally:
            for _df in pins:
                try:
                    _df.unpersist()
                except Exception:
                    pass

    def _update_pinned(
        self, delta: DataFrame, input_token: str, pins: list[DataFrame]
    ) -> dict:
        spark = self.spark
        paths = IndexPaths(self.index_dir)
        _heal_swap(paths.postings)
        _heal_swap(paths.doc_dict)
        _heal_swap(paths.stats)
        _heal_swap(paths.summaries)
        t0 = time.time()
        # layout check BEFORE any write; the stored meta bloom is read here
        # too (summaries stay untouched until the swap at the end)
        stored_summ = spark.read.parquet(paths.summaries)
        rollup = {
            r["kind"]: np.frombuffer(r["filter"], dtype=np.uint8)
            for r in stored_summ.filter(F.col("kind").isin("meta", "global")).collect()
        }
        stats = spark.read.parquet(paths.stats).collect()[0]
        n_buckets = check_layout(
            self.index_dir, spark.read.parquet(paths.postings), rollup, stats
        )
        dd = spark.read.parquet(paths.doc_dict)
        max_id = dd.agg(F.max("doc_id")).collect()[0][0]
        max_id = -1 if max_id is None else int(max_id)

        n_invalid_delta = 0
        if "content_sha256" not in delta.columns:
            delta = delta.withColumn("content_sha256", F.sha2(F.col("content"), 256))
            n_delta = delta.count()
        else:
            n_delta = delta.count()
            if self.validate_sha:
                # build-parity sha gate on the incremental path: the stored
                # sha doubles as the change detector AND the dedup ordering
                # key, so an unvalidated wrong sha silently mis-routes the
                # row (see field docstring)
                delta = delta.filter(
                    F.sha2(F.col("content"), 256) == F.col("content_sha256")
                )
                n_invalid_delta = n_delta - int(delta.count())
        # Within-delta dedup: a crawl batch may carry the same (repo, path)
        # twice (two versions observed in one tick). Without this, both
        # copies pass the live-corpus anti-join, the manifest assigns each
        # copy its own doc_id and the id join fans out 2×2 — duplicated
        # postings, double-counted df, and two live dictionary rows for one
        # path; a twice-changed path would also tombstone its old id twice
        # and double-subtract its length from the running stats (r5 review).
        # One deterministic winner per path: the row with the greatest
        # (content_sha256, other columns) — a batch has no arrival order,
        # any pinned total order works, and re-runs pick the same winner.
        # The rule lives in index.build.max_tuple_dedup, SHARED with the
        # full build's duplicate-input dedup so the two paths can never pick
        # different winners for the same dirty rows. persist(): the deduped
        # delta feeds several independent materializations (the new/changed
        # joins, the tokenize pass) — without the pin each re-runs the
        # upstream sha2 validation filter over the delta's content.
        delta = _max_tuple_dedup(delta).persist()
        pins.append(delta)
        # LIVE view of the corpus: doc_dict minus tombstoned ids (a changed
        # path's previous generation). Dead ids are PINNED driver-side (the
        # set is small by design — a full rebuild compacts it): every later
        # lazy recomputation of the delta joins then sees one consistent
        # snapshot, regardless of when this update's own tombstones land.
        tomb_path = os.path.join(self.index_dir, "tombstones")
        dead_prev: list[int] = []
        if os.path.exists(tomb_path):
            dead_prev = [int(r["doc_id"]) for r in spark.read.parquet(tomb_path).collect()]
        # CRASH RECOVERY: the `generations` marker records each append's id
        # range BEFORE its postings land. If a previous update() died after
        # appending postings but before its doc_dict append, those ids are
        # orphans — present in posting blobs, absent from the dictionary. A
        # naive re-run would read the same max_id and append the SAME ids
        # again (duplicate postings, double-counted df). Instead: tombstone
        # the orphan range (the engine already anti-joins tombstones out of
        # every decode and disables block skipping — rank-safe, and k never
        # shrinks at the dictionary join), resume id assignment ABOVE it,
        # and let compact() purge the orphan rows physically. A marker line
        # whose postings never landed (crash between marker write and the
        # append) tombstones ids no posting carries — a no-op.
        gen_path = os.path.join(self.index_dir, "generations")
        marker_max = _marker_max_id(gen_path)
        orphan_recovery = marker_max > max_id
        if orphan_recovery:
            dead_set = set(dead_prev)
            orphans = [
                i for i in range(max_id + 1, marker_max + 1) if i not in dead_set
            ]
            if orphans:
                (
                    spark.createDataFrame([(i,) for i in orphans], "doc_id long")
                    .coalesce(1)
                    .write.mode("append")
                    .parquet(tomb_path)
                )
                dead_prev.extend(orphans)
            max_id = marker_max
        live = dd
        if dead_prev:
            dead_df = spark.createDataFrame([(i,) for i in dead_prev], "doc_id long")
            live = dd.join(F.broadcast(dead_df), "doc_id", "left_anti")
        # dedup against the live corpus on (repo, path) — index.rs:99-100
        new_paths = delta.join(live.select("repo", "path"), ["repo", "path"], "left_anti")
        # changed content on an existing path -> re-index as a NEW document
        # (reference: new CID, index.rs:68-75); tombstone the old id
        prev = live.select(
            "repo", "path",
            F.col("content_sha256").alias("_old_sha"),
            F.col("doc_id").alias("_old_id"),
            F.col("doc_len").alias("_old_len"),
        )
        changed = delta.join(prev, ["repo", "path"]).filter(
            F.col("content_sha256") != F.col("_old_sha")
        )
        # the replaced generations' ids + lengths, pinned driver-side (small:
        # bounded by the delta row count). The lengths feed the O(delta)
        # running-totals stats update below.
        changed_rows = changed.select("_old_id", "_old_len").collect()
        changed_ids = sorted(int(r["_old_id"]) for r in changed_rows)
        changed_len = sum(int(r["_old_len"] or 0) for r in changed_rows)
        n_changed = len(changed_ids)
        fresh = new_paths.unionByName(changed.select(*delta.columns))
        # arrival-order ids: lexicographic within the delta, appended after
        # max_id. Small deltas take a broadcast single-partition rank; above
        # the threshold (a backfill-sized re-ingest) the SAME range-partition
        # + per-partition-offset machinery as stage 1 assigns ids fully
        # distributed (VERDICT r2: the unpartitioned Window funnelled the
        # whole delta through one task) — both paths produce identical ids.
        n_new = fresh.count()
        manifest_persist = None
        if n_new <= self.broadcast_delta_max:
            manifest = fresh.select("repo", "path").withColumn(
                "doc_id",
                (F.lit(max_id + 1) + F.row_number().over(Window.orderBy("repo", "path")) - 1).cast("long"),
            )
            with_ids = fresh.join(F.broadcast(manifest), ["repo", "path"])
        else:
            from ..index.build import assign_range_ids

            parallelism = spark.sparkContext.defaultParallelism
            n_parts = max(1, min(parallelism, max(1, n_new // 50)))
            manifest, manifest_persist, _, _ = assign_range_ids(
                fresh, n_parts, base=max_id + 1
            )
            pins.append(manifest_persist)
            with_ids = fresh.join(manifest, ["repo", "path"])
        if n_new == 0:
            delta.unpersist()
            # rows_invalid_sha present even here (r5 review): a delta
            # rejected WHOLESALE (all rows invalid or all unchanged) is
            # exactly when a caller monitoring the metric needs it
            return {
                "rows_in": n_delta, "rows_invalid_sha": int(n_invalid_delta),
                "rows_new": 0, "rows_changed": 0,
                "seconds": time.time() - t0,
            }

        # Tombstone the replaced generations FIRST (ADVICE r2): if the update
        # dies between here and the doc_dict append, the interim state is
        # "changed doc temporarily missing" — re-running the update restores
        # it. The old order (append new generation, then tombstone) could
        # leave BOTH generations live with no marker: silent duplicates.
        if n_changed:
            (
                spark.createDataFrame([(i,) for i in changed_ids], "doc_id long")
                .coalesce(1)
                .write.mode("append")
                .parquet(tomb_path)
            )

        from ..index.build import MARKER_TERM, TF_SCHEMA

        # persisted: tokenizing the delta is the dominant per-update cost and
        # tf_all has TWO consumers with separate materializations (new_posts
        # via the affected collect, doc_len via the stats sum) — without the
        # cache each re-runs the full tokenize pass over the delta content
        tf_all = with_ids.select("doc_id", "content").mapInPandas(
            _tokenize_tf_map, TF_SCHEMA
        ).persist()
        pins.append(tf_all)

        tf = tf_all.filter(F.col("term") != MARKER_TERM)
        bm_avgdl = float(stats["bm_avgdl"])
        block_size = self.block_size
        # encode the delta's postings with ONE whole-partition pass per
        # term-bucket group (the kernel of the full build's stage 2) — a
        # per-TERM applyInPandas would pay Spark/Arrow group overhead x
        # |delta vocabulary| (the anti-pattern the r3 batched codec removed
        # from the full build)
        def encode_delta(batches):
            pdfs = list(batches)
            if not pdfs:
                return
            terms_col = np.concatenate([p["term"].to_numpy() for p in pdfs])
            if terms_col.size == 0:
                return
            ids = np.concatenate([p["doc_id"].to_numpy(np.int64) for p in pdfs])
            meta = np.concatenate([p["meta"].to_numpy(np.int64) for p in pdfs])
            tbs = np.concatenate([p["tb"].to_numpy(np.int64) for p in pdfs])
            codes, uniq = pd.factorize(terms_col, sort=False)
            codes = codes.astype(np.int64)
            order, starts, cols = sort_encode_runs(
                codes, ids, meta, block_size, bm_avgdl
            )
            run = order[starts]
            yield pd.DataFrame(
                {
                    "term": np.asarray(uniq, dtype=object)[codes[run]],
                    "df": cols["df"],
                    "ids": cols["ids"],
                    "tfs": cols["tfs"],
                    "dls": cols["dls"],
                    "block_firsts": cols["block_firsts"],
                    "block_lasts": cols["block_lasts"],
                    "block_lens": cols["block_lens"],
                    "ids_offs": cols["ids_offs"],
                    "tfs_offs": cols["tfs_offs"],
                    "dls_offs": cols["dls_offs"],
                    "block_max": cols["block_max"],
                    "tb": tbs[run].astype(np.int32),
                }
            )

        parallelism = spark.sparkContext.defaultParallelism
        new_posts = (
            tf.withColumn("tb", F.pmod(F.hash(F.col("term")), F.lit(n_buckets)).cast("int"))
            .repartition(max(1, min(parallelism, n_buckets)), "tb")
            .mapInPandas(encode_delta, POSTINGS_SCHEMA + ", tb int")
            .persist()  # consumed twice: affected-bucket collect + the merge
        )
        pins.append(new_posts)

        # GENERATIONAL APPEND (r5): the delta's encoded postings are written
        # as NEW parquet files inside the existing tb partitions — no old
        # bucket is read, merged or rewritten. A realistic-vocabulary delta
        # touches essentially EVERY bucket (its vocabulary hashes uniformly),
        # so the former read-merge-overwrite made update cost O(index), not
        # O(delta) — at 100 TB that is a full-index rewrite per crawl tick.
        # A term updated n times since the last compaction simply has n+1
        # rows (generations) in its bucket; every reader handles that:
        # decode paths concatenate per-term rows (generations hold disjoint
        # doc ids, new > old), df is summed per term (engine._sum_df), and
        # block pruning works per row (group_eval: one keep mask per
        # generation). compact() folds generations back to one row per
        # term and re-tightens the bounds.
        affected = sorted(
            r["tb"] for r in new_posts.select("tb").distinct().collect()
        )
        # intent marker FIRST (see crash recovery above): one TSV line
        # `token \t first_id \t last_id` per append, written before any
        # posting file lands so a crash can never leave unrecorded orphan
        # ids. Doubles as the generations-pending flag compact() triggers on
        # even when no tombstone exists (a new-docs-only append still
        # fragments posting lists). Written even when the delta produced NO
        # postings (every doc tokenized to nothing): the stats write below
        # still counts those docs, so a crash before the doc_dict append
        # must remain detectable — the marker is what makes the rerun take
        # the orphan-recovery recompute instead of double-counting them.
        # heal a torn final line BEFORE appending (r5 review): 'a'-mode would
        # concatenate the new marker onto the torn fragment, garbling BOTH —
        # losing this run's id range AND turning a tolerated torn-final line
        # into a loud mid-file corruption error on every later read. The
        # fragment is safe to discard: its postings never landed (they are
        # written only after the fsync below succeeds).
        _heal_marker_tail(gen_path)
        with open(gen_path, "a") as f:
            f.write(f"{input_token}\t{max_id + 1}\t{max_id + int(n_new)}\n")
            # fsync BEFORE the postings land: the 'marker before postings'
            # crash ordering must hold across power loss, not just process
            # death — an unsynced marker line can be lost while the parquet
            # commit below survives, leaving unrecorded orphan ids
            f.flush()
            os.fsync(f.fileno())
        # ...and fsync the DIRECTORY entry: on the first-ever update the
        # marker file itself was just created, and file-data fsync does not
        # make the dirent durable — power loss could drop the whole file
        # while the postings parquet survives (the exact unrecorded-orphan
        # hole the marker exists to close)
        dfd = os.open(self.index_dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        if affected:
            (
                new_posts.write.mode("append")
                .partitionBy("tb")
                .parquet(paths.postings)
            )
        # else: postings untouched; the docs still enter doc_dict below with
        # doc_len 0 (their marker rows), exactly like zero-token docs in a
        # full build.

        # Per-bucket blooms of the DELTA's terms, collected NOW — before the
        # doc_dict append below: new_posts' lineage anti-joins doc_dict, and
        # Spark's recacheByPath would re-materialize the persisted plan
        # against the post-append table (the delta rows then dedup against
        # THEMSELVES and the recompute is empty). Driver traffic is bounded:
        # |affected| × FILTER_BITS/8 (125 KB) rows.
        delta_summ = (
            new_posts.select("tb", "term")
            .groupBy("tb")
            .applyInPandas(_terms_bloom_of, "tb int, kind string, filter binary")
            .collect()
        )
        new_posts.unpersist()

        # doc lengths from the tokenize marker rows (no groupBy; zero-token
        # docs carry dl=0 markers). Persisted: consumed by the stats sum
        # below AND the doc_dict append join at the end — and the persist
        # pins the rows against the post-append recacheByPath (the lineage
        # reads doc_dict, so a re-evaluation after the append would dedup
        # the delta against itself and come back empty).
        doc_len = tf_all.filter(F.col("term") == MARKER_TERM).select(
            "doc_id", F.col("meta").cast("int").alias("doc_len")  # marker meta == dl
        ).persist()
        pins.append(doc_len)
        delta_len = int(doc_len.agg(F.sum("doc_len")).collect()[0][0] or 0)
        tf_all.unpersist()  # both consumers materialized (doc_len has its own pin)

        # stats: RUNNING totals — previous live (n_docs, total_tokens) plus
        # the delta's doc lengths minus the replaced generations' lengths
        # (collected above with the tombstone ids). O(delta) instead of a
        # full doc_dict aggregate per update (VERDICT r4 #3). The running
        # formula is sound ONLY while "the previous stats row excludes every
        # tombstone on disk": a crash between a tombstone append and its
        # stats write breaks that silently — the rerun sees the changed
        # paths as brand-new (their old ids are dead, so they dedup out of
        # `live`) and n_changed no longer re-subtracts the dead lengths. The
        # stats row therefore records n_dead_acc = how many DISTINCT dead
        # ids its totals exclude; a mismatch with the tombstones actually on
        # disk forces this one update onto the exact recompute path (r5
        # review #1). bm_avgdl is unchanged (block-max staleness marker).
        # orphan_recovery: the crashed update wrote its marker (and
        # possibly postings) but died before its stats write — the same
        # invariant break, detected by the marker instead of the tombstone
        # count
        n_dead_seen = len(set(dead_prev))
        if int(stats["n_dead_acc"]) == n_dead_seen and not orphan_recovery:
            n_docs = int(stats["n_docs"]) + int(n_new) - n_changed
            total_tokens = int(stats["total_tokens"]) + delta_len - changed_len
            stats_mode = "running"
        else:
            # exact rebase: aggregate the pre-update LIVE corpus (doc_dict
            # minus every dead id incl. this run's orphans — `live` already
            # is exactly that), then apply this update's delta driver-side
            agg = live.agg(
                F.count("*").alias("n"), F.sum("doc_len").alias("tt")
            ).collect()[0]
            n_docs = int(agg["n"]) - n_changed + int(n_new)
            total_tokens = int(agg["tt"] or 0) - changed_len + delta_len
            stats_mode = "recompute"
        stats_pdf = pd.DataFrame(
            [
                {
                    "n_docs": n_docs,
                    "total_tokens": total_tokens,
                    "avgdl": float(total_tokens) / float(n_docs) if n_docs else 0.0,
                    "bm_avgdl": bm_avgdl,
                    "n_invalid_sha": int(stats["n_invalid_sha"]),
                    "n_dead_acc": n_dead_seen + n_changed,
                }
            ]
        )
        _write_swap(spark.createDataFrame(stats_pdf), paths.stats)

        # refresh summaries for affected buckets: O(delta) OR-merge — the
        # stored per-bucket bloom already covers every pre-existing term and
        # update() only ADDS terms, so OR-ing in the delta-term blooms
        # (collected above) is EXACT (inserting a word into a bloom IS
        # bit-OR of its pattern; only compact()/rebuild remove terms, and
        # they recompute). The former recompute scanned the term column of
        # every affected bucket — O(index vocabulary) per update once a
        # realistic delta touches all buckets.
        old_aff = {
            int(r["tb"]): np.frombuffer(r["filter"], dtype=np.uint8)
            for r in stored_summ.filter(
                (F.col("kind") == "terms") & F.col("tb").isin(affected)
            ).collect()
        }
        merged_rows = []
        for r in delta_summ:
            acc = np.frombuffer(r["filter"], dtype=np.uint8).copy()
            prev = old_aff.get(int(r["tb"]))
            if prev is not None:
                acc |= prev
            merged_rows.append((int(r["tb"]), "terms", acc.tobytes()))
        fresh_summ = spark.createDataFrame(
            merged_rows, "tb int, kind string, filter binary"
        ) if merged_rows else spark.createDataFrame([], "tb int, kind string, filter binary")
        old_terms = stored_summ.filter(
            (F.col("kind") == "terms") & ~F.col("tb").isin(affected)
        )
        terms_all = old_terms.unionByName(fresh_summ).persist()
        pins.append(terms_all)
        # meta bloom: INCREMENTAL OR — fold only the DELTA's name=value words
        # into a partial bloom and bit-OR it with the stored meta row, so a
        # 1k-row update costs O(delta), not a full doc_dict scan (VERDICT r3
        # #5). Bit-OR is exact for bloom insertion (inserting a word IS
        # OR-ing its bit pattern), and removals never shrink the filter —
        # blooms are a pruning gate, so a superset is rank-safe; compact()
        # and full rebuilds re-tighten it.
        from ..index.build import bloom_rollup_rows, meta_bloom_bytes

        delta_dd = with_ids.select(
            *[c for c in ("lang", "repo") if c in with_ids.columns]
        )
        delta_bytes, _ = meta_bloom_bytes(delta_dd)
        meta_bytes = (np.frombuffer(delta_bytes, dtype=np.uint8) | rollup["meta"]).tobytes()
        summ = terms_all.unionByName(bloom_rollup_rows(spark, terms_all, meta_bytes))
        _write_swap(summ, paths.summaries)
        terms_all.unpersist()

        # doc_dict append LAST — the update's COMMIT POINT (r5 review #1).
        # Every earlier artifact (tombstones, marker, postings, stats,
        # summaries) lands under the marker's protection: if the update dies
        # before THIS append, the next update()/compact() sees marker_max >
        # max(doc_dict.doc_id), tombstones the orphan ids and recomputes
        # stats exactly, and the rerun re-absorbs the delta. Dying AFTER a
        # doc_dict append with stats/summaries still unwritten (the old
        # order) was unrecoverable: the rerun no-ops on the dedup while the
        # blooms permanently miss the delta's terms — bloom false negatives,
        # i.e. silently empty queries for the new docs' unique terms.
        (
            with_ids.select("doc_id", "repo", "path", "commit", "lang", "content_sha256")
            .join(doc_len, "doc_id", "left")
            .withColumn("doc_len", F.coalesce(F.col("doc_len"), F.lit(0)).cast("int"))
            .select("doc_id", "repo", "path", "commit", "lang", "doc_len", "content_sha256")
            .write.mode("append")
            .parquet(paths.doc_dict)
        )
        doc_len.unpersist()

        if manifest_persist is not None:
            manifest_persist.unpersist()
        delta.unpersist()
        out = {
            "rows_in": n_delta,
            "rows_invalid_sha": int(n_invalid_delta),
            "rows_new": int(n_new),
            "rows_changed": int(n_changed),
            "affected_buckets": affected,
            "n_docs": n_docs,
            "stats_mode": stats_mode,
            "seconds": time.time() - t0,
        }
        n_dead = n_dead_seen + n_changed
        trigger = (
            self.auto_compact_frac is not None
            and n_docs
            and n_dead / n_docs >= self.auto_compact_frac
        )
        if not trigger and self.auto_compact_gens is not None:
            # gen_path bound at the top of update()
            if os.path.exists(gen_path):
                with open(gen_path) as f:
                    pending = sum(1 for _ in f)
                trigger = pending >= self.auto_compact_gens
        if trigger:
            out["compaction"] = self.compact()
        return out

    # ------------------------------------------------------------------
    def compact(self) -> dict:
        """Tombstone compaction: drop dead generations from the index and
        re-tighten every bound — WITHOUT re-reading or re-tokenizing any
        document content (stage 1, ~70-75% of a full rebuild, is skipped).

        The batch analog of the reference's continuous LMDB sweep write-back
        (``/root/reference/daemon/src/index/inner_db.rs:53-112``), which
        evicts dead entries as it pages the index. Steps, all over the
        compact posting/dictionary representation:

        - postings: decode each term's generations into one list, drop
          tombstoned ids, correct ``df``, re-encode sorted with block-max
          bounds recomputed under the LIVE avgdl (terms whose postings die
          entirely are dropped) — the append-only update() fragments a term
          into one row per generation; this pass folds them back to ONE;
        - doc_dict: drop dead rows;
        - stats: ``bm_avgdl`` set to the live avgdl — the engine's
          staleness check passes again, so block-max WAND re-enables;
        - summaries: per-bucket blooms + meta + global rollup rebuilt;
        - tombstones + the ``generations`` marker cleared; stage-2 metrics
          patched (n_terms/n_postings).

        Scale shape: one pass over the postings table (mapInPandas, Arrow
        batches, NumPy inner loop), dead ids broadcast (bounded by changes
        since the last compaction). With pending generations the pass is
        preceded by ONE tb-keyed shuffle (append updates leave a term's
        generations in different files, so same-term rows must co-locate to
        fold); a tombstone-only compaction keeps the shuffle-free
        partition-aligned read."""
        spark = self.spark
        paths = IndexPaths(self.index_dir)
        _heal_swap(paths.postings)
        _heal_swap(paths.doc_dict)
        _heal_swap(paths.stats)
        _heal_swap(paths.summaries)
        t0 = time.time()
        tomb_path = os.path.join(self.index_dir, "tombstones")
        gen_path = os.path.join(self.index_dir, "generations")
        has_gens = os.path.exists(gen_path)
        if not os.path.exists(tomb_path) and not has_gens:
            return {"dead": 0, "noop": True, "seconds": time.time() - t0}
        dead = np.empty(0, dtype=np.int64)
        if os.path.exists(tomb_path):
            dead = np.array(
                sorted(int(r["doc_id"]) for r in spark.read.parquet(tomb_path).collect()),
                dtype=np.int64,
            )
        if dead.size == 0 and not has_gens:
            shutil.rmtree(tomb_path, ignore_errors=True)
            return {"dead": 0, "noop": True, "seconds": time.time() - t0}

        post = spark.read.parquet(paths.postings)
        rollup_kinds = {
            r["kind"]
            for r in spark.read.parquet(paths.summaries)
            .filter(F.col("kind").isin("meta", "global"))
            .select("kind")
            .collect()
        }
        stats = spark.read.parquet(paths.stats).collect()[0]
        n_buckets = check_layout(self.index_dir, post, rollup_kinds, stats)
        dd = spark.read.parquet(paths.doc_dict)
        # orphan detection, same rule as update(): marker lines record each
        # append's id range BEFORE its postings land, so ids above the
        # doc_dict max belong to an update that died before its dictionary
        # append. They must join the dead set HERE — folding them into
        # merged rows and deleting the marker would erase the only record
        # of their existence, and a later update() would re-assign the same
        # ids (duplicate postings).
        if has_gens:
            marker_max = _marker_max_id(gen_path)
            dd_max = dd.agg(F.max("doc_id")).collect()[0][0]
            dd_max = -1 if dd_max is None else int(dd_max)
            if marker_max > dd_max:
                orphans = np.arange(dd_max + 1, marker_max + 1, dtype=np.int64)
                dead = np.unique(np.concatenate([dead, orphans]))
        dead_df = spark.createDataFrame([(int(i),) for i in dead], "doc_id long")
        live = dd.join(F.broadcast(dead_df), "doc_id", "left_anti")
        agg = live.agg(F.count("*").alias("n"), F.sum("doc_len").alias("tt")).collect()[0]
        n_docs, total_tokens = int(agg["n"]), int(agg["tt"] or 0)
        avgdl = float(total_tokens) / float(n_docs) if n_docs else 0.0
        block_size = self.block_size
        bc_dead = spark.sparkContext.broadcast(dead)

        from ..index.codec import decode_postings

        def make_rewrite(fold_across_batches: bool):
            """Batched compaction pass: every term's blobs join into
            ONE varint stream per column (blocks are self-contained), one
            vectorized decode, one dead-id filter, one lexsort back to
            canonical per-term sorted lists, one encode_postings_many —
            per-term Python calls (~130 us each x the bucket vocabulary)
            would otherwise dominate the sweep, exactly as they did in the
            pre-r3 build stage. Runs are keyed by TERM (factorize), not by
            input row, so a term's generations (multiple rows after append
            updates) fold into one output row with a summed df.

            With ``fold_across_batches`` (the multi-generation slice): a
            partition arrives as MANY Arrow batches (arrow
            maxRecordsPerBatch << partition rows), and a term whose
            generation rows straddle a batch boundary must still fold to one
            row — accumulating the whole partition would break the sweep's
            bounded memory, so the input is term-SORTED within the partition
            and the trailing term group of each batch is carried into the
            next (O(batch + one term's generations) memory; r5 review #3).
            Single-row inputs (tombstone-only compactions and the
            single-generation slice of a gens compaction) skip the carry:
            one row per term is guaranteed, any batching is exact."""

            def rewrite(batches):
                dead_ids = bc_dead.value
                pending: pd.DataFrame | None = None
                for pdf in batches:
                    if pending is not None:
                        pdf = pd.concat([pending, pdf], ignore_index=True)
                        pending = None
                    n_rows = len(pdf)
                    if n_rows == 0:
                        continue
                    if fold_across_batches:
                        # sorted input ⇒ equal terms are adjacent, so only
                        # the TAIL group can continue into the next batch
                        last = pdf["term"].iat[n_rows - 1]
                        tail = int((pdf["term"].to_numpy() == last).sum())
                        pending = pdf.iloc[n_rows - tail :].reset_index(drop=True)
                        pdf = pdf.iloc[: n_rows - tail]
                        if len(pdf) == 0:
                            continue
                    out = _fold_pdf(pdf, dead_ids)
                    if out is not None:
                        yield out
                if pending is not None and len(pending):
                    out = _fold_pdf(pending, dead_ids)
                    if out is not None:
                        yield out

            return rewrite

        def _fold_pdf(pdf, dead_ids):
            from ..index.codec import encode_postings_many

            firsts_all = np.concatenate(
                [np.asarray(x, np.int64) for x in pdf["block_firsts"]]
            )
            lens_all = np.concatenate(
                [np.asarray(x, np.int64) for x in pdf["block_lens"]]
            )
            ids_v, tfs_v, dls_v = decode_postings(
                b"".join(pdf["ids"]), b"".join(pdf["tfs"]), b"".join(pdf["dls"]),
                firsts_all, lens_all,
            )
            codes, uniq = pd.factorize(pdf["term"], sort=False)
            dfs_row = pdf["df"].to_numpy(np.int64)
            value_row = np.repeat(codes.astype(np.int64), dfs_row)
            if ids_v.size and dead_ids.size:
                pos = np.searchsorted(dead_ids, ids_v)
                pos[pos == dead_ids.size] = dead_ids.size - 1
                keep = dead_ids[pos] != ids_v
                ids_v, tfs_v, dls_v = ids_v[keep], tfs_v[keep], dls_v[keep]
                value_row = value_row[keep]
            if ids_v.size == 0:
                return None  # every posting in this slice died
            # canonical (term, doc_id) order; terms whose postings died
            # entirely simply have no run and are dropped
            order = np.lexsort((ids_v, value_row))
            vr_s = value_row[order]
            starts = np.concatenate(([0], np.flatnonzero(np.diff(vr_s)) + 1))
            cols = encode_postings_many(
                ids_v[order], tfs_v[order], dls_v[order], starts, block_size,
                avgdl=avgdl,
            )
            code_idx = vr_s[starts]
            tb_row = pdf["tb"].to_numpy(np.int64)
            tb_of_code = np.empty(len(uniq), dtype=np.int64)
            tb_of_code[codes] = tb_row  # generations share the term's tb
            return pd.DataFrame(
                {
                    "term": np.asarray(uniq, dtype=object)[code_idx],
                    "df": cols["df"],
                    "ids": cols["ids"],
                    "tfs": cols["tfs"],
                    "dls": cols["dls"],
                    "block_firsts": cols["block_firsts"],
                    "block_lasts": cols["block_lasts"],
                    "block_lens": cols["block_lens"],
                    "ids_offs": cols["ids_offs"],
                    "tfs_offs": cols["tfs_offs"],
                    "dls_offs": cols["dls_offs"],
                    "block_max": cols["block_max"],
                    "tb": tb_of_code[code_idx].astype(np.int32),
                }
            )

        multi_bc = None
        if has_gens:
            # append updates leave a term's generations in SEPARATE files,
            # and file-aligned input splits would feed them to different
            # rewrite partitions. Only MULTI-row terms (the vocabulary
            # updated since the last compaction — typically a small
            # fraction of the index) actually need co-location, so the
            # sweep splits: single-row terms keep the shuffle-free,
            # file-aligned per-batch fold; multi-row terms take ONE
            # tb-keyed exchange + a partition-local term sort so the
            # tail-carry folds them exactly across Arrow batches (see
            # make_rewrite). Sorting/shuffling the WHOLE blob table here
            # (the first r5 attempt) measurably multiplied compact cost —
            # Tungsten sorts of multi-MB binary rows spill; don't re-widen
            # this path. Above SPARK_GRAFT_COMPACT_MULTI_CAP multi terms
            # the broadcast split would not fit the driver and everything
            # takes the exchange+sort path instead.
            multi_terms = (
                post.groupBy("term").count().filter(F.col("count") > 1).select("term")
            ).persist()
            n_multi = multi_terms.count()
            multi_cap = int(os.environ.get("SPARK_GRAFT_COMPACT_MULTI_CAP", "2000000"))
            parallelism = spark.sparkContext.defaultParallelism
            n_parts = max(1, min(max(parallelism, 1) * 2, n_buckets))
            if n_multi == 0:
                multi_terms.unpersist()
                new_post = post.mapInPandas(
                    make_rewrite(False), POSTINGS_SCHEMA + ", tb int"
                )
            elif n_multi <= multi_cap:
                multi_bc = multi_terms  # unpersisted after the write below
                single = post.join(F.broadcast(multi_terms), "term", "left_anti")
                multi = (
                    post.join(F.broadcast(multi_terms), "term", "left_semi")
                    .repartition(n_parts, "tb")
                    .sortWithinPartitions("term")
                )
                new_post = single.mapInPandas(
                    make_rewrite(False), POSTINGS_SCHEMA + ", tb int"
                ).unionByName(
                    multi.mapInPandas(make_rewrite(True), POSTINGS_SCHEMA + ", tb int")
                )
            else:
                multi_terms.unpersist()
                allrows = post.repartition(n_parts, "tb").sortWithinPartitions("term")
                new_post = allrows.mapInPandas(
                    make_rewrite(True), POSTINGS_SCHEMA + ", tb int"
                )
        else:
            new_post = post.mapInPandas(make_rewrite(False), POSTINGS_SCHEMA + ", tb int")
        # input splits are partition-pruned per tb, so the partitionBy write
        # needs no shuffle; swap keeps readers consistent
        post_next = paths.postings + "_next"
        shutil.rmtree(post_next, ignore_errors=True)
        (
            new_post.sortWithinPartitions("term")
            .write.mode("overwrite")
            .partitionBy("tb")
            .parquet(post_next)
        )
        if multi_bc is not None:
            multi_bc.unpersist()
        dd_next = paths.doc_dict + "_next"
        shutil.rmtree(dd_next, ignore_errors=True)
        live.write.mode("overwrite").parquet(dd_next)
        _swap_dir(paths.postings, post_next)
        _swap_dir(paths.doc_dict, dd_next)

        stats_pdf = pd.DataFrame(
            [
                {
                    "n_docs": n_docs,
                    "total_tokens": total_tokens,
                    "avgdl": avgdl,
                    "bm_avgdl": avgdl,  # bounds recomputed: WAND re-enables
                    "n_invalid_sha": int(stats["n_invalid_sha"]),
                    # tombstones are cleared below — the running-stats
                    # invariant restarts from zero accounted dead ids
                    "n_dead_acc": 0,
                }
            ]
        )
        _write_swap(spark.createDataFrame(stats_pdf), paths.stats)

        # summaries: rebuild per-bucket blooms (terms may have vanished),
        # meta bloom over the live dictionary, global rollup
        from ..index.build import bloom_rollup_rows, meta_bloom_bytes

        post_now = spark.read.parquet(paths.postings)
        terms_summ = (
            post_now.select("tb", "term")
            .groupBy("tb")
            .applyInPandas(_terms_bloom_of, "tb int, kind string, filter binary")
            .persist()
        )
        meta_bytes, _ = meta_bloom_bytes(spark.read.parquet(paths.doc_dict))
        summ = terms_summ.unionByName(bloom_rollup_rows(spark, terms_summ, meta_bytes))
        _write_swap(summ, paths.summaries)
        terms_summ.unpersist()

        shutil.rmtree(tomb_path, ignore_errors=True)
        if has_gens:
            os.remove(gen_path)
        n_terms = post_now.count()
        n_postings = int(post_now.agg(F.sum("df")).collect()[0][0] or 0)
        from ..index import checkpoint as ckpt

        ckpt.patch_metrics(
            self.index_dir,
            "stage2_postings",
            {"n_terms": int(n_terms), "n_postings": n_postings},
        )
        metrics = {
            "dead": int(dead.size),
            "n_docs": n_docs,
            "n_terms": int(n_terms),
            "avgdl": avgdl,
            "seconds": time.time() - t0,
        }
        ckpt.write_stage(
            self.index_dir, "compaction", {"key": {"dead": int(dead.size)}}, metrics
        )
        return metrics

    def foreach_batch_handler(self):
        """Adapter for Structured Streaming: ``writeStream.foreachBatch(h)``."""

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            self.update(batch_df, input_token=f"stream-batch-{batch_id}")

        return handle


# NOTE: the per-bucket "terms" bloom kernel is index.build.terms_bloom_of
# (imported above as _terms_bloom_of) — ONE definition for stage 3,
# update()'s delta blooms and compact()'s rebuild, so the FILTER_BITS /
# byte-serialization contract cannot silently diverge between write paths.


def _heal_marker_tail(gen_path: str) -> None:
    """Truncate a torn final ``generations`` line (a crash mid-append left no
    trailing newline). Must run before any append — see update()'s call
    site. A torn line's postings never landed, so dropping it is safe."""
    if not os.path.exists(gen_path):
        return
    with open(gen_path, "rb+") as f:
        data = f.read()
        if data and not data.endswith(b"\n"):
            f.truncate(data.rfind(b"\n") + 1)


def _marker_max_id(gen_path: str) -> int:
    """Max doc id recorded in the ``generations`` marker (-1 when absent).
    Each line is ``token\\tlo\\thi``, written BEFORE the append's postings
    land — the crash-recovery source of truth for orphan id detection in
    BOTH update() and compact() (r5 review: one parser, not two)."""
    m = -1
    if os.path.exists(gen_path):
        with open(gen_path) as f:
            lines = f.readlines()
        for i, ln in enumerate(lines):
            parts = ln.rstrip("\n").split("\t")
            try:
                m = max(m, int(parts[2]))
            except (IndexError, ValueError):
                # a torn FINAL line is a crash mid-append: the postings of
                # that run never landed (they are written after the fsync'd
                # marker), so ignoring it is safe. A malformed EARLIER line
                # is real corruption — fail loudly, never under-count.
                if i != len(lines) - 1:
                    raise ValueError(
                        f"corrupt generations marker at {gen_path} line {i + 1}: {ln!r}"
                    )
    return m


# NOTE: the write-then-swap trio (write_swap/swap_dir/heal_swap) lives in
# index.build (imported above under the legacy underscore names) — shared
# with SearchEngine, which heals interrupted swaps at init (a read-only
# consumer constructed inside the crash window must recover, not fail at
# the parquet read).


