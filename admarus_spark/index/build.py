"""Resumable multi-stage index build DAG (tokenize → local index →
shuffle-merge → compress → summaries), pure DataFrame + Arrow UDFs.

The reference's build loop is a single-node incremental crawler
(``/root/reference/daemon/src/index/index.rs:36-131``): fetch → tokenize
(``documents.rs:48-52``) → posting upsert ``index[word][docid] += 1/len``
(``inner_im.rs:62-87``) → bloom add (``inner_im.rs:51-60``). This module is
the batch, distributed re-expression:

stage1 (tokenize + doc ids + stats)
    sha256-validate every row against the reference column (input_hint per-row
    invariant), assign deterministic dense doc ids by lexicographic
    (repo, path) rank (replaces the arrival-order LocalCid counter,
    ``inner_im.rs:69-71``), tokenize with a vectorized pandas UDF, write
    ``doc_dict`` + per-(doc,term) ``tf`` + corpus ``stats``.

stage2 (shuffle-merge + compress)
    one of two plans, picked by an observable memory gate. shuffle-encode
    (default): a term dictionary swaps term strings for dense int64 ids,
    ONE identity-routed exchange lands each term-hash bucket whole in its
    own partition, and a single NumPy pass sorts and encodes it.
    local-merge (skew fallback): each tf partition encodes its own local
    index and only compressed blobs move to a per-bucket merge, so per-task
    memory is bounded by partition size, not by term df (the reference has
    NO skew handling — hot terms just grow a RAM hashmap, SURVEY.md §4
    O10). Postings are delta+varint compressed with block-max metadata
    (SURVEY.md §4 O11) and written partitioned by a term hash bucket ``tb``
    for partition-pruned query scans.

stage3 (summaries)
    per-bucket term bloom filters using the reference's exact word hash
    (``daemon/src/index/index.rs:182-192``) — the Spark analog of Kamilata's
    bloom routing (``kamilata/src/db.rs:90-114``): the query driver prunes
    buckets/terms without touching postings. Plus a metadata bloom over
    ``name=value`` pairs (the reference adds filters to the same bloom,
    ``inner_im.rs:85``).

Every stage writes lineage + metrics checkpoints (see checkpoint.py) and is
skipped on resume when its lineage key matches.

Scale notes (100 TB / 10^12 files): the only global shuffle of document
content is the range partition for doc-id assignment; everything after
``tf`` moves only (doc_id, term, tf, dl) tuples. A bucket whose raw rows
exceed SPARK_GRAFT_S2_MAX_BUCKET_BYTES (gated on the exact largest bucket)
sends the build to local-merge, whose encode work per task is bounded by
the tf partition size however hot a term is; n_buckets grows with the
corpus so that buckets stay under the cap.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import BLOCK_SIZE, FILTER_BITS
from ..hashword import build_filter
from ..oracle import META_COLUMNS
from . import checkpoint as ckpt
from .codec import decode_postings, encode_postings_many, merge_encoded_chunks

MARKER_TERM = ""  # per-doc marker row; real tokens are always len >= 3

# rows per Arrow batch while stage 2 runs (see IndexBuilder._stage2)
STAGE2_ARROW_BATCH_ROWS = 65536


TF_SCHEMA = "doc_id long, term string, meta long"


def pack_meta(tf: np.ndarray, dl: np.ndarray) -> np.ndarray:
    """(tf, dl) packed into ONE int64: tf<<32 | dl. The tf table and every
    byte of it that flows scan -> Arrow -> pandas in stage 2 shrinks by a
    full column (~25% of the fixed-width row) — measured as a direct cut of
    the memory-bandwidth contention that limits multi-core build scaling.
    dl < 2^32 (4G tokens/doc), tf < 2^31."""
    return (tf.astype(np.int64) << 32) | dl.astype(np.int64)


def unpack_meta(meta: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return meta >> 32, meta & 0xFFFFFFFF


def _tokenize_tf_map(batches):
    """Arrow-batched (doc_id, content) -> (doc_id, term, meta): the
    reference's tokenize + per-doc posting upsert (inner_im.rs:62-87) as one
    vectorized pass — factorize the batch's token stream, then a single
    np.unique over combined (row, term-code) keys yields every tf; tf and
    dl ride packed in one int64 (see pack_meta).

    Each doc ALSO emits one MARKER row (term="", meta=dl): the marker
    stream IS the per-doc length table and the liveness set, so doc_dict
    and stats never re-scan content (one content scan per build) and
    doc_len needs no groupBy shuffle."""
    from ..tokenizer import tokenize_series

    for pdf in batches:
        toks = tokenize_series(pdf["content"])
        lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
        total = int(lens.sum())
        # pack_meta needs tf < 2^31 (tf<<32 into a SIGNED int64) and dl <
        # 2^32; since tf <= dl, gating dl at 2^31 covers both — the old
        # 2^32 gate let a doc of 2^31..2^32 repeats of one token through
        # with tf >= 2^31, sign-corrupting meta silently (ADVICE r4).
        # Cheap per-batch max, loud failure.
        if len(lens) and int(lens.max()) >= (1 << 31):
            raise ValueError(
                f"document length {int(lens.max())} exceeds the 2^31 token "
                "pack_meta bound (tf<<32 must stay within a signed int64) — "
                "split the document or widen the tf schema"
            )
        doc_ids = pdf["doc_id"].to_numpy()
        markers = pd.DataFrame(
            {
                "doc_id": doc_ids,
                "term": np.repeat(MARKER_TERM, len(pdf)),
                "meta": lens,  # tf=0 -> meta == dl
            }
        )
        if total == 0:
            if len(pdf):
                yield markers
            continue
        flat = np.empty(total, dtype=object)
        pos = 0
        for t in toks:
            n = len(t)
            if n:
                flat[pos : pos + n] = t
                pos += n
        codes, uniques = pd.factorize(pd.Series(flat), sort=False)
        nu = len(uniques)
        row_idx = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
        keys = row_idx * nu + codes
        u, counts = np.unique(keys, return_counts=True)
        r = (u // nu).astype(np.int64)
        c = (u % nu).astype(np.int64)
        yield pd.concat(
            [
                pd.DataFrame(
                    {
                        "doc_id": doc_ids[r],
                        "term": np.asarray(uniques, dtype=object)[c],
                        "meta": pack_meta(counts, lens[r]),
                    }
                ),
                markers,
            ],
            ignore_index=True,
        )


def meta_bloom_bytes(dd: DataFrame, names: tuple[str, ...] = META_COLUMNS) -> tuple[bytes, int]:
    """Metadata ``name=value`` bloom built DISTRIBUTED: distinct values stay
    on executors — each partition of the distinct stream folds its words into
    a partial bloom, and only the fixed-size partial filters (one per
    partition) plus their word counts reach the driver for the final bit-OR.
    No ``distinct().collect()`` over a per-document-cardinality column (repo
    is millions of values at corpus scale; lang is bounded but shares the
    path). Returns (filter_bytes, n_meta_words)."""
    words_df = None
    for name in names:
        if name in dd.columns:
            part = dd.select(
                F.concat(F.lit(f"{name}="), F.col(name).cast("string")).alias("word")
            ).distinct()
            words_df = part if words_df is None else words_df.unionByName(part)
    if words_df is None:
        return np.zeros(FILTER_BITS // 8, dtype=np.uint8).tobytes(), 0

    def partial_bloom(batches):
        words: list[str] = []
        for pdf in batches:
            words.extend(pdf["word"].tolist())
        if words:
            filt = build_filter(words, FILTER_BITS)
            yield pd.DataFrame([{"filter": filt.tobytes(), "n": len(words)}])

    # two-level reduce: cap the partial count BEFORE the fold so the driver
    # collect is O(64 x filter_size) regardless of how many shuffle
    # partitions the distinct stream has (a per-shuffle-partition collect
    # would be multi-GB at thousands of partitions — VERDICT r2 #5).
    # coalesce merges partitions without a shuffle.
    words_df = words_df.coalesce(64)
    parts = words_df.mapInPandas(partial_bloom, "filter binary, n long").collect()
    acc = np.zeros(FILTER_BITS // 8, dtype=np.uint8)
    n_words = 0
    for r in parts:
        acc |= np.frombuffer(r["filter"], dtype=np.uint8)
        n_words += int(r["n"])
    return acc.tobytes(), n_words


def terms_bloom_of(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel: ONE per-bucket "terms" bloom summary row. The
    single definition shared by stage 3, update()'s delta blooms and
    compact()'s rebuild, so the FILTER_BITS / byte-serialization contract
    cannot silently diverge between write paths (r5 review)."""
    (tb,) = key
    filt = build_filter(pdf["term"].tolist(), FILTER_BITS)
    return pd.DataFrame([{"tb": int(tb), "kind": "terms", "filter": filt.tobytes()}])


def bloom_rollup_rows(spark: SparkSession, terms_summ: DataFrame, meta_bytes: bytes) -> DataFrame:
    """The two O(1)-load summary rows the engine reads at init: the metadata
    bloom (tb=-1, kind='meta') and a GLOBAL term bloom (tb=-2, kind='global')
    that is the bit-OR of every bucket's term bloom. With the global row
    precomputed at build time, engine init never materializes the per-bucket
    blooms (O(n_buckets x 125 KB) of driver heap at corpus scale — VERDICT
    r2 #4); per-bucket blooms load lazily for queried buckets only.

    The OR itself is folded DISTRIBUTED: each partition of the terms-summary
    stream yields one partial filter; <= 64 fixed-size partials reach the
    driver."""

    def _or_fold(batches):
        acc = None
        for pdf in batches:
            for b in pdf["filter"]:
                a = np.frombuffer(b, dtype=np.uint8)
                acc = a.copy() if acc is None else (acc | a)
        if acc is not None:
            yield pd.DataFrame([{"filter": acc.tobytes()}])

    parts = (
        terms_summ.select("filter").coalesce(64)
        .mapInPandas(_or_fold, "filter binary")
        .collect()
    )
    acc = np.zeros(FILTER_BITS // 8, dtype=np.uint8)
    for r in parts:
        acc |= np.frombuffer(r["filter"], dtype=np.uint8)
    pdf = pd.DataFrame(
        [
            {"tb": -1, "kind": "meta", "filter": meta_bytes},
            {"tb": -2, "kind": "global", "filter": acc.tobytes()},
        ]
    )
    return spark.createDataFrame(pdf, schema="tb int, kind string, filter binary")


def assign_range_ids(docs: DataFrame, n_parts: int, base: int = 0):
    """Deterministic dense doc ids ``base, base+1, ...`` in lexicographic
    (repo, path) order with NO single-task bottleneck: range-shuffle the
    slim (repo, path) manifest, count rows per partition, then add
    per-partition offsets in one Arrow pass (a few bytes per row). Used by
    stage 1 (base=0) and by incremental deltas above the broadcast
    threshold (base=max_id+1) — the same plan shape that survives a
    backfill-sized delta at 10^12-file scale.

    Returns ``(manifest_ids, manifest, part_counts, offsets)``; ``manifest``
    is persisted — the caller unpersists it once ``manifest_ids`` has been
    consumed."""
    spark = docs.sparkSession
    manifest = (
        docs.select("repo", "path")
        .repartitionByRange(n_parts, "repo", "path")
        .sortWithinPartitions("repo", "path")
        .persist()
    )
    # ONE id per DISTINCT (repo, path) even when the input carries a key
    # twice, WITHOUT a distinct() exchange: range partitioning sends equal
    # keys to one partition and the sort makes them adjacent, so the
    # distinct count is a map-side partial per partition (the collect is
    # n_parts rows) and the dedup itself is adjacent-row dropping inside
    # the id-assign Arrow pass below — zero extra shuffles on any input.
    part_counts = {
        r["pid"]: r["cnt"]
        for r in manifest.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count_distinct(F.struct("repo", "path")).alias("cnt"))
        .collect()
    }
    offsets = {}
    acc = base
    for pid in sorted(part_counts):
        offsets[pid] = acc
        acc += part_counts[pid]
    bc_offsets = spark.sparkContext.broadcast(offsets)

    def assign_ids(iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        pbase = bc_offsets.value.get(pid, 0)
        seen = 0
        last = None  # (repo, path) of the previous batch's final row
        for pdf in iterator:
            if not len(pdf):
                continue
            # drop adjacent duplicate keys (sorted within partition), with a
            # tail-carry so a run straddling an Arrow batch boundary still
            # collapses to its first row
            keep = ~(
                pdf["repo"].eq(pdf["repo"].shift())
                & pdf["path"].eq(pdf["path"].shift())
            ).to_numpy()
            if last is not None and keep[0]:
                keep[0] = (pdf["repo"].iat[0], pdf["path"].iat[0]) != last
            last = (pdf["repo"].iat[-1], pdf["path"].iat[-1])
            if not keep.all():
                pdf = pdf[keep]
                if not len(pdf):
                    continue
            pdf = pdf.assign(
                doc_id=np.arange(pbase + seen, pbase + seen + len(pdf), dtype=np.int64)
            )
            seen += len(pdf)
            yield pdf

    manifest_ids = manifest.mapInPandas(assign_ids, "repo string, path string, doc_id long")
    return manifest_ids, manifest, part_counts, offsets


# above this many duplicate rows the duplicated-key set is no longer safely
# broadcastable and the dedup falls back to one full-row max-struct aggregate
DUP_KEYS_BROADCAST_MAX = int(os.environ.get("SPARK_GRAFT_DUP_KEYS_BROADCAST_MAX", 1_000_000))


def dedup_doc_rows(docs: DataFrame, n_dup_rows: int) -> DataFrame:
    """ONE deterministic winner per duplicated (repo, path): the row with the
    greatest (content_sha256, *other columns) tuple — the SAME pinned total
    order as IncrementalIndexer.update()'s within-delta dedup, so build and
    incremental pick identical winners (equal-sha duplicates with differing
    metadata tie-break on the full column tuple; a bare desc-sha order would
    leave the winner nondeterministic across runs). Runs AFTER sha
    validation, so a junk-sha duplicate can never shadow a valid row.

    Shuffle shape (r5 review): rows with unique keys must NOT pay a full-row
    exchange for someone else's duplicates. The duplicated keys are found
    with a slim key-only aggregate and, while their row count is bounded
    (``n_dup_rows`` is known exactly from the manifest's distinct counts),
    broadcast: unique rows pass through a broadcast ANTI-join (no exchange of
    content bytes) and only the duplicated rows enter the max-struct
    aggregate. Above ``DUP_KEYS_BROADCAST_MAX`` the whole input falls back to
    the aggregate — one full-row exchange, the exact shape the incremental
    dedup pays on every delta."""
    if n_dup_rows > DUP_KEYS_BROADCAST_MAX:
        return max_tuple_dedup(docs)
    dup_keys = (
        docs.groupBy("repo", "path")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") > 1)
        .select("repo", "path")
    )
    uniq = docs.join(F.broadcast(dup_keys), ["repo", "path"], "left_anti")
    dups = docs.join(F.broadcast(dup_keys), ["repo", "path"], "left_semi")
    return uniq.select(*docs.columns).unionByName(max_tuple_dedup(dups))


def max_tuple_dedup(df: DataFrame) -> DataFrame:
    """The pinned winner rule itself, in ONE place (CLAUDE.md single-source
    parity): per (repo, path) keep the row with the greatest
    (content_sha256, *other columns) tuple — a max-struct aggregate, so
    map-side partials collapse duplicates before the exchange. Used directly
    by IncrementalIndexer.update()'s within-delta dedup (every delta, full
    aggregate — delta-sized by construction) and by ``dedup_doc_rows`` for
    the build's duplicated-rows subset."""
    other = [c for c in df.columns if c not in ("repo", "path")]
    ordered = ["content_sha256"] + [c for c in other if c != "content_sha256"]
    return (
        df.groupBy("repo", "path")
        .agg(F.max(F.struct(*[F.col(c).alias(c) for c in ordered])).alias("_w"))
        .select("repo", "path", *[F.col(f"_w.{c}").alias(c) for c in other])
        .select(*df.columns)
    )


def write_swap(df: DataFrame, path: str) -> None:
    """Crash-safe single-file table replace: write the FULL new content to
    ``<path>_next``, then ``swap_dir`` it into place. A plain
    ``mode('overwrite')`` on the live dir deletes the existing files before
    the job commits — a crash in that window loses the table (for summaries
    that meant permanently losing un-affected buckets' bloom rows: bloom
    false negatives, silently empty queries). The plan may read the live
    ``path`` — it executes fully against the old files before any rename."""
    nxt = path + "_next"
    shutil.rmtree(nxt, ignore_errors=True)
    df.coalesce(1).write.mode("overwrite").parquet(nxt)
    swap_dir(path, nxt)


def swap_dir(path: str, next_path: str) -> None:
    """Atomic-enough local-dir swap: retire the old dir, promote the new.
    A crash between the two renames leaves ``path`` missing — recovered by
    ``heal_swap``, which update()/compact() run before reading and
    SearchEngine runs at init when a live dir is missing."""
    old = path + "_old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(next_path, path)
    shutil.rmtree(old, ignore_errors=True)


def heal_swap(path: str) -> None:
    """Recover a ``swap_dir`` interrupted between its renames (r5 review):
    the live dir is missing while ``<path>_next`` still exists — promote it
    (``_next`` is always FULLY written before any swap starts, so it is the
    complete new generation). If only ``<path>_old`` remains (a crash inside
    a previous heal's rmtree), restore it: stale-but-consistent beats
    missing, and re-running the interrupted compact()/update() converges.
    Idempotent; leftover ``_old`` debris is cleared either way."""
    old, nxt = path + "_old", path + "_next"
    if not os.path.exists(path):
        if os.path.exists(nxt):
            os.rename(nxt, path)
        elif os.path.exists(old):
            os.rename(old, path)
    shutil.rmtree(old, ignore_errors=True)


def sort_encode_runs(
    codes: np.ndarray,
    ids: np.ndarray,
    meta: np.ndarray,
    block_size: int,
    avgdl: float,
    flat: bool = False,
) -> tuple[np.ndarray, np.ndarray, dict]:
    """The per-partition (term, doc_id) sort + encode shared by every write
    path that starts from raw tf rows: the shuffle-encode bucket pass,
    local-merge's local index and update()'s delta encode.

    ``codes``: non-negative int64 term codes (factorize codes, or tids
    rebased to the bucket's smallest). ``meta``: packed tf/dl (pack_meta).
    Returns ``(order, starts, cols)``: the sort permutation, the start of
    each term run in sorted order, and the ``encode_postings_many`` columns
    (one entry per run) — ``codes[order[starts]]`` is each run's term code.

    The sort key is ONE composite int64 when both parts fit (code span
    < 2^22, ids < 2^41 — up to 2T docs), ~2x faster than a two-key lexsort;
    lexsort otherwise. (doc, term) pairs are unique, so the key is unique
    and the default (unstable, faster) sort is deterministic — both sorts
    give the same permutation."""
    span = int(codes.max()) + 1 if codes.size else 0
    if span < (1 << 22) and (ids.size == 0 or int(ids.max()) < (1 << 41)):
        order = np.argsort((codes << 41) | ids)
    else:
        order = np.lexsort((ids, codes))
    codes_s = codes[order]
    # one gather of the packed meta column, unpack after (saves a full-size
    # random-access pass vs gathering tf and dl separately)
    tfs_s, dls_s = unpack_meta(meta[order])
    starts = np.concatenate(([0], np.flatnonzero(np.diff(codes_s)) + 1))
    cols = encode_postings_many(
        ids[order], tfs_s, dls_s, starts, block_size, avgdl=avgdl, flat=flat
    )
    return order, starts, cols


def _merge_small_terms_batch(
    pdf: pd.DataFrame,
    order: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    mask: np.ndarray,
    terms_s: np.ndarray,
    dfs_row: np.ndarray,
    block_size: int,
    avgdl: float,
) -> pd.DataFrame:
    """Batched decode -> sort -> re-encode of ALL small multi-chunk terms of
    a bucket at once. Blocks are self-contained and varint streams
    concatenate cleanly, so every selected chunk's blobs join into ONE
    stream per column, decoded in one vectorized pass; the per-value term
    index then drives one lexsort and one encode_postings_many. Replaces a
    ~100 us/term Python loop with whole-bucket NumPy."""
    sel_lens = (ends - starts)[mask]
    sel_starts = starts[mask]
    m = int(sel_lens.sum())
    # sorted-row positions of every selected chunk row (repeat/arange trick)
    base = np.concatenate(([0], np.cumsum(sel_lens[:-1])))
    pos = (
        np.arange(m, dtype=np.int64)
        - np.repeat(base, sel_lens)
        + np.repeat(sel_starts, sel_lens)
    )
    rows = order[pos]
    ids_col = pdf["ids"].to_numpy(object)[rows]
    tfs_col = pdf["tfs"].to_numpy(object)[rows]
    dls_col = pdf["dls"].to_numpy(object)[rows]
    firsts_all = np.concatenate([np.asarray(x, np.int64) for x in pdf["block_firsts"].to_numpy(object)[rows]])
    lens_all = np.concatenate([np.asarray(x, np.int64) for x in pdf["block_lens"].to_numpy(object)[rows]])
    ids_v, tfs_v, dls_v = decode_postings(
        b"".join(ids_col), b"".join(tfs_col), b"".join(dls_col), firsts_all, lens_all
    )
    # per-value term index: term code per selected row, repeated by row df
    k = int(mask.sum())
    term_code_row = np.repeat(np.arange(k, dtype=np.int64), sel_lens)
    value_term = np.repeat(term_code_row, dfs_row[pos])
    ordv = np.lexsort((ids_v, value_term))
    vt_s = value_term[ordv]
    tstarts = np.concatenate(([0], np.flatnonzero(np.diff(vt_s)) + 1))
    cols = encode_postings_many(
        ids_v[ordv], tfs_v[ordv], dls_v[ordv], tstarts, block_size, avgdl=avgdl
    )
    return pd.DataFrame(
        {
            "term": terms_s[sel_starts],
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
        }
    )


POSTINGS_SCHEMA = (
    "term string, df long, ids binary, tfs binary, dls binary, "
    "block_firsts array<long>, block_lasts array<long>, block_lens array<int>, "
    "ids_offs array<long>, tfs_offs array<long>, dls_offs array<long>, "
    "block_max array<double>"
)
PARTIAL_SCHEMA = (
    "term string, chunk int, df long, ids binary, tfs binary, dls binary, "
    "block_firsts array<long>, block_lasts array<long>, block_lens array<int>, "
    "ids_offs array<long>, tfs_offs array<long>, dls_offs array<long>, "
    "block_max array<double>"
)


TID_POSTINGS_SCHEMA = (
    "tid long, df long, ids binary, tfs binary, dls binary, "
    "block_firsts array<long>, block_lasts array<long>, block_lens array<int>, "
    "ids_offs array<long>, tfs_offs array<long>, dls_offs array<long>, "
    "block_max array<double>, tb int"
)


def _tid_postings_arrow_schema():
    """PyArrow twin of ``TID_POSTINGS_SCHEMA``: the tid-keyed intermediate of
    the shuffle-encode path — term STRINGS never cross into Python; the final
    term column comes from a broadcast dictionary join on ``tid``."""
    import pyarrow as pa

    return pa.schema(
        [
            ("tid", pa.int64()),
            ("df", pa.int64()),
            ("ids", pa.binary()),
            ("tfs", pa.binary()),
            ("dls", pa.binary()),
            ("block_firsts", pa.list_(pa.int64())),
            ("block_lasts", pa.list_(pa.int64())),
            ("block_lens", pa.list_(pa.int32())),
            ("ids_offs", pa.list_(pa.int64())),
            ("tfs_offs", pa.list_(pa.int64())),
            ("dls_offs", pa.list_(pa.int64())),
            ("block_max", pa.list_(pa.float64())),
            ("tb", pa.int32()),
        ]
    )


@dataclass
class IndexPaths:
    index_dir: str

    @property
    def doc_dict(self) -> str:
        return os.path.join(self.index_dir, "doc_dict")

    @property
    def tf(self) -> str:
        return os.path.join(self.index_dir, "tf")

    @property
    def stats(self) -> str:
        return os.path.join(self.index_dir, "stats")

    @property
    def postings(self) -> str:
        return os.path.join(self.index_dir, "postings")

    @property
    def summaries(self) -> str:
        return os.path.join(self.index_dir, "summaries")


def check_layout(index_dir: str, postings: DataFrame, rollup_kinds, stats) -> int:
    """The one layout check of every reader and writer of a built index
    (SearchEngine init, update(), compact()): only the layout today's build
    writes (lineage schema 5) is accepted; older indexes are rebuilt, not
    read through fallbacks. Looks only at the postings schema, the
    summaries rollup-row kinds and the stats row the caller already holds,
    plus the stage-2 metrics file — no Spark job. Returns the persisted
    routing modulus ``n_buckets`` (never inferred from occupied buckets: a
    trailing zero-term bucket writes no row)."""
    missing = []
    if "block_lasts" not in postings.columns:
        missing.append("postings column block_lasts")
    missing += [f"summaries row kind='{k}'" for k in ("meta", "global") if k not in rollup_kinds]
    missing += [
        f"stats field {f}"
        for f in ("bm_avgdl", "total_tokens", "n_dead_acc")
        if f not in stats.__fields__
    ]
    n_buckets = ckpt.read_metrics(index_dir, "stage2_postings").get("n_buckets")
    if n_buckets is None:
        missing.append("stage-2 metric n_buckets")
    if missing:
        raise ValueError(
            f"index {index_dir} predates the current layout (missing "
            f"{', '.join(missing)}): rebuild the index with IndexBuilder"
        )
    return int(n_buckets)


@dataclass
class IndexBuilder:
    spark: SparkSession
    index_dir: str
    n_buckets: int = 32          # postings partition buckets (term-hash)
    block_size: int = BLOCK_SIZE
    validate_sha: bool = True
    keep_tf: bool = True         # False: delete the (postings-sized) stage-1
                                 # tf table after a successful build — a later
                                 # resume that needs stage 2 re-tokenizes
    # stage-1 manifest broadcast gate: rows above this take the sort-merge
    # path (one manifest row PER DOCUMENT — never unconditionally broadcast)
    broadcast_manifest_max: int = 2_000_000
    metrics: dict = field(default_factory=dict)

    # ------------------------------------------------------------------
    def build(self, docs: DataFrame, input_token: str = "default", resume: bool = True) -> IndexPaths:
        paths = IndexPaths(self.index_dir)
        os.makedirs(self.index_dir, exist_ok=True)
        key = {
            "input": input_token,
            "n_buckets": self.n_buckets,
            "block_size": self.block_size,
            "validate_sha": self.validate_sha,
            "schema": 5,  # r3: summaries rollup row; tf meta packing
        }
        lineage1 = {"key": {**key, "stage": 1}}
        lineage2 = {"key": {**key, "stage": 2}}
        lineage3 = {"key": {**key, "stage": 3}}

        # stage 1's artifact (the tf table) may have been cleaned by a prior
        # keep_tf=False build — its checkpoint alone is not enough for a
        # resume whose STAGE 2 must re-run (r5 review: keep_tf was dead
        # config; now that it deletes, the existence check keeps resume
        # sound)
        if not (
            resume
            and ckpt.stage_is_valid(self.index_dir, "stage1_tokenize", lineage1)
            and (
                os.path.exists(paths.tf)
                or ckpt.stage_is_valid(self.index_dir, "stage2_postings", lineage2)
            )
        ):
            self._stage1(docs, paths, lineage1)
        if not (resume and ckpt.stage_is_valid(self.index_dir, "stage2_postings", lineage2)):
            self._stage2(paths, lineage2)
        if not (resume and ckpt.stage_is_valid(self.index_dir, "stage3_summaries", lineage3)):
            self._stage3(paths, lineage3)
        if not self.keep_tf:
            # documented contract: drop the postings-sized intermediate once
            # the index is complete (stage 2+3 checkpoints stay valid; a
            # future resume needing stage 2 re-tokenizes via the existence
            # check above)
            shutil.rmtree(paths.tf, ignore_errors=True)
        self.metrics = {
            s: ckpt.read_metrics(self.index_dir, s)
            for s in ("stage1_tokenize", "stage2_postings", "stage3_summaries")
        }
        return paths

    # ------------------------------------------------------------------
    def _stage1(self, docs: DataFrame, paths: IndexPaths, lineage: dict) -> None:
        t0 = time.time()
        spark = self.spark

        # per-row invariant (input_hint): sha256(content) == content_sha256.
        # The check runs INSIDE the scans that must read content anyway
        # (tokenize, doc_dict) — a dedicated validation pass would scan and
        # hash the full content column one extra time. n_total comes from a
        # column-pruned count (near metadata-speed on parquet); the invalid
        # count falls out as n_total - n_docs.
        has_sha = "content_sha256" in docs.columns
        if not has_sha:
            docs = docs.withColumn("content_sha256", F.sha2(F.col("content"), 256))
        n_total = int(docs.count())

        # Deterministic doc ids: rank of DISTINCT (repo, path) lexicographic
        # over the input — the manifest scan reads ONLY (repo, path) (content
        # never decoded, never shuffled); sha-invalid rows are dropped by the
        # content-bearing scans later, leaving holes in the id space (ids
        # stay stable and collision-free; the dictionary defines liveness).
        # Ids are assigned by range-shuffle + per-partition offsets + an
        # Arrow offset pass over a few bytes per row. At bench scale the
        # manifest broadcasts; at 10^12-file scale the same plan degrades
        # gracefully to a sort-merge join on (repo, path).
        parallelism = spark.sparkContext.defaultParallelism
        n_parts = max(1, min(parallelism, max(1, n_total // 50)))
        manifest_ids, manifest, part_counts, offsets = assign_range_ids(docs, n_parts)

        # sha gate BEFORE the duplicate-key dedup (same order as the
        # incremental path, r5 review): a junk-sha duplicate sorts above any
        # real hex sha and would otherwise win the dedup and then be dropped
        # by the gate — silently losing the valid version of the document.
        # `docs` itself is NOT rebound to the filtered frame on the clean
        # path: the doc_dict slim scan below deliberately reads no content
        # (validity comes from the tf marker join), and a filter that hashes
        # content would force a second full content scan into that job.
        if self.validate_sha and has_sha:
            valid = docs.filter(
                F.sha2(F.col("content"), 256) == F.col("content_sha256")
            )
        else:
            valid = docs
        # a crawl dump can carry the same (repo, path) twice (two observed
        # versions): without a guard the manifest join fans out 2x2 —
        # duplicate postings, double-counted df, multiple doc_dict rows per
        # id. Detection is FREE (the distinct manifest count falls out of
        # part_counts — note it counts pre-validation rows, so a dup whose
        # copies were all invalid triggers a vacuous dedup: harmless); the
        # dedup runs ONLY on dirty inputs, so clean corpora pay nothing —
        # including the doc_dict scan, which on the dirty path alone must
        # read the deduped (hence filtered) rows for a duplicate-free
        # dictionary.
        n_unique = sum(part_counts.values())
        n_dup_rows = n_total - n_unique
        if n_dup_rows > 0:
            valid = dedup_doc_rows(valid, n_dup_rows)
            docs = valid
        # a locally-generated corpus often arrives as few parquet splits — the
        # tokenize stage would under-parallelize; widen to the session's
        # parallelism (no-op on real multi-split inputs)
        if valid.rdd.getNumPartitions() < max(2, parallelism // 2):
            valid = valid.repartition(parallelism * 2)
        # the broadcast hint is size-GATED: one manifest row per document, so
        # an unconditional hint would OOM the driver at 10^12-file scale. Above
        # the threshold the hint is dropped and AQE/sort-merge takes over
        # (both sides hash-join on (repo, path)).
        if n_total <= self.broadcast_manifest_max:
            manifest_join = F.broadcast(manifest_ids)
        else:
            manifest_join = manifest_ids
        with_ids = valid.join(manifest_join, ["repo", "path"])

        # "tokenize -> local posting lists" in ONE Arrow pass: per-doc term
        # frequencies are complete within a row, so tf is computed inside the
        # UDF (factorize + segmented unique, all NumPy) and NO groupBy/explode
        # is needed — the JVM never allocates the 84M-token explode stream
        # (which measured 2-7x anti-scaling from GC pressure at high thread
        # counts), and Arrow carries ~3x fewer bytes out than token lists.
        tf = with_ids.select("doc_id", "content").mapInPandas(
            _tokenize_tf_map, TF_SCHEMA
        )
        t_tf0 = time.time()
        tf.write.mode("overwrite").parquet(paths.tf)
        t_tf = time.time() - t_tf0

        # doc_dict from slim columns only — the scan reads NO content: the
        # sha-valid liveness set and per-doc length both come from the
        # marker rows of the tf table (one row per valid doc, zero-token
        # docs included), so the inner join doubles as the validity filter.
        doc_len = (
            spark.read.parquet(paths.tf)
            .filter(F.col("term") == MARKER_TERM)
            .select("doc_id", F.col("meta").cast("int").alias("doc_len"))  # marker meta == dl
        )
        slim = docs.select("repo", "path", "commit", "lang", "content_sha256")
        dd_frame = (
            slim.join(manifest_join, ["repo", "path"])
            .join(doc_len, "doc_id")
            .select("doc_id", "repo", "path", "commit", "lang", "doc_len", "content_sha256")
        )
        # plan-level guard, recorded in metrics: on a duplicate-free corpus
        # this job must NOT hash content (r5 regression: rebinding `docs` to
        # the sha-filtered frame silently re-scanned + re-hashed the whole
        # content column here — measured +30-100 s of stage 1 at 800k docs).
        # The dirty path legitimately reads it (dedup needs validated rows).
        docdict_hashes_content = "sha2(" in (
            dd_frame._jdf.queryExecution().optimizedPlan().toString()
        )

        # corpus stats aggregate from the tf MARKER stream, overlapped with
        # the doc_dict write (guide §2.6 — the two jobs share no dependency;
        # the tail of either backfills the other's idle cores). Value-equal
        # to aggregating doc_dict afterwards: the dictionary's row set IS
        # the marker set (doc_len inner-joins the markers, slim ⊇ valid),
        # and marker meta == doc_len for every valid doc.
        def _stats_agg():
            a = (
                spark.read.parquet(paths.tf)
                .filter(F.col("term") == MARKER_TERM)
                .agg(F.count("*").alias("n_docs"), F.sum("meta").alias("total_tokens"))
                .collect()[0]
            )
            return int(a["n_docs"]), int(a["total_tokens"] or 0)

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as _pool:
            _stats_fut = _pool.submit(_stats_agg)
            dd_frame.write.mode("overwrite").parquet(paths.doc_dict)
            n_docs, total_tokens = _stats_fut.result()
        # invalid = unique keys that did not survive to the dictionary;
        # duplicate input rows are accounted separately (rows_dup_path)
        n_invalid = n_unique - n_docs
        avgdl = float(total_tokens) / float(n_docs) if n_docs else 0.0
        stats_pdf = pd.DataFrame(
            [
                {
                    "n_docs": n_docs,
                    "total_tokens": total_tokens,
                    "avgdl": avgdl,
                    # the avgdl the posting block_max values are computed
                    # with; incremental updates that shift avgdl leave this
                    # unchanged so the engine can detect stale bounds and
                    # fall back to full decode (rank-safety)
                    "bm_avgdl": avgdl,
                    "n_invalid_sha": int(n_invalid),
                    # distinct tombstoned ids these totals exclude — the
                    # incremental running-stats invariant (incremental.py
                    # update()); a fresh build has none
                    "n_dead_acc": 0,
                }
            ]
        )
        spark.createDataFrame(stats_pdf).coalesce(1).write.mode("overwrite").parquet(paths.stats)

        manifest.unpersist()
        lineage["partitions"] = [
            {"pid": pid, "rows": part_counts[pid], "doc_id_offset": offsets[pid]}
            for pid in sorted(part_counts)
        ]
        ckpt.write_stage(
            self.index_dir,
            "stage1_tokenize",
            lineage,
            {
                "rows_in": n_total,
                "rows_dup_path": int(n_dup_rows),
                "docdict_hashes_content": bool(docdict_hashes_content),
                "rows_invalid_sha": int(n_invalid),
                "n_docs": n_docs,
                "total_tokens": total_tokens,
                "avgdl": avgdl,
                "range_partitions": len(part_counts),
                "tokenize_write_sec": round(t_tf, 2),
                "seconds": time.time() - t0,
            },
        )

    # ------------------------------------------------------------------
    def _stage2(self, paths: IndexPaths, lineage: dict) -> None:
        """Shuffle-merge + compress with one of two plans (see
        ``_stage2_inner``): shuffle-encode, or local-merge when one bucket
        would not fit a worker. Skew is handled by that explicit gate —
        local-merge bounds per-task memory by partition size, whatever a
        term's df. The reference has no skew handling at all (hot terms
        just grow a RAM hashmap)."""
        t0 = time.time()
        spark = self.spark
        # stage-scoped, restored on exit: the tf stream is slim fixed-width
        # rows, so 64k-row Arrow batches cut per-batch Arrow/pandas overhead
        # ~16x (the session default stays small for fat content rows)
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, str(STAGE2_ARROW_BATCH_ROWS))
        try:
            self._stage2_inner(paths, lineage, t0)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    def _build_term_dict(self, tf: DataFrame, n_buckets: int) -> dict:
        """Stage-2a term dictionary: dense int64 term ids ordered by
        (bucket, term), plus exact per-bucket posting counts.

        Why a dictionary at all: the raw-tf exchange is the build's single
        big shuffle, and on a realistic (Heaps-law) vocabulary the UTF-8
        term column dominates its bytes — an UnsafeRow string costs an
        8-byte offset/len slot PLUS the 8-byte-padded bytes, vs one 8-byte
        slot for an id. Shuffling ``(tid, doc_id, meta)`` cuts the
        exchanged row by ~1/3 uncompressed, and — just as important for
        multi-core scaling — keeps term strings out of the Arrow→NumPy
        encode entirely (per-string handling was the measured
        memory-bandwidth hot spot of stage 2; see BENCH/BASELINE.md).

        Mechanics: one column-pruned scan of tf yields (term, df) via a
        map-side-combined groupBy (shuffle bytes bounded by vocabulary, not
        postings); tids are assigned as the lexicographic rank within each
        term-hash bucket plus the bucket's cumulative offset — fully
        distributed (identity-routed bucket shuffle + per-partition
        counters), no single-task rank. The per-bucket df sums come from
        the same pass and give the EXACT largest-bucket bytes for the
        'auto' memory guard (the old cross-bucket MEAN under-estimated a
        skewed vocabulary by up to n_buckets×, ADVICE r4).

        The dictionary is broadcast (driver-collected) for the tf-side map
        join: vocabulary grows ~Heaps-sublinearly with the corpus, and the
        SPARK_GRAFT_S2_MAX_DICT_TERMS gate (default 20M terms ≈ a few
        hundred MB broadcast) sends the build to local-merge above it
        rather than OOM-ing the driver.

        Returns {dict_df (persisted — caller unpersists), boffs, n_vocab,
        max_bucket_rows, seconds}."""
        spark = self.spark
        t0 = time.time()
        from ..murmur import identity_partition_keys

        vocab = (
            tf.groupBy("term")
            .agg(F.count("*").alias("df"))
            .withColumn("tb", F.pmod(F.hash(F.col("term")), F.lit(n_buckets)).cast("int"))
            .persist()
        )
        bucket_rows = (
            vocab.groupBy("tb")
            .agg(F.count("*").alias("n_terms"), F.sum("df").alias("rows"))
            .collect()
        )
        n_terms_b = {int(r["tb"]): int(r["n_terms"]) for r in bucket_rows}
        rows_b = {int(r["tb"]): int(r["rows"]) for r in bucket_rows}
        boffs = np.zeros(n_buckets + 1, dtype=np.int64)
        for tb in range(n_buckets):
            boffs[tb + 1] = boffs[tb] + n_terms_b.get(tb, 0)
        route_keys = np.asarray(identity_partition_keys(n_buckets), dtype=np.int64)
        bc = spark.sparkContext.broadcast((boffs, route_keys))

        def assign(batches):
            # partition stream arrives whole-partition-sorted by (tb, term);
            # per-tb running counters carry ranks across Arrow batches
            boffs_l, rk = bc.value
            counters: dict[int, int] = {}
            for pdf in batches:
                tbs = pdf["tb"].to_numpy()
                tid = np.empty(len(pdf), np.int64)
                for tb in np.unique(tbs):
                    m = tbs == tb
                    start = counters.get(int(tb), int(boffs_l[tb]))
                    cnt = int(m.sum())
                    tid[m] = np.arange(start, start + cnt, dtype=np.int64)
                    counters[int(tb)] = start + cnt
                yield pd.DataFrame(
                    {
                        "term": pdf["term"],
                        "tid": tid,
                        "pk": rk[tbs].astype(np.int32),
                    }
                )

        route = F.element_at(
            F.array(*[F.lit(int(j)) for j in route_keys.tolist()]), F.col("tb") + 1
        )
        dict_df = (
            vocab.withColumn("pk", route)
            .repartition(n_buckets, "pk")
            .sortWithinPartitions("tb", "term")
            .mapInPandas(assign, "term string, tid long, pk int")
            .persist()
        )
        # n_vocab falls out of the bucket counts — no extra count() job; the
        # first broadcast materializes dict_df (vocab stays persisted until
        # the stage-2 write completes, so nothing recomputes from raw tf)
        return {
            "dict_df": dict_df,
            "vocab": vocab,
            "boffs": boffs,
            "n_vocab": int(boffs[-1]),
            "max_bucket_rows": max(rows_b.values(), default=0),
            "seconds": time.time() - t0,
        }

    def _stage2_inner(self, paths: IndexPaths, lineage: dict, t0: float) -> None:
        spark = self.spark
        stats = spark.read.parquet(paths.stats).collect()[0]
        avgdl = float(stats["avgdl"])
        block_size = self.block_size
        n_buckets = self.n_buckets

        # coalesce the tf scan to ~2 partitions per core: the global 4MB
        # split size (right for content scans) would shred tf into hundreds
        # of tiny encode tasks — each partition becomes one local index
        # chunk, so fewer/larger partitions mean less task-scheduling
        # overhead AND fewer per-term fragments for the merge (and fewer,
        # denser blocks for the query side). coalesce() merges splits
        # without a shuffle.
        # floor of 16 keeps each local-index chunk's sort/concat bounded
        # (one giant partition sorts superlinearly and spikes task memory)
        parallelism = spark.sparkContext.defaultParallelism
        tf = (
            spark.read.parquet(paths.tf)
            .coalesce(max(16, parallelism * 2))
            .filter(F.col("term") != MARKER_TERM)
        )

        # Plan choice — the build's only two settable values. shuffle-encode
        # holds ONE bucket's raw rows plus NumPy temporaries in one worker
        # (~48 B/row bounds ids + meta + sort/order temporaries), and
        # broadcasts the term dictionary. The gate is EXACT: a cheap
        # mean-estimate pre-check skips the dictionary jobs when even the
        # AVERAGE bucket exceeds the cap; otherwise the stage-2a dictionary
        # pass yields the true LARGEST bucket's posting count — a skewed
        # vocabulary can exceed the mean by up to n_buckets×, so gating on
        # the mean could OOM one whole-bucket encode (ADVICE r4). Above
        # either cap, local-merge bounds per-task memory by PARTITION size
        # instead of bucket size. At corpus scale n_buckets grows with the
        # data (the bucket is the shard unit), keeping buckets under the
        # cap.
        cap = int(os.environ.get("SPARK_GRAFT_S2_MAX_BUCKET_BYTES", str(4 << 30)))
        dict_cap = int(os.environ.get("SPARK_GRAFT_S2_MAX_DICT_TERMS", 20_000_000))
        strategy = "local-merge"
        dict_info: dict | None = None
        if int(stats["total_tokens"] or 0) * 48 // max(1, n_buckets) <= cap:
            dict_info = self._build_term_dict(tf, n_buckets)
            if (
                dict_info["max_bucket_rows"] * 48 <= cap
                and dict_info["n_vocab"] <= dict_cap
            ):
                strategy = "shuffle-encode"

        def encode_local(batches):
            """Local inverted index per tf partition: sort the partition's
            rows by (term, doc_id) and encode per-term block runs — NO
            shuffle of raw postings; only compressed blobs move to the
            merge. The doc-partitioning itself is the salt: a hot term's
            encode work is bounded by the partition size, spread over every
            partition that contains it."""
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            pdfs = list(batches)
            if not pdfs:
                return
            # column-wise assembly (no whole-frame pd.concat copy)
            terms_col = np.concatenate([p["term"].to_numpy() for p in pdfs])
            ids = np.concatenate([p["doc_id"].to_numpy(np.int64) for p in pdfs])
            meta = np.concatenate([p["meta"].to_numpy(np.int64) for p in pdfs])
            codes, uniq = pd.factorize(terms_col, sort=False)
            codes = codes.astype(np.int64)
            order, starts, cols = sort_encode_runs(codes, ids, meta, block_size, avgdl)
            yield pd.DataFrame(
                {
                    "term": np.asarray(uniq, dtype=object)[codes[order[starts]]],
                    "chunk": np.full(starts.size, pid, dtype=np.int64),
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
                }
            )

        dict_boffs = dict_info["boffs"] if dict_info is not None else None

        def encode_bucket_tid(batches):
            """shuffle-encode with the stage-2a term dictionary: the
            partition holds EVERY row of its term bucket, and the shuffle
            ships (tid, doc_id, meta) — three fixed-width int64 columns, NO
            term strings — so one NumPy sort + encode over fixed-width
            arrays yields the final postings rows: no chunk fragments, no
            merge stage, no Python string objects at any point (the r4
            profile pinned stage 2's scaling ceiling on memory bandwidth,
            and the UTF-8 term column dominated both the shuffled bytes and
            the Arrow→NumPy transfer). The output is keyed by ``tid``; the
            term column is restored by a broadcast dictionary join on the
            few per-TERM rows downstream.

            ``tb`` is derived from tid via the bucket-offset table (tids are
            assigned bucket-contiguously), NOT from the partition id — the
            output stays correct even if a future planner change breaks the
            one-bucket-per-partition routing (only performance would
            degrade, never the rows)."""
            import pyarrow as pa

            bl = [b for b in batches if b.num_rows]
            if not bl:
                return
            tbl = pa.Table.from_batches(bl)
            tids = np.ascontiguousarray(tbl.column("tid").to_numpy(), dtype=np.int64)
            ids = np.ascontiguousarray(tbl.column("doc_id").to_numpy(), dtype=np.int64)
            meta = np.ascontiguousarray(tbl.column("meta").to_numpy(), dtype=np.int64)
            tmin = int(tids.min())
            # bucket-local codes (tids are bucket-contiguous)
            order, starts, cols = sort_encode_runs(
                tids - tmin, ids, meta, block_size, avgdl, flat=True
            )
            rep_tids = tids[order[starts]]
            tb_arr = (np.searchsorted(dict_boffs, rep_tids, side="right") - 1).astype(
                np.int32
            )
            # zero-copy list columns: one offsets array + the flat values
            # (a per-term np.split + pa.array(list) pays ~10^5 Python view
            # allocations per bucket, measured as a visible build-stage cost)
            boffs = pa.array(
                np.concatenate(([0], np.cumsum(cols["nb"]))).astype(np.int32),
                type=pa.int32(),
            )

            def _list(vals, typ):
                return pa.ListArray.from_arrays(boffs, pa.array(vals, type=typ))

            arrays = [
                pa.array(rep_tids, type=pa.int64()),
                pa.array(cols["df"], type=pa.int64()),
                pa.array(cols["ids"], type=pa.binary()),
                pa.array(cols["tfs"], type=pa.binary()),
                pa.array(cols["dls"], type=pa.binary()),
                _list(cols["block_firsts"], pa.int64()),
                _list(cols["block_lasts"], pa.int64()),
                _list(cols["block_lens"], pa.int32()),
                _list(cols["ids_offs"], pa.int64()),
                _list(cols["tfs_offs"], pa.int64()),
                _list(cols["dls_offs"], pa.int64()),
                _list(cols["block_max"], pa.float64()),
                pa.array(tb_arr, type=pa.int32()),
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=_tid_postings_arrow_schema())

        def merge_bucket(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            """Merge ALL terms of one term-hash bucket in a single pandas
            call: a per-TERM applyInPandas pays Spark/Arrow group overhead x
            |vocabulary|; per-BUCKET grouping amortizes it to n_buckets
            groups. Inside, three vectorized paths over (term, chunk)-sorted
            rows:

            - single-chunk terms (the majority of a realistic dictionary)
              pass through without touching their blobs;
            - multi-chunk SMALL terms (df <= 4 x block_size — fragments that
              would otherwise yield many 1-2 doc blocks) are merged in ONE
              batched pass: their chunk blobs concatenate into one varint
              stream, ONE decode, one lexsort by (term, doc_id), one
              encode_postings_many — no per-term Python calls;
            - multi-chunk BIG terms (hot terms, few of them) are pure blob
              concatenation with offset shifts (blocks are self-contained).

            Memory is bounded by the bucket's compressed size — n_buckets
            scales with the corpus (the bucket IS the shard unit)."""
            (tb,) = key
            terms = pdf["term"].to_numpy()
            order = np.lexsort((pdf["chunk"].to_numpy(), terms))
            terms_s = terms[order]
            bounds = np.flatnonzero(terms_s[1:] != terms_s[:-1]) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [terms_s.size]))
            run_lens = ends - starts
            dfs_row = pdf["df"].to_numpy(np.int64)[order]
            df_tot = np.add.reduceat(dfs_row, starts)
            single = run_lens == 1
            small = ~single & (df_tot <= 4 * block_size)
            big = ~single & ~small
            keep_cols = [
                "term", "df", "ids", "tfs", "dls", "block_firsts", "block_lasts",
                "block_lens", "ids_offs", "tfs_offs", "dls_offs", "block_max",
            ]
            frames = []
            if single.any():
                frames.append(pdf.iloc[order[starts[single]]][keep_cols])
            if small.any():
                frames.append(
                    _merge_small_terms_batch(
                        pdf, order, starts, ends, small, terms_s, dfs_row,
                        block_size, avgdl,
                    )[keep_cols]
                )
            if big.any():
                merged_rows = []
                for ti in np.flatnonzero(big):
                    # chunk rows in ascending pid order; readers sort the
                    # decoded ids (group_eval._decode_term)
                    rows = list(pdf.iloc[order[starts[ti] : ends[ti]]].itertuples())
                    enc = merge_encoded_chunks(
                        [
                            {
                                "ids_blob": r.ids,
                                "tfs_blob": r.tfs,
                                "dls_blob": r.dls,
                                "block_firsts": r.block_firsts,
                                "block_lasts": r.block_lasts,
                                "block_lens": r.block_lens,
                                "ids_offs": r.ids_offs,
                                "tfs_offs": r.tfs_offs,
                                "dls_offs": r.dls_offs,
                            }
                            for r in rows
                        ]
                    )
                    merged_rows.append(
                        {
                            "term": terms_s[starts[ti]],
                            "df": int(df_tot[ti]),
                            "ids": enc["ids_blob"],
                            "tfs": enc["tfs_blob"],
                            "dls": enc["dls_blob"],
                            "block_firsts": enc["block_firsts"],
                            "block_lasts": enc["block_lasts"],
                            "block_lens": enc["block_lens"],
                            "ids_offs": enc["ids_offs"],
                            "tfs_offs": enc["tfs_offs"],
                            "dls_offs": enc["dls_offs"],
                            "block_max": [x for r in rows for x in r.block_max],
                        }
                    )
                frames.append(pd.DataFrame(merged_rows)[keep_cols])
            out = (
                pd.concat(frames, ignore_index=True)
                if len(frames) > 1
                else frames[0].reset_index(drop=True)
            )
            out = out.sort_values("term", kind="mergesort", ignore_index=True)
            out["tb"] = int(tb)
            return out

        if strategy == "shuffle-encode":
            # ONE shuffle of the raw tf stream, routed through identity-
            # partition probe keys so each bucket lands whole — and ALONE —
            # in its shuffle partition. This replaces repartitionByRange
            # (which pays a sampling pass over the child plan, i.e. a second
            # tf scan) and plain hash repartition (balls-in-bins collisions
            # put 2-4 buckets in one partition — a straggler at one-wave
            # parallelism). A broadcast map-join swaps the term string for
            # its dense dictionary id BEFORE the exchange, so the shuffled
            # row is (tid, doc_id, meta, pk) — four 8-byte slots, ~1/3
            # fewer uncompressed bytes than with the UTF-8 term column
            # (VERDICT r4 #1: shuffled bytes, not CPU, capped build
            # scaling; BENCH/TID_AB.json). The term column is restored on
            # the per-TERM output rows (|vocabulary| rows, not |postings|)
            # by a second broadcast join.
            dict_df = dict_info["dict_df"]
            merged = (
                tf.join(F.broadcast(dict_df), "term")
                .select("tid", "doc_id", "meta", "pk")
                .repartition(n_buckets, "pk")
                .drop("pk")
                .mapInArrow(encode_bucket_tid, TID_POSTINGS_SCHEMA)
                .join(F.broadcast(dict_df.select("tid", "term")), "tid")
                .select(
                    "term", "df", "ids", "tfs", "dls", "block_firsts",
                    "block_lasts", "block_lens", "ids_offs", "tfs_offs",
                    "dls_offs", "block_max", "tb",
                )
            )
        else:
            # local-merge: assign tb BEFORE the merge so ONE shuffle both
            # co-locates each term's chunks and lands them in their final
            # bucket; the write needs no further repartition
            merged = (
                tf.mapInPandas(encode_local, PARTIAL_SCHEMA)
                .withColumn("tb", F.pmod(F.hash(F.col("term")), F.lit(n_buckets)))
                .groupBy("tb")
                .applyInPandas(merge_bucket, POSTINGS_SCHEMA + ", tb int")
            )
        t_w0 = time.time()
        # bracket the write job's exchange volume (best-effort, from the JVM
        # status store): the stage-2 shuffle executes inside this job, so the
        # before/after delta IS the stage-2 shuffled-byte count
        from ..session import jvm_shuffle_write_bytes

        sw_before = jvm_shuffle_write_bytes(spark)
        (
            merged.sortWithinPartitions("term")
            .write.mode("overwrite")
            .partitionBy("tb")
            .parquet(paths.postings)
        )
        sw_after = jvm_shuffle_write_bytes(spark)
        shuffle_bytes = (
            sw_after - sw_before if sw_before is not None and sw_after is not None else None
        )
        t_write = time.time() - t_w0
        # A zero-term corpus (no >=3-char tokens, or every doc failing sha
        # validation) makes the partitionBy write emit ONLY _SUCCESS — the
        # immediate read-back (and every later reader) then dies with
        # UNABLE_TO_INFER_SCHEMA (r5 review). Rewrite as an explicit empty
        # TYPED table (a footer-only parquet part carries the schema; `tb`
        # becomes a regular column, which readers' F.col("tb") filters
        # handle identically — there is nothing to prune).
        if not any(
            f.endswith(".parquet")
            for _, _, files in os.walk(paths.postings)
            for f in files
        ):
            spark.createDataFrame([], POSTINGS_SCHEMA + ", tb int").write.mode(
                "overwrite"
            ).parquet(paths.postings)

        if dict_info is not None:
            dict_info["dict_df"].unpersist()
            dict_info["vocab"].unpersist()

        t_s0 = time.time()
        post = spark.read.parquet(paths.postings)
        rows = post.groupBy("tb").agg(
            F.count("*").alias("cnt"),
            F.sum("df").alias("posts"),
            F.max("df").alias("mx"),
        ).collect()
        t_stats = time.time() - t_s0
        per_bucket = {int(r["tb"]): int(r["cnt"]) for r in rows}
        lineage["buckets"] = per_bucket
        dict_metrics = {}
        if dict_info is not None:
            dict_metrics = {
                "n_vocab": dict_info["n_vocab"],
                "max_bucket_rows": dict_info["max_bucket_rows"],
                "dict_sec": round(dict_info["seconds"], 2),
            }
        ckpt.write_stage(
            self.index_dir,
            "stage2_postings",
            lineage,
            {
                **dict_metrics,
                # the routing modulus, persisted explicitly: the engine and
                # incremental updater must NOT infer it from occupied buckets
                # (a trailing zero-term bucket writes no partition row)
                "n_buckets": self.n_buckets,
                "n_terms": sum(per_bucket.values()),
                "n_postings": sum(int(r["posts"] or 0) for r in rows),
                "max_df": max((int(r["mx"] or 0) for r in rows), default=0),
                "strategy": strategy,
                "terms_per_bucket": per_bucket,
                "write_job_sec": round(t_write, 2),
                "stats_job_sec": round(t_stats, 2),
                # stage-2 exchange volume (None when the status store is
                # unreachable)
                "shuffle_write_bytes": shuffle_bytes,
                "seconds": time.time() - t0,
            },
        )

    # ------------------------------------------------------------------
    def _stage3(self, paths: IndexPaths, lineage: dict) -> None:
        t0 = time.time()
        spark = self.spark
        terms = spark.read.parquet(paths.postings).select("tb", "term")
        summaries = terms.groupBy("tb").applyInPandas(
            terms_bloom_of, "tb int, kind string, filter binary"
        )
        # the groupBy recomputes on each action; the terms rows feed BOTH the
        # global-OR fold and the final write
        summaries = summaries.persist()

        # metadata bloom: name=value words, as the reference adds filters to
        # the same bloom (inner_im.rs:85). Built as a distributed bit-OR fold
        # over per-partition partial blooms — the driver never sees the
        # distinct value set (repo is per-document cardinality at scale).
        # It reads doc_dict, the term summaries read postings: independent
        # jobs, so the meta fold overlaps the summaries materialization
        # (guide §2.6); the rollup then ORs from the already-built cache.
        from concurrent.futures import ThreadPoolExecutor

        dd = spark.read.parquet(paths.doc_dict)
        with ThreadPoolExecutor(max_workers=1) as _pool:
            _meta_fut = _pool.submit(meta_bloom_bytes, dd)
            summaries.count()  # materialize the persisted term blooms
            meta_bytes, n_meta_words = _meta_fut.result()
        rollup = bloom_rollup_rows(spark, summaries, meta_bytes)
        summaries.unionByName(rollup).coalesce(1).write.mode("overwrite").parquet(paths.summaries)
        summaries.unpersist()

        ckpt.write_stage(
            self.index_dir,
            "stage3_summaries",
            lineage,
            {"n_meta_words": n_meta_words, "filter_bits": FILTER_BITS, "seconds": time.time() - t0},
        )
