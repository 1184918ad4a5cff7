"""Executor-side query evaluation: the engine's one evaluation route.

``search`` (as the one-member case) and ``search_many`` co-locate each
member query's posting blobs in one shuffle partition (identity-routed via
``murmur.identity_partition_keys``, the same trick as the build's raw-tf
exchange) and this module evaluates every member entirely inside the
executor: decode with rank-safe block pruning — executor-LOCAL, so
candidate-id intersections and top-k block selection ship ZERO driver
bytes — then a NumPy AST fold mirroring ``oracle.OracleIndex._fold``
float-for-float, then the exact top-k (or every match, for ``k=None``).

This is the reference's own evaluation shape: the daemon answers a query
against its local index slice in one process
(``/root/reference/daemon/src/index/inner_im.rs:90-104``,
``daemon/src/query/matching.rs:43-88``); here one group = one executor task
over the group's co-located posting lists.

Scale shape: a "group" is a connected component of queries sharing terms —
its work is bounded by the member terms' total posting volume, NOT the
corpus. A group whose estimated decoded bytes exceed
``SPARK_GRAFT_GROUP_EVAL_MAX_BYTES`` splits into doc-range shards (below)
until each shard fits: the env var is a per-task memory budget.

Metadata filters: the reference keeps an equality filter index,
``(key, value) -> doc ids`` (``inner_im.rs:15``). Here the engine routes
the live doc ids of each ``name=value`` filter a member uses (from the
pinned, tombstone-free dictionary, clipped to the task's doc-id range) into
the task under the key ``"name=value"`` — no token contains ``=``. A
``Filter`` leaf is a membership test against that sorted id array, and a
positive filter also sources candidates (``lang=en``, ``lang=en / word``),
as in the reference's candidate union (``matching.rs:70-84``).

Float parity: identical op order as ``oracle.term_scores`` / ``_fold``
(IEEE +,*,/ on float64, descending-order left-fold sums), idf from
``oracle.bm25_idf`` over the LIVE corpus df. On a clean index the driver
computes every idf and ships the float64 values. On a tombstoned index
(incremental upsert, before ``compact()``) the stored df still counts dead
generations; there the task drops dead ids in ``_decode_term`` and an
unsharded group decodes each term whose idf was not shipped whole, so its
live df is the count of surviving ids and the task calls the same
``bm25_idf`` — the same float64 bits as the driver. A sharded group sees
only part of each posting list, so the driver ships its live df instead
(``engine._live_df_map``).

Rank-safety per member: each member's top-k equals the full-decode
answer (``prune=False``, the engine's ``wand="off"``), for these reasons
by shape:

- dead ids (tombstones) are dropped from every decoded term before any
  candidate set, range clip or score is formed, so they never rank and
  never count toward a candidate cover.
- max-fold members: per-term greedy block selection keeps >= k docs per
  term with the top saturations; under the max fold a doc's score is its
  best surviving component, and every top-k doc's best component survives.
  This needs EXACT block-max bounds, which hold only under the avgdl they
  were encoded with: once an update moves avgdl (``wand_safe`` False), a
  rise makes the stored bounds LOWER than the true saturations, so the
  greedy is off and max-fold members decode in full like the general kind.
  ``k=None`` decodes them in full too.
- conjunctive members: the rarest REQUIRED word decodes fully; its ids are
  an exact candidate superset, other terms keep exactly the blocks whose
  id range intersects it. Non-candidates cannot pass the gate; candidates
  keep complete per-term scores. Filters in the conjunction only gate.
- n-of-m members: pigeonhole — a doc matching at least n of the m'
  present children misses at most m'-n of them, so it appears in at
  least one of ANY m'-n+1 children's postings; the m'-n+1 rarest
  children's id union (``nofm_cover_words``) is an exact candidate
  superset.
- any other shape decodes its terms fully (exact by construction); its
  candidates are the positive terms' ids and the positive filters' ids.
- a term shared by several members decodes the UNION of their needs
  (keep masks ORed). A mask only ADDS blocks for the other members, and
  each member's fold reads only its own candidates (conjunctive, n-of-m)
  or takes the max over components whose top-k blocks are kept
  (max-fold), so every member's guarantee survives the union.

Doc-range sharding (r5): a LARGE component's makespan would otherwise be
one task — the measured query-scaling ceiling (BENCH/QUERY_DECOMP.json:
the 10-query batch's biggest component bounds local[4]). Because a doc's
BM25 score depends only on its own (tf, dl) and GLOBAL (df, avgdl), the
evaluation is exactly partitionable by doc id: the engine replicates a
big group's compressed blobs to S shard partitions, and each shard calls
``evaluate_group`` with ``id_lo/id_hi`` — blocks outside the range are
skipped via their stored [first, last] bounds, decoded ids and filter ids
are clipped to the range, and the shard returns its exact in-range top-k.
The union of shard top-ks contains the global top-k (every doc lives in
exactly one shard), which a k-row window upstream finalizes. Per-shard
rank-safety is the SAME argument as unsharded — candidates, pigeonhole
covers and greedy saturation heaps are all computed from range-clipped
arrays, so "beaten by >= k docs" always means k docs *inside this shard's
range*.
"""

from __future__ import annotations

import numpy as np

from .. import BM25_B, BM25_K1
from ..index.codec import decode_postings
from ..oracle import bm25_idf
from ..query.ast import Filter, NAmong, Not, Query, QueryComp, Word, required_words


def is_max_fold(comp: QueryComp) -> bool:
    """True when the AST is pure-disjunctive over words (a single Word or
    ``NAmong{n=1}`` of Words) — the fold reduces to max over term scores and
    per-term block-max top-k pruning is rank-safe (SURVEY.md §7.4)."""
    if isinstance(comp, Word):
        return True
    if isinstance(comp, NAmong) and comp.n == 1:
        return all(isinstance(c, Word) for c in comp.among)
    return False


def filter_key(name: str, value: str) -> str:
    """The key a ``name=value`` filter's doc ids travel under (no token
    contains ``=``, so it never collides with a term)."""
    return f"{name}={value}"


def select_blocks_topk(
    r,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    id_lo: int | None = None,
    id_hi: int | None = None,
) -> np.ndarray:
    """Greedy block-max selection: visit blocks in descending upper bound,
    stop once >= k saturations >= the next bound are known. Exact block-max
    values (computed at build time with identical float math) make this
    rank-safe: every skipped doc is strictly beaten, within its term, by at
    least k docs — and under the max-fold, by the same k docs globally.

    With a shard range [id_lo, id_hi): out-of-range blocks are never
    visited, and a straddling block contributes ONLY its in-range
    saturations to the heap — so "beaten by k" always means k docs inside
    the range, which is what the shard's top-k needs."""
    bmax = np.asarray(r.block_max, dtype=np.float64)
    nb = bmax.size
    keep = np.zeros(nb, dtype=bool)
    ranged = id_lo is not None
    range_keep = select_blocks_range(r, id_lo, id_hi) if ranged else None
    order = np.argsort(-bmax, kind="stable")
    best = np.empty(0, dtype=np.float64)
    for blk in order:
        if ranged and not range_keep[blk]:
            continue
        if best.size >= k and bmax[blk] < best[best.size - k]:
            break
        keep[blk] = True
        one = np.zeros(nb, dtype=bool)
        one[blk] = True
        ids, tfs, dls = decode_postings(
            r.ids, r.tfs, r.dls, r.block_firsts, r.block_lens,
            one, r.ids_offs, r.tfs_offs, r.dls_offs,
        )
        if ranged:
            sel = (ids >= id_lo) & (ids < id_hi)
            tfs, dls = tfs[sel], dls[sel]
        tf = tfs.astype(np.float64)
        dl = dls.astype(np.float64)
        sat = tf / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
        best = np.sort(np.concatenate((best, sat)))
    return keep


def select_blocks_range(r, id_lo: int, id_hi: int) -> np.ndarray:
    """Keep mask for a shard's doc-id range [id_lo, id_hi): block i spans
    the closed id interval [first_i, last_i]; keep it iff that interval
    intersects the range."""
    firsts = np.asarray(r.block_firsts, dtype=np.int64)
    lasts = np.asarray(r.block_lasts, dtype=np.int64)
    return (lasts >= id_lo) & (firsts < id_hi)


def select_blocks_intersect(r, cand: np.ndarray) -> np.ndarray:
    """Keep mask for conjunctive pruning: block i spans ids [first_i,
    last_i] (stored bounds — NOT inferred from the next block's first,
    which is invalid after chunk-concatenated merges where per-chunk runs
    interleave); keep it iff the sorted candidate array has any id in that
    closed range. Exact decode reduction: a skipped block holds no
    candidate, and non-candidates cannot pass the conjunctive fold gate."""
    firsts = np.asarray(r.block_firsts, dtype=np.int64)
    if firsts.size == 0 or cand.size == 0:
        return np.zeros(firsts.size, dtype=bool)
    lasts = np.asarray(r.block_lasts, dtype=np.int64)
    lo = np.searchsorted(cand, firsts, side="left")
    hi = np.searchsorted(cand, lasts, side="right")
    return hi > lo


def nofm_cover_words(comp: QueryComp, df_map: dict[str, int]) -> list[str] | None:
    """Pigeonhole candidate cover for a top-level ``NAmong{1<n<m}`` whose
    children are all Words. Returns the ``m'-n+1`` present children with the
    smallest df (m' = children whose word is indexed), ``[]`` when fewer
    than n children are present (no doc can match), or None when the shape
    does not apply (nested subtrees, filters, NOTs — those keep the
    full-decode path)."""
    if not (isinstance(comp, NAmong) and 1 < comp.n < len(comp.among)):
        return None
    if not all(isinstance(c, Word) for c in comp.among):
        return None
    present = [c.word for c in comp.among if c.word in df_map]
    if len(present) < comp.n:
        return []
    k = len(present) - comp.n + 1
    return sorted(present, key=lambda t: (df_map[t], t))[:k]


def in_sorted(sorted_ids: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Boolean mask of ``ids`` found in the sorted ``sorted_ids`` array (one
    searchsorted pass): tombstone drops and filter membership."""
    if sorted_ids.size == 0:
        return np.zeros(ids.size, dtype=bool)
    pos = np.searchsorted(sorted_ids, ids)
    pos[pos == sorted_ids.size] = sorted_ids.size - 1
    return sorted_ids[pos] == ids


def _decode_term(
    rows,
    keep_masks,
    id_lo: int | None = None,
    id_hi: int | None = None,
    dead: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a term's posting rows (one per generation) with per-row keep
    masks (None = full), concatenated and sorted ascending by doc id (block
    runs interleave after chunked merges; downstream searchsorted lookups
    need global order). Ids in the sorted ``dead`` array (tombstones) are
    dropped first. A shard range then clips the result to ids in
    [id_lo, id_hi) — straddling blocks decode whole, their out-of-range
    tail is dropped here."""
    parts = []
    for r, keep in zip(rows, keep_masks):
        parts.append(
            decode_postings(
                r.ids, r.tfs, r.dls, r.block_firsts, r.block_lens,
                keep, r.ids_offs, r.tfs_offs, r.dls_offs,
            )
        )
    ids = np.concatenate([p[0] for p in parts])
    tfs = np.concatenate([p[1] for p in parts])
    dls = np.concatenate([p[2] for p in parts])
    order = np.argsort(ids, kind="stable")
    ids, tfs, dls = ids[order], tfs[order], dls[order]
    if dead is not None and dead.size and ids.size:
        live = ~in_sorted(dead, ids)
        ids, tfs, dls = ids[live], tfs[live], dls[live]
    if id_lo is not None:
        lo = np.searchsorted(ids, id_lo, side="left")
        hi = np.searchsorted(ids, id_hi, side="left")
        ids, tfs, dls = ids[lo:hi], tfs[lo:hi], dls[lo:hi]
    return ids, tfs, dls


def _term_scores(
    term: str,
    cand: np.ndarray,
    dl: np.ndarray,
    decoded: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    idf_map: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
) -> tuple[np.ndarray, np.ndarray]:
    """(B, S) for a Word leaf over candidate doc ids — the executor twin of
    ``oracle.OracleIndex.term_scores`` (same searchsorted lookup, same
    float order), with tf sourced from the decoded (possibly rank-safely
    pruned) arrays and idf from the live-df values (driver-shipped, or
    counted by ``evaluate_group`` on a tombstoned index)."""
    tf = np.zeros(cand.size, dtype=np.float64)
    entry = decoded.get(term)
    if entry is not None and entry[0].size:
        ids, tfs, _ = entry
        pos = np.searchsorted(ids, cand)
        pos_c = np.clip(pos, 0, ids.size - 1)
        hit = pos < ids.size
        hit &= ids[pos_c] == cand
        tf[hit] = tfs[pos_c[hit]].astype(np.float64)
    B = tf > 0
    S = np.zeros(cand.size, dtype=np.float64)
    idf = idf_map.get(term)
    if idf is not None:
        K = k1 * ((1.0 - b) + b * dl.astype(np.float64) / avgdl)
        S = np.where(B, idf * (tf / (tf + K)), 0.0)
    return B, S


def _fold(
    comp: QueryComp,
    B_map: dict[str, np.ndarray],
    S_map: dict[str, np.ndarray],
    n_cand: int,
) -> tuple[np.ndarray, np.ndarray]:
    """NumPy AST fold over precomputed per-leaf (B, S) — line-for-line the
    oracle's ``_fold`` (matching.rs:43-66 semantics, pinned float order).
    A Filter leaf reads its membership mask from ``B_map`` under
    ``filter_key(name, value)`` and scores 0.0; an absent leaf matches
    nothing."""
    if isinstance(comp, Filter):
        B = B_map.get(filter_key(comp.name, comp.value))
        if B is None:
            B = np.zeros(n_cand, dtype=bool)
        return B, np.zeros(n_cand, dtype=np.float64)
    if isinstance(comp, Word):
        B = B_map.get(comp.word)
        if B is None:
            return (
                np.zeros(n_cand, dtype=bool),
                np.zeros(n_cand, dtype=np.float64),
            )
        return B, S_map[comp.word]
    if isinstance(comp, Not):
        Bc, _ = _fold(comp.comp, B_map, S_map, n_cand)
        return ~Bc, np.zeros(n_cand, dtype=np.float64)
    if isinstance(comp, NAmong):
        Bs, Ss = [], []
        for ch in comp.among:
            Bc, Sc = _fold(ch, B_map, S_map, n_cand)
            Bs.append(Bc)
            Ss.append(Sc)
        Bm = np.stack(Bs)
        Sm = np.stack(Ss)
        matched = Bm.sum(axis=0)
        gate = matched >= comp.n
        masked = np.where(Bm, Sm, -np.inf)
        desc = -np.sort(-masked, axis=0)  # descending per candidate
        take = min(comp.n, len(comp.among))
        acc = np.zeros(n_cand, dtype=np.float64)
        for i in range(take):  # pinned left-fold in descending order
            row = desc[i]
            acc = acc + np.where(np.isfinite(row), row, 0.0)
        S = np.where(gate, acc / float(comp.n), 0.0)
        return gate, S
    raise TypeError(f"group-eval fold cannot evaluate {type(comp).__name__}")


def evaluate_group(
    members: list[tuple[str, Query]],
    rows: dict[str, list],
    df_map: dict[str, int],
    idf_map: dict[str, float],
    k: int | None,
    avgdl: float,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_lo: int | None = None,
    id_hi: int | None = None,
    dead: np.ndarray | None = None,
    bounds_valid: bool = True,
    n_docs: int | None = None,
    filters: dict[str, np.ndarray] | None = None,
    prune: bool = True,
) -> list[tuple[str, int, float]]:
    """Evaluate one co-located group of member queries; returns
    (query_id, doc_id, score) rows — exact top-k per member (every match
    when ``k`` is None) in (score desc, doc_id asc) order, the oracle's
    floats.

    ``rows``: term -> posting rows (itertuples of the scanned blob
    columns, one per generation). ``df_map`` (stored df) only orders the
    candidate-source choices; scores read ``idf_map``.

    ``filters``: ``filter_key(name, value)`` -> the live doc ids of that
    metadata filter (any order). A filter a member uses but ``filters``
    lacks matches no doc here.

    ``prune``: False decodes every member term whole and takes each
    member's candidates from all its positive leaves — the unpruned
    reference (the engine's ``wand="off"``).

    ``dead``: sorted tombstoned doc ids, dropped from every decode.
    ``bounds_valid``: the stored block maxes are exact (the engine's
    ``wand_safe``); False turns the max-fold greedy off. A member term
    missing from ``idf_map`` decodes whole and takes
    ``bm25_idf(n_docs, surviving ids)`` — valid only on an unsharded group,
    which sees the term's whole posting list.

    ``id_lo/id_hi``: the shard's doc-id range (None = unsharded). Every
    decode and filter array clips to the range, so the returned rows are
    the member's exact top-k *among docs in the range*; per-candidate
    scores are elementwise over that doc's own (tf, dl) and global (idf,
    avgdl), hence identical floats to the unsharded path. A term whose
    blobs were range-pruned before the shuffle simply isn't ``present``
    here — semantically "no postings in this id range", which every plan
    kind already handles."""
    present = set(rows)
    ranged = id_lo is not None
    fids: dict[str, np.ndarray] = {}
    for key, ids in (filters or {}).items():
        ids = np.unique(np.asarray(ids, dtype=np.int64))
        fids[key] = ids[(ids >= id_lo) & (ids < id_hi)] if ranged else ids
    # ---- pass 1: classify members, mark per-term decode needs ----------
    plans: list[tuple[str, Query, str, list[str], list[str]]] = []
    need_full: set[str] = set()
    greedy: set[str] = set()
    for qid, q in members:
        qterms = [t for t in dict.fromkeys(q.terms()) if t in present]
        pos = [t for t in dict.fromkeys(q.positive_terms()) if t in present]
        pos_f = [
            key
            for key in dict.fromkeys(filter_key(n, v) for n, v in q.positive_filters())
            if key in fids
        ]
        if not pos and not pos_f:
            continue  # no candidate source -> empty member result
        qdf = {t: df_map[t] for t in qterms}
        if not prune:
            need_full.update(qterms)
            plans.append((qid, q, "general", pos, pos_f))
            continue
        if is_max_fold(q.root):
            (greedy if bounds_valid and k else need_full).update(pos)
            plans.append((qid, q, "maxfold", pos, []))
            continue
        req = required_words(q.root)
        if req:
            if req - set(qdf):
                continue  # a required word has no postings -> empty
            rare = min(req, key=lambda t: (qdf[t], t))
            need_full.add(rare)
            plans.append((qid, q, "conj", [rare], []))
            continue
        cover = nofm_cover_words(q.root, qdf)
        if cover is not None:
            if not cover:
                continue  # fewer than n children present -> empty
            uniq = list(dict.fromkeys(cover))
            need_full.update(uniq)
            plans.append((qid, q, "nofm", uniq, []))
            continue
        # general shape (nested folds, NOTs over subtrees, filters): full
        # decode, exact by construction
        need_full.update(qterms)
        plans.append((qid, q, "general", pos, pos_f))

    # idf not shipped (tombstoned, unsharded group): decode whole and
    # count the surviving ids — the term's live df
    own_idf = {
        t for _qid, q, _kind, _src, _fsrc in plans for t in q.terms()
        if t in present and t not in idf_map
    }
    need_full |= own_idf

    decoded: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    for t in need_full:
        masks = [
            select_blocks_range(r, id_lo, id_hi) if ranged else None
            for r in rows[t]
        ]
        decoded[t] = _decode_term(rows[t], masks, id_lo, id_hi, dead)
    if own_idf:
        idf_map = {
            **idf_map,
            **{t: bm25_idf(n_docs, decoded[t][0].size) for t in own_idf},
        }

    # ---- member candidate sets (from fully-decoded source terms) -------
    member_cand: dict[int, np.ndarray] = {}
    for i, (_qid, _q, kind, src_terms, _fsrc) in enumerate(plans):
        if kind in ("conj", "nofm"):
            member_cand[i] = np.unique(
                np.concatenate([decoded[t][0] for t in src_terms])
            )

    # ---- pass 2: decode remaining terms with the UNION of member needs -
    rest: set[str] = set()
    for _qid, q, _kind, _src, _fsrc in plans:
        rest.update(t for t in q.terms() if t in present)
    for t in sorted(rest - set(decoded)):
        trows = rows[t]
        masks: list[np.ndarray | None] = []
        for r in trows:
            m: np.ndarray | None = None
            if t in greedy:
                m = select_blocks_topk(r, k, k1, b, avgdl, id_lo, id_hi)
            for i, (_qid, q, kind, _src, _fsrc) in enumerate(plans):
                if kind not in ("conj", "nofm") or t not in q.terms():
                    continue
                mi = select_blocks_intersect(r, member_cand[i])
                m = mi if m is None else (m | mi)
            if m is None:
                # no query-driven mask: decode the shard range (all blocks
                # on an unsharded group)
                m = select_blocks_range(r, id_lo, id_hi) if ranged else None
            masks.append(m)
        decoded[t] = _decode_term(trows, masks, id_lo, id_hi, dead)

    # ---- pass 3: evaluate each member over its candidates --------------
    recs: list[tuple[str, int, float]] = []
    for i, (qid, q, kind, src_terms, src_f) in enumerate(plans):
        if kind in ("conj", "nofm"):
            cand = member_cand[i]
            arrs = [decoded[t] for t in src_terms]
        else:
            arrs = [decoded[t] for t in src_terms if decoded[t][0].size]
            srcs = [a[0] for a in arrs] + [fids[key] for key in src_f]
            if not srcs:
                continue
            cand = np.unique(np.concatenate(srcs))
        if cand.size == 0:
            continue
        # doc length per candidate, from its own posting in a source array;
        # a filter-only candidate holds no positive term, so every Word
        # score it could take is masked out and its dl is never read
        dl = np.zeros(cand.size, dtype=np.int64)
        if arrs:
            ids_c = np.concatenate([a[0] for a in arrs])
            dls_c = np.concatenate([a[2] for a in arrs])
            uniq, first = np.unique(ids_c, return_index=True)
            dl[np.searchsorted(cand, uniq)] = dls_c[first]
        B_map: dict[str, np.ndarray] = {}
        S_map: dict[str, np.ndarray] = {}
        for t in dict.fromkeys(q.terms()):
            B_map[t], S_map[t] = _term_scores(
                t, cand, dl, decoded, idf_map, k1, b, avgdl
            )
        for n, v in q.filters():
            key = filter_key(n, v)
            if key in fids:
                B_map[key] = in_sorted(fids[key], cand)
        Bq, Sq = _fold(q.root, B_map, S_map, cand.size)
        keep = np.flatnonzero(Bq)
        if keep.size == 0:
            continue
        ids_k = cand[keep]
        sc = Sq[keep]
        order = np.lexsort((ids_k, -sc))[:k]
        recs.extend((qid, int(ids_k[j]), float(sc[j])) for j in order)
    return recs


def group_members(
    members: dict[str, Query], df_map: dict[str, int]
) -> list[list[str]]:
    """Connected components of member queries sharing indexed terms
    (union-find): each component's blobs co-locate in one shuffle
    partition, so a shared term is scanned and decoded once."""
    parent: dict[str, str] = {qid: qid for qid in members}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    term_owner: dict[str, str] = {}
    for qid, q in members.items():
        for t in q.terms():
            if t not in df_map:
                continue
            if t in term_owner:
                ra, rb = find(qid), find(term_owner[t])
                if ra != rb:
                    parent[ra] = rb
            else:
                term_owner[t] = qid
    comps: dict[str, list[str]] = {}
    for qid in members:
        comps.setdefault(find(qid), []).append(qid)
    return [sorted(v) for _r, v in sorted(comps.items())]
