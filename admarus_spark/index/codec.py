"""Posting-list codec: blocked delta + varint, with block-max metadata.

The reference persists postings as raw concatenated ``(u32 docid LE, f32 tf
LE)`` pairs, unsorted (``/root/reference/daemon/src/database.rs:98-110``).
Per the north star we upgrade the storage format: per term, doc ids are
sorted ascending, split into blocks of ``BLOCK_SIZE`` docs; each block stores
its first doc id absolute (``block_firsts``) and within-block gaps
varint-encoded; tfs and doc lengths are varint streams; a per-block maximum
of the BM25 tf-saturation term is kept for block-max WAND skipping.

Blocks are self-contained (no cross-block deltas) so the per-partition
partial encodings of a hot term (the build's local-merge plan) are merged by
plain block-list concatenation — the skew story (SURVEY.md §2.3 A2, §4
O10/O11).

Everything is vectorized NumPy (runs inside Arrow-batched Spark UDFs; no
per-row Python).
"""

from __future__ import annotations

import numpy as np

from .. import BLOCK_SIZE, BM25_B, BM25_K1

__all__ = [
    "encode_varint",
    "decode_varint",
    "encode_postings",
    "encode_postings_many",
    "decode_postings",
    "block_max_saturation",
    "merge_encoded_chunks",
]


def encode_varint(a: np.ndarray) -> bytes:
    """LEB128-style varint encoding of a uint64 array (vectorized)."""
    return _encode_varint_lens(a)[0]


def _encode_varint_lens(a: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Varint encode + per-value byte lengths (for block byte offsets).

    Build-side hot path (~every posting value flows through here three
    times), so the write loop works on a SHRINKING index set: byte 0 of
    every value is one unmasked scatter, then only the values still needing
    bytes stay in play (real streams are 70-99% single-byte — tf/gap/dl
    distributions — so pass k touches a fraction of pass k-1). The old
    full-size boolean-mask passes re-scanned all n values per byte."""
    a = np.ascontiguousarray(a, dtype=np.uint64)
    n = a.size
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    # byte widths via thresholds (no shifted temporaries): iterations bounded
    # by the width of the LARGEST value, each one compare + add
    nbytes = np.ones(n, dtype=np.int64)
    amax = int(a.max())
    thr = 1 << 7
    while amax >= thr:
        nbytes += a >= np.uint64(thr)
        thr <<= 7
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.empty(int(ends[-1]), dtype=np.uint8)
    more = nbytes > 1
    out[starts] = (
        (a & np.uint64(0x7F)) | (more.astype(np.uint64) << np.uint64(7))
    ).astype(np.uint8)
    idx = np.flatnonzero(more)
    if idx.size:
        vals = a[idx] >> np.uint64(7)
        pos = starts[idx] + 1
        rem = nbytes[idx] - 1
        while True:
            m = rem > 1
            out[pos] = (
                (vals & np.uint64(0x7F)) | (m.astype(np.uint64) << np.uint64(7))
            ).astype(np.uint8)
            if not m.any():
                break
            sel = np.flatnonzero(m)
            vals = vals[sel] >> np.uint64(7)
            pos = pos[sel] + 1
            rem = rem[sel] - 1
    return out.tobytes(), nbytes


def decode_varint(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode a varint byte stream into a uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray)) else buf
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    vid = np.zeros(b.size, dtype=np.int64)
    vid[1:] = np.cumsum(is_last)[:-1]
    starts = np.flatnonzero(np.concatenate(([True], is_last[:-1])))
    pos_in_val = np.arange(b.size, dtype=np.int64) - starts[vid]
    contrib = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos_in_val.astype(np.uint64))
    out = np.zeros(int(is_last.sum()), dtype=np.uint64)
    np.add.at(out, vid, contrib)  # bit-disjoint contributions: add == or
    return out


def block_max_saturation(
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    block_starts: np.ndarray,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> np.ndarray:
    """Per-block max of the idf-free BM25 saturation tf/(tf+K(dl)) — an exact
    upper bound used for rank-safe block skipping (block-max WAND)."""
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    sat = tf / (tf + k1 * ((1.0 - b) + b * dl / float(avgdl)))
    return np.maximum.reduceat(sat, block_starts)


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Encode one term's posting list (doc_ids sorted ascending).

    Returns dict with: ids_blob, tfs_blob, dls_blob (bytes), block_firsts /
    block_lasts (int64 lists — per-block id range bounds; lasts are the
    standard block-max metadata enabling exact range-based block skipping
    even after chunk-concatenated merges, where firsts alone are not
    monotonic), block_lens (int32 list).
    """
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    n = doc_ids.size
    block_starts = np.arange(0, n, block_size, dtype=np.int64)
    block_lens = np.diff(np.append(block_starts, n)).astype(np.int32)
    gaps = np.empty(n, dtype=np.uint64)
    if n:
        gaps[0] = 0
        np.subtract(doc_ids[1:], doc_ids[:-1], out=gaps[1:], casting="unsafe")
        gaps[block_starts] = 0  # block-local: first id stored absolute
    ids_blob, ids_lens = _encode_varint_lens(gaps)
    tfs_blob, tfs_lens = _encode_varint_lens(np.ascontiguousarray(tfs, dtype=np.uint64))
    dls_blob, dls_lens = _encode_varint_lens(np.ascontiguousarray(dls, dtype=np.uint64))

    def _offs(lens: np.ndarray) -> list[int]:
        cum = np.concatenate(([0], np.cumsum(lens)))
        return cum[block_starts].tolist()

    return {
        "ids_blob": ids_blob,
        "tfs_blob": tfs_blob,
        "dls_blob": dls_blob,
        "block_firsts": doc_ids[block_starts].tolist(),
        "block_lasts": doc_ids[block_starts + block_lens.astype(np.int64) - 1].tolist(),
        "block_lens": block_lens.tolist(),
        "ids_offs": _offs(ids_lens),
        "tfs_offs": _offs(tfs_lens),
        "dls_offs": _offs(dls_lens),
    }


def encode_postings_many(
    ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    term_starts: np.ndarray,
    block_size: int = BLOCK_SIZE,
    avgdl: float | None = None,
    flat: bool = False,
) -> dict:
    """Encode MANY terms' posting lists in three whole-partition varint
    passes instead of one ``encode_postings`` call per term.

    Input arrays are term-major: rows sorted by (term, doc_id);
    ``term_starts`` marks each term run's first row. With a realistic
    source-code vocabulary a partition holds 10^4-10^5 term runs, and the
    per-call overhead of per-term encoding (~130 us/term measured) dominates
    the whole build stage — this path replaces it with vectorized block
    bookkeeping + ONE varint encode per stream + cheap per-term blob
    slicing. Output rows are byte-identical to per-term
    ``encode_postings`` (verified by test_codec.py).

    When ``avgdl`` is given, the output also carries ``block_max``
    (per-block max BM25 saturation) computed in one global reduceat.

    Returns a dict of COLUMNS (length k = number of terms): ``df`` int64
    array; ``ids``/``tfs``/``dls`` lists of bytes; the block metadata
    fields as lists of ndarray views (np.split — no per-term Python
    conversion; Arrow consumes ndarray list-values directly).

    ``flat=True`` skips the per-term np.split entirely: block metadata
    fields come back as FLAT arrays plus ``nb`` (blocks per term), for
    zero-copy ``pa.ListArray.from_arrays`` construction — at 10^5 terms
    per bucket the per-term view/list materialization is a measurable
    slice of build stage 2."""
    ids = np.ascontiguousarray(ids, dtype=np.int64)
    n = ids.size
    term_starts = np.asarray(term_starts, dtype=np.int64)
    k = term_starts.size
    if n == 0 or k == 0:
        return {"df": np.empty(0, np.int64)}
    term_ends = np.concatenate((term_starts[1:], [n]))
    term_lens = term_ends - term_starts
    bs = int(block_size)
    nb = (term_lens + bs - 1) // bs  # blocks per term
    first_block = np.concatenate(([0], np.cumsum(nb[:-1])))
    total_blocks = int(nb.sum())
    blk_term = np.repeat(np.arange(k, dtype=np.int64), nb)
    local_idx = np.arange(total_blocks, dtype=np.int64) - first_block[blk_term]
    block_starts = term_starts[blk_term] + local_idx * bs
    block_lens = np.minimum(term_lens[blk_term] - local_idx * bs, bs)

    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = 0
    np.subtract(ids[1:], ids[:-1], out=gaps[1:])
    gaps[block_starts] = 0  # block-local deltas; first id stored absolute
    ids_blob, ids_lens = _encode_varint_lens(gaps.astype(np.uint64))
    tfs_blob, tfs_lens = _encode_varint_lens(np.ascontiguousarray(tfs, dtype=np.uint64))
    dls_blob, dls_lens = _encode_varint_lens(np.ascontiguousarray(dls, dtype=np.uint64))

    block_firsts = ids[block_starts]
    block_lasts = ids[block_starts + block_lens - 1]

    def _cums(lens: np.ndarray) -> np.ndarray:
        c = np.empty(n + 1, dtype=np.int64)
        c[0] = 0
        np.cumsum(lens, out=c[1:])
        return c

    ids_c, tfs_c, dls_c = _cums(ids_lens), _cums(tfs_lens), _cums(dls_lens)
    # per-block byte offsets RELATIVE to each term's blob start
    term_of_block_base_i = np.repeat(ids_c[term_starts], nb)
    term_of_block_base_t = np.repeat(tfs_c[term_starts], nb)
    term_of_block_base_d = np.repeat(dls_c[term_starts], nb)
    ids_offs = ids_c[block_starts] - term_of_block_base_i
    tfs_offs = tfs_c[block_starts] - term_of_block_base_t
    dls_offs = dls_c[block_starts] - term_of_block_base_d

    bsplit = first_block[1:]  # split points in block-index space

    def _blob_slices(blob: bytes, cum: np.ndarray) -> list[bytes]:
        mv = memoryview(blob)
        lo = cum[term_starts]
        hi = cum[term_ends]
        return [bytes(mv[a:b]) for a, b in zip(lo.tolist(), hi.tolist())]

    if flat:
        out = {
            "df": term_lens,
            "nb": nb,
            "ids": _blob_slices(ids_blob, ids_c),
            "tfs": _blob_slices(tfs_blob, tfs_c),
            "dls": _blob_slices(dls_blob, dls_c),
            "block_firsts": block_firsts,
            "block_lasts": block_lasts,
            "block_lens": block_lens.astype(np.int32),
            "ids_offs": ids_offs,
            "tfs_offs": tfs_offs,
            "dls_offs": dls_offs,
        }
        if avgdl is not None:
            out["block_max"] = block_max_saturation(
                np.asarray(tfs), np.asarray(dls), float(avgdl), block_starts
            )
        return out
    out = {
        "df": term_lens,
        "ids": _blob_slices(ids_blob, ids_c),
        "tfs": _blob_slices(tfs_blob, tfs_c),
        "dls": _blob_slices(dls_blob, dls_c),
        "block_firsts": np.split(block_firsts, bsplit),
        "block_lasts": np.split(block_lasts, bsplit),
        "block_lens": np.split(block_lens.astype(np.int32), bsplit),
        "ids_offs": np.split(ids_offs, bsplit),
        "tfs_offs": np.split(tfs_offs, bsplit),
        "dls_offs": np.split(dls_offs, bsplit),
    }
    if avgdl is not None:
        bmax = block_max_saturation(
            np.asarray(tfs), np.asarray(dls), float(avgdl), block_starts
        )
        out["block_max"] = np.split(bmax, bsplit)
    return out


def _gather_blocks(blob: bytes, offs: np.ndarray, keep: np.ndarray) -> bytes:
    """Concatenate the byte ranges of the kept blocks (true block skipping)."""
    ends = np.concatenate((offs[1:], [len(blob)])).astype(np.int64)
    mv = memoryview(blob)
    return b"".join(mv[int(s) : int(e)] for s, e, k in zip(offs, ends, keep) if k)


def decode_postings(
    ids_blob: bytes,
    tfs_blob: bytes,
    dls_blob: bytes,
    block_firsts,
    block_lens,
    keep_blocks: np.ndarray | None = None,
    ids_offs=None,
    tfs_offs=None,
    dls_offs=None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one term's posting list back to (doc_ids, tfs, dls).

    ``keep_blocks``: optional boolean mask over blocks (block-max WAND skip).
    When the per-stream block byte offsets are provided, skipped blocks are
    never even varint-decoded — this is what makes block-max skipping an
    actual I/O/CPU win, not a post-filter.
    """
    block_firsts = np.asarray(block_firsts, dtype=np.int64)
    block_lens = np.asarray(block_lens, dtype=np.int64)
    if keep_blocks is not None and ids_offs is not None:
        keep = np.asarray(keep_blocks, dtype=bool)
        ids_blob = _gather_blocks(ids_blob, np.asarray(ids_offs, np.int64), keep)
        tfs_blob = _gather_blocks(tfs_blob, np.asarray(tfs_offs, np.int64), keep)
        dls_blob = _gather_blocks(dls_blob, np.asarray(dls_offs, np.int64), keep)
        block_firsts = block_firsts[keep]
        block_lens = block_lens[keep]
        keep_blocks = None  # already applied at the byte level
    gaps = decode_varint(ids_blob).astype(np.int64)
    n = gaps.size
    starts = np.cumsum(np.concatenate(([0], block_lens[:-1])))
    cs = np.cumsum(gaps)
    base = np.repeat(cs[starts] if n else np.empty(0, np.int64), block_lens)
    firsts_rep = np.repeat(block_firsts, block_lens)
    ids = firsts_rep + (cs - base)
    tfs = decode_varint(tfs_blob).astype(np.int64)
    dls = decode_varint(dls_blob).astype(np.int64)
    if keep_blocks is not None:
        mask = np.repeat(np.asarray(keep_blocks, dtype=bool), block_lens)
        ids, tfs, dls = ids[mask], tfs[mask], dls[mask]
    return ids, tfs, dls


def merge_encoded_chunks(chunks: list[dict]) -> dict:
    """Merge one term's partial encodings (local-merge: one chunk per tf
    partition) by concatenation.

    Blocks are self-contained, so the merge is pure concatenation with
    offset shifting — the cheap hot-term merge required by the north rule.
    Chunks hold disjoint doc ids but need not be in ascending id order:
    every block keeps its own [first, last] bounds, and readers sort the
    decoded ids (``group_eval._decode_term``).
    """
    out = {
        "ids_blob": b"".join(c["ids_blob"] for c in chunks),
        "tfs_blob": b"".join(c["tfs_blob"] for c in chunks),
        "dls_blob": b"".join(c["dls_blob"] for c in chunks),
        "block_firsts": [x for c in chunks for x in c["block_firsts"]],
        "block_lasts": [x for c in chunks for x in c.get("block_lasts", [])],
        "block_lens": [x for c in chunks for x in c["block_lens"]],
    }
    for key, blob_key in (("ids_offs", "ids_blob"), ("tfs_offs", "tfs_blob"), ("dls_offs", "dls_blob")):
        offs: list[int] = []
        shift = 0
        for c in chunks:
            offs.extend(int(o) + shift for o in c[key])
            shift += len(c[blob_key])
        out[key] = offs
    return out
