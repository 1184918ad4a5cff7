"""Property tests for the posting codec (hypothesis)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from admarus_spark.index.codec import (
    decode_postings,
    decode_varint,
    encode_postings,
    encode_varint,
    merge_encoded_chunks,
)


@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500)
)
@settings(max_examples=60, deadline=None)
def test_varint_roundtrip(vals):
    a = np.array(vals, dtype=np.uint64)
    assert decode_varint(encode_varint(a)).tolist() == vals


@given(
    st.integers(min_value=1, max_value=900),
    st.integers(min_value=0, max_value=2**31),
    st.randoms(use_true_random=False),
)
@settings(max_examples=40, deadline=None)
def test_postings_roundtrip_and_merge(n, base, rnd):
    rng = np.random.RandomState(rnd.randint(0, 2**31 - 1))
    ids = base + np.cumsum(rng.randint(1, 1000, size=n)).astype(np.int64)
    tfs = rng.randint(1, 1000, size=n).astype(np.int64)
    dls = rng.randint(3, 100000, size=n).astype(np.int64)
    enc = encode_postings(ids, tfs, dls, block_size=64)
    i2, t2, d2 = decode_postings(
        enc["ids_blob"], enc["tfs_blob"], enc["dls_blob"], enc["block_firsts"], enc["block_lens"]
    )
    assert np.array_equal(ids, i2) and np.array_equal(tfs, t2) and np.array_equal(dls, d2)

    # block skipping with byte offsets
    nb = len(enc["block_lens"])
    keep = rng.rand(nb) < 0.5
    i3, t3, d3 = decode_postings(
        enc["ids_blob"], enc["tfs_blob"], enc["dls_blob"],
        enc["block_firsts"], enc["block_lens"],
        keep, enc["ids_offs"], enc["tfs_offs"], enc["dls_offs"],
    )
    mask = np.repeat(keep, np.asarray(enc["block_lens"]))
    assert np.array_equal(i3, ids[mask]) and np.array_equal(t3, tfs[mask]) and np.array_equal(d3, dls[mask])

    # partial-chunk merge == whole-list encode (decoded equality)
    if n > 4:
        cut = sorted(rng.choice(np.arange(1, n), size=min(3, n - 1), replace=False))
        parts = np.split(np.arange(n), cut)
    else:
        parts = [np.arange(n)]
    chunks = [
        {k: v for k, v in encode_postings(ids[p], tfs[p], dls[p], block_size=64).items()}
        for p in parts
        if len(p)
    ]
    # rename to merge input keys
    chunks = [
        {
            "ids_blob": c["ids_blob"], "tfs_blob": c["tfs_blob"], "dls_blob": c["dls_blob"],
            "block_firsts": c["block_firsts"], "block_lens": c["block_lens"],
            "ids_offs": c["ids_offs"], "tfs_offs": c["tfs_offs"], "dls_offs": c["dls_offs"],
        }
        for c in chunks
    ]
    m = merge_encoded_chunks(chunks)
    i4, t4, d4 = decode_postings(
        m["ids_blob"], m["tfs_blob"], m["dls_blob"], m["block_firsts"], m["block_lens"]
    )
    assert np.array_equal(ids, i4) and np.array_equal(tfs, t4) and np.array_equal(d4, dls)


def test_empty():
    enc = encode_postings(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64))
    i, t, d = decode_postings(
        enc["ids_blob"], enc["tfs_blob"], enc["dls_blob"], enc["block_firsts"], enc["block_lens"]
    )
    assert i.size == t.size == d.size == 0


@given(
    st.lists(
        st.lists(
            st.tuples(
                st.integers(0, 2**40),        # id gap seeds
                st.integers(1, 1000),         # tf
                st.integers(1, 10**6),        # dl
            ),
            min_size=1,
            max_size=300,
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=60, deadline=None)
def test_encode_many_matches_per_term(terms_data):
    """encode_postings_many must be BYTE-identical, field by field, to one
    encode_postings call per term (the hot-path batched codec vs the
    reference per-term codec)."""
    from admarus_spark.index.codec import encode_postings_many

    ids_l, tfs_l, dls_l, starts = [], [], [], []
    pos = 0
    for rows in terms_data:
        gaps = np.array([r[0] % 97 + 1 for r in rows], dtype=np.int64)
        ids_l.append(np.cumsum(gaps))
        tfs_l.append(np.array([r[1] for r in rows], dtype=np.int64))
        dls_l.append(np.array([r[2] for r in rows], dtype=np.int64))
        starts.append(pos)
        pos += len(rows)
    ids = np.concatenate(ids_l); tfs = np.concatenate(tfs_l); dls = np.concatenate(dls_l)
    cols = encode_postings_many(ids, tfs, dls, np.array(starts), block_size=64, avgdl=437.0)
    for t, s in enumerate(starts):
        e = s + len(terms_data[t])
        one = encode_postings(ids[s:e], tfs[s:e], dls[s:e], block_size=64)
        assert cols["ids"][t] == one["ids_blob"]
        assert cols["tfs"][t] == one["tfs_blob"]
        assert cols["dls"][t] == one["dls_blob"]
        assert list(cols["block_firsts"][t]) == one["block_firsts"]
        assert list(cols["block_lasts"][t]) == one["block_lasts"]
        assert list(cols["block_lens"][t]) == one["block_lens"]
        assert list(cols["ids_offs"][t]) == one["ids_offs"]
        assert list(cols["tfs_offs"][t]) == one["tfs_offs"]
        assert list(cols["dls_offs"][t]) == one["dls_offs"]
        assert int(cols["df"][t]) == len(terms_data[t])
