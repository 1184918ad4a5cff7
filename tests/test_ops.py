"""Ops-level invariants not covered by the DuckDB entry-parity gate."""

import pytest
from pyspark.sql import functions as F

from admarus_spark.ops import multimodal as mm
from admarus_spark.ops import similarity as sim

SF_SMALL = "/root/testdata/sf0.001"


def test_bmp_roundtrip_identity():
    """encode_bmp -> decode_image must reproduce the pixel array exactly,
    including 4-byte row padding (odd widths) and the bottom-up row order."""
    import numpy as np

    rng = np.random.default_rng(7)
    for h, w in [(8, 8), (5, 7), (1, 1), (3, 13), (0, 4)]:
        gray = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        img = mm.decode_image(mm.encode_bmp(gray))
        assert img.shape == (h, w, 3)
        for c in range(3):
            assert (img[:, :, c] == gray).all(), (h, w, c)


def test_ppm_decode():
    """Binary PPM (P6) with comments and an odd width decodes exactly."""
    import numpy as np

    rng = np.random.default_rng(11)
    h, w = 4, 5
    body = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    payload = b"P6\n# a comment\n" + f"{w} {h}\n255\n".encode() + body.tobytes()
    img = mm.decode_image(payload)
    assert img.shape == (h, w, 3)
    assert (img == body).all()


def test_decode_image_rejects_compressed():
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x89PNG\r\n\x1a\nxxxx")


def test_media_features_matches_decode_image(spark):
    feats = {
        r["doc_id"]: r
        for r in mm.media_features(spark, SF_SMALL).collect()
    }
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(20).collect()
    for d in docs:
        img = mm.decode_image(mm.make_image_payload(d["doc_id"], d["text"]))
        r = feats[d["doc_id"]]
        assert r["decode_ok"] and (r["height"], r["width"]) == img.shape[:2]
        assert abs(r["mean_px_r"] - img[:, :, 0].mean()) < 1e-8, d["doc_id"]


def test_neardup_exact_guard_raises(spark):
    with pytest.raises(ValueError, match="O\\(n\\^2\\)"):
        sim.neardup_pairs_exact(spark, SF_SMALL, max_rows=1)


def test_neardup_bucketed_subset_of_exact(spark):
    exact = {
        (r["vec_a"], r["vec_b"]) for r in sim.neardup_pairs_exact(spark, SF_SMALL).collect()
    }
    bucketed = {
        (r["vec_a"], r["vec_b"]) for r in sim.neardup_pairs(spark, SF_SMALL).collect()
    }
    assert bucketed <= exact
    assert bucketed  # the LSH blocking must still find same-bucket near-dups


def test_dedup_hash_swap_xxhash64(spark, tmp_path):
    """The md5-for-oracle-parity claim: swapping the dedup hash to the
    JVM-native xxhash64 must preserve (a) the exact grouping STRUCTURE of
    exact dedup, (b) the single-pass no-cartesian plan shape of MinHash,
    and (c) recall of true duplicate pairs through LSH banding."""
    import pandas as pd

    from admarus_spark.ops import dedup

    uniq = [
        f"alpha{i} bravo{i} charlie{i} delta{i} echo{i} foxtrot{i} golf{i} hotel{i}"
        for i in range(10)
    ]
    texts = [uniq[i % 10] for i in range(40)]  # 10 contents x 4 copies
    pdf = pd.DataFrame({"doc_id": range(40), "text": texts})
    d = str(tmp_path / "dupcorp")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    # (a) identical grouping structure: same (keep_id, cnt) partition
    g_md5 = sorted(
        (r["keep_id"], r["cnt"]) for r in dedup.exact_groups(spark, d).collect()
    )
    g_xx = sorted(
        (r["keep_id"], r["cnt"])
        for r in dedup.exact_groups(spark, d, hash_method="xxhash64").collect()
    )
    assert g_md5 == g_xx == [(i, 4) for i in range(10)]

    # (b) plan shape: xxhash64 lands in the plan, still ONE aggregation pass
    # over the shingle stream, no cartesian/cross join anywhere
    bands = dedup.minhash_bands(spark, d, hash_method="xxhash64")
    plan = bands._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan

    # (c) every identical-content pair is recalled by LSH banding under
    # BOTH hashes (identical text -> identical signature -> same buckets)
    want = {
        (a, b)
        for i in range(10)
        for a in range(i, 40, 10)
        for b in range(i, 40, 10)
        if a < b
    }
    for method in ("md5", "xxhash64"):
        got = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.minhash_pairs(spark, d, hash_method=method).collect()
        }
        assert want <= got, method


def test_wav_roundtrip_identity():
    """encode_wav -> decode_audio must reproduce rate and samples exactly,
    including empty and odd-length sample arrays (word-aligned chunk walk)."""
    import numpy as np

    rng = np.random.default_rng(13)
    for n, rate in [(0, 8000), (1, 8000), (63, 12000), (256, 20000)]:
        samples = rng.integers(-(1 << 15), 1 << 15, size=n, dtype=np.int16)
        got_rate, frames = mm.decode_audio(mm.encode_wav(samples, rate))
        assert got_rate == rate
        assert frames.shape == (n, 1)
        assert (frames[:, 0] == samples).all()


def test_wav_chunk_walk_skips_extra_chunks():
    """A LIST chunk between fmt and data (common in real files) must be
    skipped by the chunk walk, including the odd-length padding byte."""
    import numpy as np

    samples = np.arange(-5, 6, dtype=np.int16)
    payload = mm.encode_wav(samples, 16000)
    # splice an odd-length LIST chunk after fmt (offset 12..36 is fmt)
    extra = b"LIST" + (5).to_bytes(4, "little") + b"INFOx" + b"\x00"
    spliced = payload[:36] + extra + payload[36:]
    # fix RIFF size
    spliced = (
        spliced[:4] + (len(spliced) - 8).to_bytes(4, "little") + spliced[8:]
    )
    rate, frames = mm.decode_audio(spliced)
    assert rate == 16000 and (frames[:, 0] == samples).all()


def test_decode_audio_rejects_compressed():
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"\xff\xfb\x90\x00mp3frame")
    import numpy as np

    # float WAV (fmt=3) is a real container we genuinely cannot decode
    p = bytearray(mm.encode_wav(np.zeros(4, np.int16), 8000))
    p[20:22] = (3).to_bytes(2, "little")
    with pytest.raises(NotImplementedError):
        mm.decode_audio(bytes(p))


def test_decode_audio_zero_channels_is_valueerror():
    """channels=0 in the fmt chunk must raise ValueError (the malformed-
    payload class callers catch into decode_ok=False), not ZeroDivisionError
    — a bare arithmetic error would fail the whole Spark task on one corrupt
    blob (r5 review #4)."""
    import numpy as np

    p = bytearray(mm.encode_wav(np.zeros(4, np.int16), 8000))
    p[22:24] = (0).to_bytes(2, "little")  # fmt chunk channel count
    with pytest.raises(ValueError):
        mm.decode_audio(bytes(p))


def test_media_audio_features_matches_decode_audio(spark):
    feats = {
        r["doc_id"]: r
        for r in mm.media_audio_features(spark, SF_SMALL).collect()
    }
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(20).collect()
    for d in docs:
        rate, frames = mm.decode_audio(mm.make_audio_payload(d["doc_id"], d["text"]))
        r = feats[d["doc_id"]]
        assert r["decode_ok"] and r["sample_rate"] == rate
        assert r["n_samples"] == frames.shape[0]
        import numpy as np

        want = float(np.abs(frames[:, 0].astype(np.int64)).sum()) / frames.shape[0]
        assert abs(r["mean_abs_r"] - want) < 1e-8, d["doc_id"]


def test_y4m_roundtrip_identity():
    """encode_y4m -> decode_video must reproduce fps and every frame
    exactly, including the zero-frame container."""
    import numpy as np

    rng = np.random.default_rng(17)
    for n, h, w in [(0, 4, 4), (1, 3, 5), (7, 6, 4)]:
        frames = rng.integers(0, 256, size=(n, h, w), dtype=np.uint8)
        fps, got = mm.decode_video(mm.encode_y4m(frames, 25))
        assert fps == 25 and got.shape == (n, h, w)
        assert (got == frames).all()


def test_decode_video_rejects_compressed():
    with pytest.raises(NotImplementedError):
        mm.decode_video(b"\x00\x00\x00\x18ftypmp42....")
    # non-mono Y4M is a real container we genuinely cannot expand here
    with pytest.raises(NotImplementedError):
        mm.decode_video(b"YUV4MPEG2 W4 H4 F25:1 C420jpeg\nFRAME\n" + b"\x00" * 24)


def test_media_video_features_matches_decode_video(spark):
    feats = {
        r["doc_id"]: r
        for r in mm.media_video_features(spark, SF_SMALL).collect()
    }
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(20).collect()
    for d in docs:
        _fps, frames = mm.decode_video(mm.make_video_payload(d["doc_id"], d["text"]))
        k = mm.video_params(d["doc_id"])[4]
        sampled = frames[::k]
        r = feats[d["doc_id"]]
        assert r["decode_ok"] and r["n_frames"] == frames.shape[0]
        assert r["n_sampled"] == sampled.shape[0]
        import numpy as np

        want = float(sampled.mean(dtype=np.float64))
        assert abs(r["mean_luma_r"] - want) < 1e-8, d["doc_id"]


def test_token_counts_whitespace_dialect_parity(spark, tmp_path):
    """n_ws must agree between Spark and DuckDB even on \\x0B (vertical tab):
    Java regex \\s matches it, RE2's does not — both sides now spell the
    whitespace class explicitly (r5 review)."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from admarus_spark.ops import textstats as ts

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["alpha\x0bbeta gamma", "plain words here"],
            "lang": ["en", "en"],
        }
    )
    d = str(tmp_path / "sfvt")
    import os

    os.makedirs(d)
    pq.write_table(pa.Table.from_pandas(pdf), f"{d}/documents.parquet")

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_distinct"], r["n_ws"])
        for r in ts.token_counts(spark, d).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    want = {
        int(r[0]): (int(r[1]), int(r[2]), int(r[3]))
        for r in con.execute(ts.TOKEN_COUNTS_SQL).fetchall()
    }
    assert got == want
    # \x0B does NOT split: 'alpha\x0bbeta' is one ws-chunk on both engines
    assert got[1][2] == 2


def test_windows_delta_empty_events(spark, tmp_path):
    """An empty events table must return an empty result with the normal
    schema, not crash on `None - timedelta` (r5 review)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from admarus_spark.ops import events as ev

    d = str(tmp_path / "sfempty")
    os.makedirs(d)
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("event_type", pa.string()),
            ("user_id", pa.int64()),
            ("value", pa.float64()),
            ("ts", pa.timestamp("us")),
        ]
    )
    pq.write_table(pa.Table.from_pylist([], schema=schema), f"{d}/events.parquet")
    out = ev.windows_delta(spark, d)
    assert out.count() == 0
    assert "delta_n" in out.columns


def test_read_wide_memo_follows_rewrite(spark, tmp_path):
    """The narrow/wide scan decision is memoized per path AND file layout: a
    path rewritten from one row group to many files gets a fresh probe
    instead of the stale 'narrow' answer."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from admarus_spark.ops._scan import read_wide

    n = spark.sparkContext.defaultParallelism
    path = tmp_path / "rewritten.parquet"
    tbl = pa.table({"x": list(range(64 * n))})

    def widened() -> bool:
        plan = read_wide(spark, str(path))._jdf.queryExecution().logical().toString()
        return "Repartition" in plan

    path.mkdir()
    pq.write_table(tbl, path / "part-00000.parquet")  # one row group
    assert widened()
    shutil.rmtree(path)
    path.mkdir()
    for i in range(2 * n):
        pq.write_table(tbl.slice(32 * i, 32), path / f"part-{i:05d}.parquet")
    assert not widened()
