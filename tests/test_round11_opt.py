"""Round-11 optimization pins: the vectorized Arrow byte-hash kernels must
be bit-identical to a pure-Python floor-bucket segment reference, and the
one-pass video signature to the public frame-hash composition (the oracle
gates run through these kernels, so any divergence here is an oracle-gate
break, not a perf detail)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cerebro_spark.operators.multimodal import byte_ahash_df, byte_dhash_df

EDGE_ROWS = [
    (1, "hello world this is a longer document body"),
    (2, "abcd" * 30),
    (3, ""),  # empty string -> fingerprint 0 on both paths
    (4, None),  # NULL content -> fingerprint 0 on both paths (JVM parity)
    (5, "héllo wörld ünïcode"),  # non-ASCII ord fallback
    (6, "x"),  # single char: no adjacent segment pair
    (7, "ab" * 500),
    (8, " \t  leading and trailing ws  "),
]


@pytest.fixture(scope="module")
def edge_df(spark):
    return spark.createDataFrame(EDGE_ROWS, "doc_id long, text string")


def _segments(text, S, shift):
    """Floor-bucket segments of a text's codepoint signal: position ``pos``
    of an n-char text lands in segment ``pos*S // n``.  Returns per-segment
    (sum of codepoint + shift, count) lists."""
    segsum, segcnt = [0] * S, [0] * S
    n = len(text)
    for pos, ch in enumerate(text):
        k = pos * S // n
        segsum[k] += ord(ch) + shift
        segcnt[k] += 1
    return segsum, segcnt


def ref_byte_dhash(text, rows=6, cols=11, shift=0):
    """Pure-Python dHash of the byte signal: bit r*(cols-1)+c is set iff
    the mean of segment r*cols+c+1 exceeds the mean of segment r*cols+c
    (cross-multiplied exact integers).  NULL content hashes to 0."""
    if text is None:
        return 0
    s, c = _segments(text, rows * cols, shift)
    h = 0
    for r in range(rows):
        for col in range(cols - 1):
            a, b = r * cols + col, r * cols + col + 1
            if s[b] * c[a] > s[a] * c[b]:
                h |= 1 << (r * (cols - 1) + col)
    return h


def ref_byte_ahash(text, rows=8, cols=7, shift=0):
    """Pure-Python aHash of the byte signal: bit k is set iff segment k's
    mean exceeds the whole text's mean.  NULL content hashes to 0."""
    if text is None:
        return 0
    s, c = _segments(text, rows * cols, shift)
    total, n = sum(s), len(text)
    return sum(1 << k for k in range(rows * cols) if s[k] * n > total * c[k])


@pytest.mark.parametrize("shift", [0, 2])
def test_byte_dhash_matches_python_reference(spark, edge_df, shift):
    """Kernel vs ``ref_byte_dhash`` on the edge rows (empty, NULL,
    non-ASCII, single char, long repeats)."""
    got = {r.id: r.dhash for r in byte_dhash_df(edge_df, shift=shift).collect()}
    assert got == {i: ref_byte_dhash(t, shift=shift) for i, t in EDGE_ROWS}


@pytest.mark.parametrize("shift", [0, 2])
def test_byte_ahash_matches_python_reference(spark, edge_df, shift):
    """Kernel vs ``ref_byte_ahash`` on the edge rows."""
    got = {r.id: r.ahash for r in byte_ahash_df(edge_df, shift=shift).collect()}
    assert got == {i: ref_byte_ahash(t, shift=shift) for i, t in EDGE_ROWS}


def test_dhash_stack_matches_scalar():
    import numpy as np

    from cerebro_spark.operators.multimodal import _dhash_stack, dhash_from_gray

    rng = np.random.RandomState(7)
    for h, w, rows, cols in [(2, 8, 2, 9), (6, 11, 6, 11), (5, 3, 2, 9)]:
        G = rng.randint(0, 256, size=(17, h, w)).astype(np.uint8)
        vec = _dhash_stack(G, rows, cols)
        ref = [dhash_from_gray(G[i], rows, cols) for i in range(len(G))]
        assert list(map(int, vec)) == ref


def test_avi_vectorized_encode_decode_roundtrip_bytes():
    """The vectorized movi assembly and bulk-luma decode must be
    byte/pixel-identical to the original per-frame paths."""
    import struct

    import numpy as np

    from cerebro_spark.operators.multimodal import (
        _decode_avi_frames,
        encode_avi_gray,
    )

    rng = np.random.RandomState(3)
    frames = [rng.randint(0, 256, size=(2, 8)).astype(np.uint8) for _ in range(9)]
    payload = encode_avi_gray(frames, fps=2)
    # reference per-frame movi assembly (the pre-r11 loop)
    h, w = 2, 8
    stride = (w * 3 + 3) // 4 * 4

    def chunk(fourcc, body):
        pad = b"\x00" if len(body) % 2 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    movi_ref = b""
    for g in frames:
        rows_ = np.zeros((h, stride), dtype=np.uint8)
        rows_[:, : w * 3] = np.repeat(g, 3, axis=1)
        movi_ref += chunk(b"00db", rows_[::-1].tobytes())
    assert movi_ref in payload  # vectorized assembly is byte-identical
    decoded = _decode_avi_frames(payload, every_ms=500)
    assert [ts for ts, _ in decoded] == [0, 500, 1000, 1500, 2000, 2500, 3000, 3500, 4000]
    for (_, g), ref in zip(decoded, frames):
        assert np.array_equal(g, ref)  # (v,v,v) luma round-trips exactly


def test_video_signature_arrow_matches_dataframe_composition(spark):
    """The one-pass Arrow video signature must be bit-identical to the
    public composition ``video_signature(video_frame_hash_df(...))`` for
    every id with frames; NULL and corrupt payloads yield (id, NULL)."""
    from cerebro_spark.io import load_table
    from cerebro_spark.operators.multimodal import (
        video_frame_hash_df,
        video_signature,
        video_signature_df,
    )
    from cerebro_spark.queries.multimodal_q import _synth_avi

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", F.expr("substring(text, 1, (length(text) div 16) * 16)").alias("text")
    )
    avi = _synth_avi(docs)
    planted = avi.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.lit(None).cast("binary"))
        .when(F.col("doc_id") % 11 == 5, F.lit(b"RIFFxxxxAVI corrupt").cast("binary"))
        .otherwise(F.col("payload"))
        .alias("payload"),
    )
    fast = {r.id: r.dhash for r in video_signature_df(
        planted, every_ms=500, on_error="null").collect()}
    frames = video_frame_hash_df(planted, every_ms=500, on_error="null")
    ref = {
        r.id: r.vfp
        for r in video_signature(
            frames.filter(F.col("fhash").isNotNull())
        ).collect()
    }
    assert len(fast) == 500 and ref
    assert {i: h for i, h in fast.items() if i in ref} == ref
    # every id without frames (NULL or corrupt payload) is (id, NULL)
    assert all(fast[i] is None for i in set(fast) - set(ref))
    assert all(i % 11 in (0, 5) for i in set(fast) - set(ref))


def test_mmr_driver_greedy_matches_distributed_loop(spark):
    """The bounded driver-side MMR greedy must be bit-identical to the
    distributed anti-join/argmax loop it replaces on small shortlists."""
    from cerebro_spark.io import load_table
    from cerebro_spark.operators import similarity as sim

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    queries = emb.filter(F.col("vec_id") < 5)
    fast = sorted(
        map(tuple, sim.mmr_rerank(emb, queries, k=10, n_candidates=50,
                                  lam=0.5).collect())
    )
    saved = sim._MMR_DRIVER_MAX_ROWS
    try:
        sim._MMR_DRIVER_MAX_ROWS = 0  # force the distributed loop
        slow = sorted(
            map(tuple, sim.mmr_rerank(emb, queries, k=10, n_candidates=50,
                                      lam=0.5).collect())
        )
    finally:
        sim._MMR_DRIVER_MAX_ROWS = saved
    assert fast == slow and len(fast) == 50


def test_byte_dhash_matches_python_reference_on_corpus(spark):
    """Whole-corpus agreement with ``ref_byte_dhash`` at sf0.001, including
    the +2-shift variant corpus (the shape every gated dhash query feeds
    the kernel)."""
    from cerebro_spark.io import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    sf = "".join(chr(i) for i in range(32, 122))
    st = "".join(chr(i + 2) for i in range(32, 122))
    corpus = docs.select((F.col("doc_id") * 2).alias("doc_id"), "text").unionAll(
        docs.select(
            (F.col("doc_id") * 2 + 1).alias("doc_id"),
            F.translate("text", sf, st).alias("text"),
        )
    )
    got = {r.id: r.dhash for r in byte_dhash_df(corpus).collect()}
    ref = {r.doc_id: ref_byte_dhash(r.text) for r in corpus.collect()}
    assert got == ref and len(got) == 1000
