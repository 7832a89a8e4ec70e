"""Equivalence pins for the round-12 optimization changes.

Every test here asserts BIT-EQUALITY between an optimized path and an
independent reference (a pure-Python enumeration, a scalar kernel, or a
public composition of other operators) — the round's contract is that no
declared query's results change.
"""

import struct

import numpy as np
import pytest

from pyspark.sql import functions as F


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _lst(kind: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", kind + body)


def zero_frame_avi() -> bytes:
    """A well-formed RIFF/AVI whose single frame chunk is TRUNCATED below
    stride*h — the decoder skips it and returns [] (zero frames), the case
    ADVICE r11 flagged as untested."""
    avih = _chunk(
        b"avih",
        struct.pack("<IIIIIIIIIIIIII", 500000, 0, 0, 0, 1, 0, 1, 0, 4, 2, 0, 0, 0, 0),
    )
    strh = _chunk(
        b"strh",
        b"vids" + b"DIB " + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, 2, 0, 1, 0, 0, 0, 0),
    )
    strf = _chunk(b"strf", struct.pack("<IiiHHIIiiII", 40, 4, 2, 1, 24, 0, 24, 0, 0, 0, 0))
    movi = _chunk(b"00db", b"\x00\x00\x00\x00")  # 4 bytes < stride*h = 24
    body = _lst(b"hdrl", avih + _lst(b"strl", strh + strf)) + _lst(b"movi", movi)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body


def test_zero_frame_avi_decodes_to_empty():
    from cerebro_spark.operators.multimodal import decode_video_frames

    assert decode_video_frames(zero_frame_avi(), 500) == []


def test_video_signature_zero_frame_parity(spark):
    """ADVICE r11 (medium): a zero-frame decode must yield (id, NULL), not
    drop the id; an id with frames must match the public composition
    ``video_signature(video_frame_hash_df(...))``."""
    from cerebro_spark.operators.multimodal import (
        encode_avi_gray,
        video_frame_hash_df,
        video_signature,
        video_signature_df,
    )

    ok = encode_avi_gray([np.full((2, 16), v, dtype=np.uint8) for v in (10, 200)], fps=2)
    rows = [
        (1, bytearray(ok)),
        (2, bytearray(zero_frame_avi())),  # zero frames -> (2, NULL)
        (3, None),  # NULL payload -> (3, NULL)
        (4, bytearray(b"garbage-not-an-avi")),  # decode failure -> (4, NULL)
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got_arrow = {
        r["id"]: r["dhash"]
        for r in video_signature_df(df, every_ms=500, on_error="null").collect()
    }
    frames = video_frame_hash_df(df, every_ms=500, on_error="null")
    ref = {
        r["id"]: r["vfp"]
        for r in video_signature(
            frames.filter(F.col("fhash").isNotNull())
        ).collect()
    }
    assert set(got_arrow) == {1, 2, 3, 4}
    assert ref == {1: got_arrow[1]}
    assert got_arrow[2] is None and got_arrow[3] is None and got_arrow[4] is None
    assert got_arrow[1] is not None


def test_dhash_stack_large_frame_path_bit_identical():
    """ADVICE r11 (low): the real-resolution (> 65536 px) reduceat path must
    be bit-identical to the scalar dhash_from_gray reference and to the
    small-frame matmul path."""
    from cerebro_spark.operators.multimodal import _dhash_stack, dhash_from_gray

    rng = np.random.default_rng(12)
    for (h, w) in [(2, 16), (7, 5), (1, 3), (480, 640), (300, 301)]:
        G = rng.integers(0, 256, size=(3, h, w)).astype(np.int64)
        got = _dhash_stack(G, 6, 11)
        ref = np.array([dhash_from_gray(G[i], 6, 11) for i in range(3)], dtype=np.int64)
        assert (got == ref).all(), (h, w)


def neighbour_set_triangles(edges):
    """Pure-Python triangle participation: undirected simple graph from
    the edge list (self-loops dropped, duplicates and reversals merged),
    then every triangle {u, v, w} with u < v < w enumerated from
    neighbour-set intersections and credited to its three corners."""
    nbrs: dict = {}
    for u, v in edges:
        if u != v:
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)
    counts: dict = {}
    for u, nu in nbrs.items():
        for v in nu:
            if v <= u:
                continue
            for w in nu & nbrs[v]:
                if w > v:
                    for x in (u, v, w):
                        counts[x] = counts.get(x, 0) + 1
    return counts


def test_triangle_participation_matches_neighbour_sets(spark, sf_dir):
    """The adjacency-intersection triangle count must equal
    ``neighbour_set_triangles`` on the REAL query graph (the
    co-ordered-parts graph of clustering_parts) plus hand-picked shapes."""
    from cerebro_spark.io import load_table
    from cerebro_spark.operators.cluster import triangle_participation

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    e = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    edges = [(r["src"], r["dst"]) for r in e.collect()]
    got = {r["node"]: r["triangles"] for r in triangle_participation(e).collect()}
    assert got == neighbour_set_triangles(edges) and len(got) > 0

    # degenerate shapes: triangle with a pendant, two triangles sharing an
    # edge, a square (no triangles), self-loop and duplicate edges
    rows = [
        (1, 2), (2, 3), (1, 3), (3, 4),
        (2, 4), (3, 4),  # second triangle (2,3,4), duplicate edge
        (5, 6), (6, 7), (7, 8), (8, 5),  # square
        (9, 9),  # self-loop (dropped)
    ]
    small = spark.createDataFrame(rows, "src long, dst long")
    got = {r["node"]: r["triangles"] for r in triangle_participation(small).collect()}
    assert got == neighbour_set_triangles(rows) == {1: 1, 2: 2, 3: 2, 4: 1}


def test_bench_timings_part_lines_bounded_and_lossless():
    """VERDICT r11 #3: per-query detail must reach the driver's 2000-char
    tail capture as bounded, individually-parseable lines."""
    import json

    import bench

    timings = {f"a_longish_query_name_{i:04d}": i * 0.123 for i in range(1500)}
    lines = bench.timings_part_lines(timings)
    merged = {}
    for line in lines:
        assert len(line) <= 512
        obj = json.loads(line)
        assert obj["detail"] == "timings_part"
        merged.update(obj["q"])
    assert merged == {n: round(t, 3) for n, t in timings.items()}


def test_small_df_connect_fallback(spark):
    """ADVICE r11 (low): small_df must not hard-depend on sparkContext —
    simulate the Spark Connect gap by handing it a session proxy whose
    sparkContext access raises."""
    from cerebro_spark.operators.util import default_parallelism, small_df

    class NoSC:
        def __getattr__(self, name):
            if name == "sparkContext":
                raise Exception("Connect: no sparkContext")
            return getattr(spark, name)

    got = small_df(NoSC(), [(1, 2)], "a int, b int").collect()
    assert [(r["a"], r["b"]) for r in got] == [(1, 2)]
    assert default_parallelism(NoSC()) == 8


def test_load_table_relation_cache_clear(spark, tmp_path):
    """ADVICE r12: ``load_table`` reuses a table's resolved relation, file
    listing included, so a table rewritten mid-session reads stale until
    ``clear_relation_cache`` drops the reuse."""
    from cerebro_spark.io import clear_relation_cache, load_table

    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,)], "k int").write.parquet(path)
    assert [r["k"] for r in load_table(spark, "t", str(tmp_path)).collect()] == [1]

    spark.createDataFrame([(2,)], "k int").write.mode("append").parquet(path)
    assert [r["k"] for r in load_table(spark, "t", str(tmp_path)).collect()] == [1]
    clear_relation_cache(spark)
    assert sorted(r["k"] for r in load_table(spark, "t", str(tmp_path)).collect()) == [1, 2]
