"""Online perceptual near-dup filter: micro-batches fingerprinted
(stateless dHash) and probed against the growing pigeonhole Hamming index —
later batches drop perceptual dups of earlier survivors.

The media twin of test_streaming_neardup.py (MinHash/text)."""

import hashlib
import time

import pytest

from cerebro_spark.streaming.sinks import media_neardup_filter_sink


def _doc(seed: int, n: int = 200) -> str:
    # hash-random bytes per (seed, position): distinct seeds sit ~30 bits
    # apart in byte-dHash space (verified min pairwise distance 23 for the
    # seeds used here), so only the PLANTED shifts collide
    return "".join(
        chr(32 + hashlib.md5(f"{seed}:{j}".encode()).digest()[0] % 90)
        for j in range(n)
    )


def _shift(text: str, k: int = 2) -> str:
    # +k byte shift: dHash-invariant (the perceptual twin)
    return "".join(chr(ord(c) + k) for c in text)


def _run_once(spark, src_dir, index_dir, out_dir, ckpt):
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "10")
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            media_neardup_filter_sink(index_dir, out_dir)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


@pytest.mark.slow
def test_media_neardup_filter_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    index = str(tmp_path / "index")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: docs 1-4 unique; 5 = exact copy of 1 (intra-batch exact
    # dedup); 6 = perceptual twin of 2 (+2 shift) — KEPT: batch 1 has no
    # index yet and the filter only probes prior survivors
    b1 = [(i, _doc(i)) for i in range(1, 5)]
    b1 += [(5, _doc(1)), (6, _shift(_doc(2)))]
    spark.createDataFrame(b1, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run_once(spark, src, index, out, ckpt)
    kept1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept1 == {1, 2, 3, 4, 6}

    # batch 2: 11 = exact copy of 3 (drops vs index at hamming 0); 12 =
    # perceptual twin of 4 (drops); 13 unique (kept)
    b2 = [(11, _doc(3)), (12, _shift(_doc(4))), (13, _doc(997))]
    time.sleep(1.1)  # distinct mtime so the file source sees a new file
    spark.createDataFrame(b2, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run_once(spark, src, index, out, ckpt)

    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 11 not in kept, "exact cross-batch dup must be dropped"
    assert 12 not in kept, "perceptual cross-batch dup must be dropped"
    assert 13 in kept
    # batch pipelines see streamed survivors immediately: the generic
    # query_hamming_index probe reads the sink's index (extra __batch
    # partition column ignored by the probe join)
    from cerebro_spark.operators.multimodal import (
        byte_dhash_df,
        query_hamming_index,
    )

    probe = byte_dhash_df(
        spark.createDataFrame(
            [(99, _shift(_doc(997)))], "doc_id long, text string"
        )
    )
    hits = query_hamming_index(spark, index, probe).collect()
    assert {(r["probe_id"], r["match_id"]) for r in hits} == {(99, 13)}


@pytest.mark.slow
def test_media_sink_replay_idempotent_with_intra_batch_neardups(spark, tmp_path):
    """At-least-once replay of the HARD case: a batch containing an
    intra-batch near-dup pair (both legitimately kept — the filter only
    probes prior survivors).  A naive replay would probe the index that now
    contains the batch's own fingerprints and drop one of the pair; the
    __batch < N probe guard keeps the replay byte-identical."""
    index = str(tmp_path / "index")
    out = str(tmp_path / "out")
    sink = media_neardup_filter_sink(index, out)
    b1 = spark.createDataFrame(
        [(1, _doc(1)), (2, _doc(7)), (3, _shift(_doc(7)))],
        "doc_id long, text string",
    )
    sink(b1, 0)
    first = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert first == [1, 2, 3]  # intra-batch near-dups BOTH survive
    sink(b1, 0)  # replay of the same micro-batch
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == first
    fps = spark.read.parquet(f"{index}/fps")
    assert fps.count() == 3  # no duplicate fingerprints either

    b2 = spark.createDataFrame(
        [(11, _shift(_doc(1), 4)), (12, _doc(55))], "doc_id long, text string"
    )
    sink(b2, 1)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 2, 3, 12]  # 11 dropped: +4 shift still hamming 0
    sink(b2, 1)  # replaying batch 1 converges too
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == kept


def test_media_sink_null_fp_passes_unindexed(spark, tmp_path):
    """Fail-soft composition: a row whose fingerprint stage yields NULL is
    kept (quarantine is downstream's call) but never enters the index."""
    from cerebro_spark.operators.multimodal import image_dhash_df

    index = str(tmp_path / "index")
    out = str(tmp_path / "out")
    sink = media_neardup_filter_sink(
        index,
        out,
        fingerprint=lambda d: image_dhash_df(
            d, payload_col="payload", id_col="doc_id", on_error="null"
        ),
        content_col="payload",
    )
    from cerebro_spark.operators.multimodal import encode_bmp_gray
    import numpy as np

    img = encode_bmp_gray((np.arange(96) % 251).reshape(8, 12))
    b1 = spark.createDataFrame(
        [(1, bytearray(img)), (2, bytearray(b"BM\x00corrupt"))],
        "doc_id long, payload binary",
    )
    sink(b1, 0)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 2}
    assert spark.read.parquet(f"{index}/fps").count() == 1  # only doc 1
    # the corrupt doc absorbed nothing: a second corrupt blob is kept too
    b2 = spark.createDataFrame(
        [(3, bytearray(b"BM\x00corrupt2"))], "doc_id long, payload binary"
    )
    sink(b2, 1)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 2, 3}


def test_media_sink_param_mismatch_refuses(spark, tmp_path):
    index = str(tmp_path / "index")
    out = str(tmp_path / "out")
    sink = media_neardup_filter_sink(index, out)
    b1 = spark.createDataFrame([(1, _doc(1))], "doc_id long, text string")
    sink(b1, 0)
    other = media_neardup_filter_sink(index, out, bits=60, blocks=6)
    with pytest.raises(ValueError, match="bits"):
        other(b1, 1)
    # pigeonhole violation refused at construction, not at first batch
    with pytest.raises(ValueError, match="pigeonhole"):
        media_neardup_filter_sink(index, out, max_hamming=4, blocks=4)


def test_media_sink_marker_read_failures_fail_closed(spark, tmp_path):
    """A transient/corrupt read of the params or compacted_through marker
    must FAIL the micro-batch (foreachBatch retries it) — never fail-open
    into "first batch / no compaction yet", which would skip the Hamming
    probe (near-dups stream through) or re-probe a folded batch against
    its own fingerprints (docs wrongly dropped)."""
    import glob
    import os
    import shutil

    index = str(tmp_path / "index")
    out = str(tmp_path / "out")
    sink = media_neardup_filter_sink(index, out)
    sink(spark.createDataFrame([(1, _doc(1))], "doc_id long, text string"), 0)

    pfile = glob.glob(f"{index}/params/*.parquet")[0]
    good = open(pfile, "rb").read()
    with open(pfile, "wb") as f:
        f.write(b"definitely not a parquet footer")
    b2 = spark.createDataFrame(
        [(2, _shift(_doc(1)))], "doc_id long, text string"
    )
    with pytest.raises(Exception):
        sink(b2, 1)  # corrupt params: raise, don't skip the probe
    # nothing was emitted for the failed batch
    assert not os.path.exists(f"{out}/__batch=1")
    with open(pfile, "wb") as f:
        f.write(good)

    # corrupt compacted_through gates a DESTRUCTIVE no-op skip: must raise
    os.makedirs(f"{index}/compacted_through", exist_ok=True)
    with open(f"{index}/compacted_through/part-0.parquet", "wb") as f:
        f.write(b"garbage")
    with pytest.raises(Exception):
        sink(b2, 1)
    # even an EMPTY compacted_through dir (torn write) must raise — only
    # true absence may read as "no compaction yet"
    os.remove(f"{index}/compacted_through/part-0.parquet")
    with pytest.raises(Exception):
        sink(b2, 1)
    shutil.rmtree(f"{index}/compacted_through")

    # healthy again: the retried batch converges to the correct state
    sink(b2, 1)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1}


def test_media_sink_video_fingerprint_wiring(spark, tmp_path):
    """video_signature_df as the sink's fingerprint stage (r11): cross-batch
    brightness-shift re-encodes drop at signature Hamming 0, temporal
    frame-order reversals and genuinely new videos survive."""
    import numpy as np

    from cerebro_spark.operators.multimodal import (
        encode_avi_gray,
        video_signature_df,
    )

    def frames(seed: int, nf: int = 9):
        rng = np.random.RandomState(seed)
        return [rng.randint(0, 200, (2, 8)).astype(np.uint8) for _ in range(nf)]

    def avi(fr):
        return bytearray(encode_avi_gray(fr, fps=2))

    index = str(tmp_path / "index")
    out = str(tmp_path / "out")
    sink = media_neardup_filter_sink(
        index,
        out,
        fingerprint=lambda d: video_signature_df(
            d, every_ms=500, on_error="null"
        ),
        content_col="payload",
        bits=48,
        blocks=4,
        max_hamming=3,
    )
    f1, f2, f3 = frames(1), frames(2), frames(3)
    b0 = spark.createDataFrame(
        [(1, avi(f1)), (2, avi(f2)), (3, avi(f3))],
        "doc_id long, payload binary",
    )
    sink(b0, 0)
    # batch 1: 11 = +2 brightness re-encode of video 1 (every frame dHash
    # shift-invariant -> signature Hamming 0 -> DROP); 12 = video 2 with
    # frame ORDER reversed (same frames, different sequencing -> the
    # temporal bands keep it apart -> KEEP); 13 = new video (KEEP)
    shift1 = [np.clip(g.astype(np.int16) + 2, 0, 255).astype(np.uint8) for g in f1]
    b1 = spark.createDataFrame(
        [(11, avi(shift1)), (12, avi(list(reversed(f2)))), (13, avi(frames(4)))],
        "doc_id long, payload binary",
    )
    sink(b1, 1)
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 11 not in kept, "brightness re-encode must drop"
    assert kept == {1, 2, 3, 12, 13}
    # an undecodable payload is kept UNINDEXED (fail-soft contract)
    b2 = spark.createDataFrame(
        [(21, bytearray(b"RIFF\x00broken"))], "doc_id long, payload binary"
    )
    sink(b2, 2)
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 21 in kept
    fps = spark.read.parquet(f"{index}/fps")
    assert fps.filter("id = 21").count() == 0
