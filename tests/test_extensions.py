"""Tests for the driver-mandated extension operators (dedup / similarity /
text / multimodal) — the non-oracle paths; oracle-checked paths live in
__spark_entry__ and are verified by tools/check.py."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cerebro_spark.io import load_table
from cerebro_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from cerebro_spark.operators.multimodal import (
    attach_media_meta,
    decode_image,
    extract_features,
    fake_image_features,
    frame_sample_plan,
)
from cerebro_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    embedding_cosine_dedup,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, "documents", sf_dir)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, "embeddings", sf_dir)


def test_exact_dedup_counts(spark, docs):
    total = docs.count()
    uniq = exact_dedup(docs).count()
    distinct_texts = docs.select("text").distinct().count()
    assert uniq == distinct_texts <= total


def test_near_dup_operators_agree(spark):
    """Planted near-dups: minhash-LSH and ngram-jaccard both find them."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base.replace("today", "tomorrow")),  # near-dup of 1
        Row(doc_id=3, text="completely different words about spark engines"),
        Row(doc_id=4, text=base),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows)
    exact_pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    }
    assert (1, 4) in exact_pairs and (1, 2) in exact_pairs
    assert not any(3 in p for p in exact_pairs)

    lsh_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, n=3, threshold=0.5).collect()
    }
    assert (1, 4) in lsh_pairs
    assert not any(3 in p for p in lsh_pairs)


def test_minhash_estimates_jaccard(spark):
    """Signature agreement approximates true Jaccard on controlled docs."""
    a = " ".join(f"w{i}" for i in range(40))
    b = " ".join(f"w{i}" for i in range(20)) + " " + " ".join(
        f"v{i}" for i in range(20)
    )
    df = spark.createDataFrame([Row(doc_id=1, text=a), Row(doc_id=2, text=b)])
    sig = minhash_signatures(df, n=1, num_hashes=64).collect()
    s = {r["id"]: [r[f"h{i}"] for i in range(64)] for r in sig}
    est = sum(x == y for x, y in zip(s[1], s[2])) / 64
    # true token Jaccard = 20/60 ≈ 0.33
    assert 0.15 < est < 0.55


def test_simhash_pairs_near_dup(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base.replace("tok59", "changed")),
        Row(doc_id=3, text=" ".join(f"other{i}" for i in range(60))),
    ]
    df = spark.createDataFrame(rows)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(df, max_hamming=8).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_cosine_lsh_recall(spark, emb):
    """LSH top-k finds most of the exact top-k (recall sanity on real data)."""
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(emb, queries, k=5)
    approx = cosine_topk_lsh(emb, queries, dim=64, k=5, num_planes=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e) == 25
    # 4 hyperplanes → 16 buckets over 500 vecs; recall is approximate
    assert len(e & a) / len(e) > 0.2


def test_embedding_dedup_self_similarity(spark, emb):
    """A duplicated vector must be caught at threshold ~1."""
    dup = emb.limit(1).withColumn("vec_id", F.col("vec_id") + 1_000_000)
    df = emb.unionByName(dup)
    pairs = embedding_cosine_dedup(df, threshold=0.9999).collect()
    assert any(
        r["id_b"] == r["id_a"] + 1_000_000 and r["cosine"] > 0.9999 for r in pairs
    )


def test_multimodal_plumbing(spark):
    rows = [Row(doc_id=i, payload=bytes([i % 256] * (10 + i))) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    with_meta = attach_media_meta(df, media_type="image", fmt="fake")
    m = with_meta.select("media_meta.*").first()
    assert m["media_type"] == "image" and m["width"] == 10

    feats = extract_features(df, dim=8).collect()
    assert len(feats) == 50
    byid = {r["doc_id"]: r for r in feats}
    assert byid[0]["features"] == fake_image_features(bytes([0] * 10), 8)
    assert byid[3]["n_bytes"] == 13
    assert all(abs(sum(r["features"]) - 1.0) < 1e-9 for r in feats)

    with pytest.raises(NotImplementedError):
        decode_image(b"\x00")

    vids = attach_media_meta(df, media_type="video", fmt="fake")
    plan = frame_sample_plan(vids, every_ms=100)
    first = plan.filter(F.col("doc_id") == 0).select("frame_ts_ms").collect()
    # duration = 10 bytes * 10 ms = 100ms → exactly 1 frame at default floor
    assert [r["frame_ts_ms"] for r in first] == [0]


def test_custom_sessionize_matches_builtin_session_window(spark, sf_dir):
    """The lag/cumsum sessionizer (kept for its stateful-streaming twin)
    must agree with Spark's built-in session_window on batch data.  Edge
    semantics differ only at gaps EXACTLY equal to the window (custom: same
    session; builtin: new session) — assert that boundary is absent from
    the fixture, then require identical sessions."""
    import __spark_entry__ as entry
    from cerebro_spark.io import load_table
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    boundary = ev.withColumn("g", gap).filter(F.col("g") == 1800.0).count()
    assert boundary == 0, "fixture has an exact-boundary gap; pick another gap"

    custom = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"]): r[
            "value_sum"
        ]
        for r in entry.queries()["sessionize"](spark, sf_dir).collect()
    }
    builtin = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"]): r[
            "value_sum"
        ]
        for r in (
            ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
            .agg(
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("value_sum"),
            )
            .collect()
        )
    }
    assert custom == builtin


def test_containment_catches_short_in_long(spark):
    """A short doc fully embedded in a long one: Jaccard is tiny (misses at
    any sane threshold) but containment is 1.0."""
    from pyspark.sql import Row

    from cerebro_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = " ".join(f"q{i}" for i in range(10))
    page = " ".join(f"w{i}" for i in range(200)) + " " + quote
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=quote), Row(doc_id=2, text=page)]
    )
    cont = ngram_containment_pairs(docs, n=5, threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"], r["containment"]) for r in cont] == [
        (1, 2, 1.0)
    ]
    jac = ngram_jaccard_pairs(docs, n=5, threshold=0.3).collect()
    assert jac == []  # jaccard ≈ 6/206 — invisible to a jaccard gate


def test_minhash_lsh_bucket_cap_drops_hot_buckets(spark):
    """max_bucket_size (the boilerplate-skew guard): a template shared by
    many docs lands its band buckets over the cap and contributes NO
    candidate pairs; unrelated near-dup pairs still surface."""
    from pyspark.sql import Row as R

    template = " ".join(f"t{i}" for i in range(30))
    pair_a = " ".join(f"p{i}" for i in range(30))
    rows = [R(doc_id=i, text=f"{template} v{i % 3}") for i in range(40)]
    rows += [R(doc_id=100, text=pair_a), R(doc_id=101, text=pair_a + " x")]
    df = spark.createDataFrame(rows)

    uncapped = minhash_lsh_pairs(df, n=3, threshold=0.5)
    capped = minhash_lsh_pairs(df, n=3, threshold=0.5, max_bucket_size=10)
    un = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    cp = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in un and (100, 101) in cp  # small pair survives cap
    assert any(a < 40 and b < 40 for a, b in un)  # template floods uncapped
    assert not any(a < 40 and b < 40 for a, b in cp)  # cap excises the flood


def test_simhash_pairs_cap_drops_only_above_cap_buckets(spark):
    """max_bucket_size must drop exactly the pairs whose ONLY co-occurring
    (block, segment) buckets exceed the cap — the template cluster — while
    pairs living in small buckets survive untouched (the skew guard mirrors
    minhash_lsh_pairs' cap; see tools/soak_simhash_skew.py for the
    at-scale measurement)."""
    template = " ".join(f"tpl{i}" for i in range(40))
    other = " ".join(f"oth{i}" for i in range(40))
    rows = [
        # 8 identical copies of one template: identical fingerprints, so
        # EVERY bucket any template pair shares holds all 8 members (> cap)
        Row(doc_id=i, text=template) for i in range(8)
    ] + [
        # one small near-dup pair, textually unrelated to the template
        Row(doc_id=100, text=other + " a"),
        Row(doc_id=101, text=other + " b"),
    ]
    df = spark.createDataFrame(rows)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(df, max_hamming=6).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(df, max_hamming=6, max_bucket_size=5).collect()
    }
    # ground truth from the segment table itself: a pair must survive the
    # cap iff it co-occurs in >= 1 bucket of size <= cap (a template pair
    # may legitimately survive through a small bucket where the varying
    # token flipped bits for most of the cluster)
    from cerebro_spark.operators.dedup import _simhash_segments

    segs = _simhash_segments(df, "text", "doc_id", 48, 4).collect()
    by_bucket: dict = {}
    for r in segs:
        by_bucket.setdefault((r["blk"], r["seg"]), []).append(r["id"])
    small_bucket_pairs = set()
    for members in by_bucket.values():
        if len(members) <= 5:
            small_bucket_pairs.update(
                (a, b)
                for a in members
                for b in members
                if a < b
            )
    expected = uncapped & small_bucket_pairs
    assert (100, 101) in uncapped and (100, 101) in expected
    # the 8-member template cluster's buckets are above the cap, so SOME
    # of its pairs must be dropped (the skew mass), and nothing else is
    dropped = uncapped - expected
    assert len(dropped) > 0
    assert all(a < 8 and b < 8 for a, b in dropped)
    assert capped == expected


def test_real_image_features_optional_dependency(spark):
    """real_image_features is the drop-in decode path behind an optional
    Pillow import: without Pillow it raises NotImplementedError with
    install guidance; with Pillow it returns the same shape/normalization
    contract as fake_image_features.  extract_features keeps the
    deterministic fake as its default features_fn either way."""
    from cerebro_spark.operators.multimodal import (
        _pil_image_module,
        decode_image,
        real_image_features,
    )

    if _pil_image_module() is None:
        with pytest.raises(NotImplementedError, match="[Pp]illow"):
            decode_image(b"\x89PNG")
        with pytest.raises(NotImplementedError, match="[Pp]illow"):
            real_image_features(b"\x89PNG")
        # empty payload short-circuits before the import check, like the fake
        assert real_image_features(b"", dim=4) == [0.0] * 4
    else:  # deployment with Pillow: contract parity with the fake
        import io

        image_mod = _pil_image_module()
        buf = io.BytesIO()
        image_mod.new("L", (4, 4), color=200).save(buf, format="PNG")
        feats = real_image_features(buf.getvalue(), dim=8)
        assert len(feats) == 8 and abs(sum(feats) - 1.0) < 1e-9


def _make_wav(freq_hz=1000.0, sr=8000, seconds=0.1, channels=1, width=2):
    """In-memory PCM WAV of a pure sine — stdlib only."""
    import io
    import math
    import struct
    import wave

    n = int(sr * seconds)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(sr)
        for i in range(n):
            v = math.sin(2 * math.pi * freq_hz * i / sr)
            if width == 2:
                frame = struct.pack("<h", int(v * 32000))
            else:  # 8-bit unsigned
                frame = struct.pack("<B", int(v * 120) + 128)
            w.writeframes(frame * channels)
    return buf.getvalue()


def test_real_audio_features_wav_needs_no_dependency(spark):
    """Audio's real-decode twin: WAV PCM decodes via stdlib wave + numpy —
    runnable in THIS container, not just in a deployment — and the
    spectral-band features keep the fake's shape/normalization contract.
    A 1.2 kHz sine at sr=8000 must put its energy in band 2 of 8 (bands
    span 0-4 kHz Nyquist; 1.2/(4/8) = 2.4, interior to the band so the
    array_split boundary rounding can't move it)."""
    from cerebro_spark.operators.multimodal import (
        decode_audio,
        extract_features,
        real_audio_features,
    )

    wav = _make_wav(freq_hz=1200.0, sr=8000, seconds=0.1)
    samples, sr = decode_audio(wav)
    assert sr == 8000 and len(samples) == 800
    assert max(abs(s) for s in samples) <= 1.0

    feats = real_audio_features(wav, dim=8)
    assert len(feats) == 8 and abs(sum(feats) - 1.0) < 1e-9
    assert feats.index(max(feats)) == 2
    assert max(feats) > 0.95  # a pure tone concentrates in one band

    # stereo + 8-bit variants downmix/scale without error
    assert len(decode_audio(_make_wav(channels=2))[0]) == 800
    assert max(abs(s) for s in decode_audio(_make_wav(width=1))[0]) <= 1.0

    # the same Arrow mapInPandas plumbing carries the real audio kernel
    df = spark.createDataFrame(
        [Row(doc_id=1, payload=bytearray(wav)), Row(doc_id=2, payload=None)]
    )
    rows = {
        r["doc_id"]: r
        for r in extract_features(
            df, features_fn=real_audio_features
        ).collect()
    }
    assert rows[1]["features"] == pytest.approx(feats)
    assert rows[2]["features"] == [0.0] * 8 and rows[2]["n_bytes"] == 0


def test_video_optional_dependency():
    """Video completes the media triple: a real decode twin behind optional
    PyAV/OpenCV with install guidance when absent, a deterministic fake
    with the shared contract, and the empty-payload short-circuit."""
    from cerebro_spark.operators.multimodal import (
        _video_module,
        decode_video_frames,
        fake_video_features,
        real_video_features,
    )

    assert real_video_features(b"", dim=4) == [0.0] * 4
    f = fake_video_features(b"\x00\xff\x00\xff", dim=2)
    assert f == [0.5, 0.5]
    if _video_module() is None:
        with pytest.raises(NotImplementedError, match="av|OpenCV"):
            decode_video_frames(b"\x00\x00\x00\x18ftypmp42")
        with pytest.raises(NotImplementedError, match="av|OpenCV"):
            real_video_features(b"\x00\x00\x00\x18ftypmp42")


def _make_avi(frames, fps=2, top_down=False):
    """Minimal uncompressed 24-bit RIFF/AVI writer (stdlib struct): frames
    are numpy uint8 arrays (h, w, 3) in BGR order — the video analog of
    ``_make_wav``."""
    import struct

    import numpy as np

    h, w = frames[0].shape[:2]
    stride = (w * 3 + 3) // 4 * 4
    usec = int(1_000_000 / fps)

    def chunk(fourcc, data):
        pad = b"\x00" if len(data) & 1 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(kind, body):
        return chunk(b"LIST", kind + body)

    avih = chunk(b"avih", struct.pack(
        "<14I", usec, 0, 0, 0x10, len(frames), 0, 1, 0, w, h, 0, 0, 0, 0
    ))
    strh = chunk(b"strh", b"vids" + b"DIB " + struct.pack("<IHH", 0, 0, 0)
                 + struct.pack("<8I", 0, 1, fps, 0, len(frames), 0, 0, 0)
                 + struct.pack("<4h", 0, 0, w, h))
    bi_h = -h if top_down else h
    strf = chunk(b"strf", struct.pack(
        "<IiiHHIIiiII", 40, w, bi_h, 1, 24, 0, stride * h, 0, 0, 0, 0
    ))
    movi = b""
    for f in frames:
        rows = f if top_down else f[::-1]  # DIB default is bottom-up
        padded = np.zeros((h, stride), dtype=np.uint8)
        padded[:, : w * 3] = np.ascontiguousarray(rows).reshape(h, w * 3)
        movi += chunk(b"00db", padded.tobytes())
    body = lst(b"hdrl", avih + lst(b"strl", strh + strf)) + lst(b"movi", movi)
    return b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body


def test_real_video_features_avi_needs_no_dependency(spark):
    """Video's real-decode twin: uncompressed RIFF/AVI decodes via stdlib
    struct + numpy — runnable in THIS container, not just a deployment —
    with exact BT.601 luma, DIB row order, 4-byte row padding, and the
    every_ms sampling cadence all pinned on hand-built frames."""
    import numpy as np

    from cerebro_spark.operators.multimodal import (
        decode_video_frames,
        extract_features,
        real_video_features,
    )

    white = np.full((2, 3, 3), 255, dtype=np.uint8)
    red = np.zeros((2, 3, 3), dtype=np.uint8)
    red[:, :, 2] = 255  # BGR order: pure red
    avi = _make_avi([white, red], fps=2)  # frame times 0 ms, 500 ms

    frames = decode_video_frames(avi, every_ms=500)
    assert [ts for ts, _ in frames] == [0, 500]
    assert frames[0][1].shape == (2, 3)
    assert frames[0][1].tolist() == [[255] * 3] * 2
    assert frames[1][1].tolist() == [[76] * 3] * 2  # round(0.299*255)

    # sampling cadence: every_ms=1000 drops the 500 ms frame
    assert len(decode_video_frames(avi, every_ms=1000)) == 1

    # luminance histogram: 6 px at 255 (bucket 7) + 6 px at 76 (bucket 2)
    feats = real_video_features(avi, dim=8, every_ms=500)
    assert feats == pytest.approx([0, 0, 0.5, 0, 0, 0, 0, 0.5])

    # bottom-up (positive biHeight) and top-down (negative) row order
    # decode to the SAME image: white top row, black bottom row
    grad = np.zeros((2, 3, 3), dtype=np.uint8)
    grad[0, :, :] = 255
    up = decode_video_frames(_make_avi([grad]), every_ms=500)[0][1]
    down = decode_video_frames(
        _make_avi([grad], top_down=True), every_ms=500
    )[0][1]
    assert up.tolist() == down.tolist() == [[255] * 3, [0] * 3]

    # the same Arrow mapInPandas plumbing carries the real video kernel
    df = spark.createDataFrame([Row(doc_id=1, payload=bytearray(avi))])
    row = extract_features(df, features_fn=real_video_features).collect()[0]
    assert row["features"] == pytest.approx(real_video_features(avi))


def test_avi_walk_survives_adversarial_nesting():
    """The RIFF chunk walk runs on EVERY payload before the optional
    decoders, so a malformed payload with thousands of nested LISTs must
    return None (fall through), never RecursionError the executor task."""
    import struct

    from cerebro_spark.operators.multimodal import _decode_avi_frames

    # 5000 nested LIST chunks, each wrapping the next — built innermost-out
    body = b"xxxx"
    for _ in range(5000):
        body = b"LIST" + struct.pack("<I", len(body) + 4) + b"nest" + body
    payload = b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body
    assert _decode_avi_frames(payload, every_ms=500) is None

    # garbage bytes after a valid RIFF/AVI magic also fail soft
    assert _decode_avi_frames(b"RIFF\x10\x00\x00\x00AVI \xff\xfe", 500) is None


def test_audio_non_wav_optional_dependency():
    """Non-WAV payloads route to the optional soundfile decoder; without it
    the error carries install guidance (the Pillow pattern)."""
    from cerebro_spark.operators.multimodal import (
        _soundfile_module,
        decode_audio,
        fake_audio_features,
        real_audio_features,
    )

    assert real_audio_features(b"", dim=4) == [0.0] * 4
    assert fake_audio_features(b"\x01\xff", dim=2) == [0.5, 0.5]
    if _soundfile_module() is None:
        with pytest.raises(NotImplementedError, match="soundfile"):
            decode_audio(b"OggS\x00not-really-ogg")


# --- prefix-filtering exact Jaccard join -----------------------------------


def _prefix_pairs(spark, docs, t):
    from cerebro_spark.operators.dedup import prefix_jaccard_pairs

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = prefix_jaccard_pairs(df, "text", "doc_id", threshold=t)
    return {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}


def test_prefix_jaccard_finds_boundary_pair(spark):
    # 9 shared of 10 tokens each: J = 9/11 ≈ 0.818 — must be found at
    # t=0.8 (boundary-ish) and dropped at t=0.9
    a = " ".join(f"w{i}" for i in range(10))
    b = " ".join(f"w{i}" for i in range(1, 10)) + " z9"
    docs = [(1, a), (2, b), (3, "completely different tokens here xyz")]
    got = _prefix_pairs(spark, docs, 0.8)
    assert set(got) == {(1, 2)} and abs(got[(1, 2)] - 9 / 11) < 1e-15
    assert _prefix_pairs(spark, docs, 0.9) == {}


def test_prefix_jaccard_matches_bruteforce_exactly(spark):
    # randomized-ish corpus (deterministic construction): prefix filtering
    # must return EXACTLY the brute-force pair set — no false negatives
    import itertools

    vocab = [f"t{i}" for i in range(30)]
    docs = []
    for d in range(25):
        toks = [vocab[(d * 7 + k * 3) % 30] for k in range(8 + d % 5)]
        docs.append((d, " ".join(toks)))
    t = 0.6
    sets = {d: set(s.split()) for d, s in docs}
    brute = {}
    for x, y in itertools.combinations(sorted(sets), 2):
        inter = len(sets[x] & sets[y])
        j = inter / len(sets[x] | sets[y])
        if j >= t:
            brute[(x, y)] = j
    got = _prefix_pairs(spark, docs, t)
    assert got.keys() == brute.keys()
    for k in brute:
        assert abs(got[k] - brute[k]) < 1e-15


def test_prefix_jaccard_identical_docs(spark):
    docs = [(1, "a b c"), (2, "c b a"), (3, "a b c d e f g h i j")]
    got = _prefix_pairs(spark, docs, 0.99)
    assert set(got) == {(1, 2)} and got[(1, 2)] == 1.0


def test_prefix_jaccard_boundary_at_exact_threshold(spark):
    # J exactly = t with |d| where IEEE t*|d| rounds a hair above the
    # integer (0.95*20 = 19.000000000000004): the epsilon'd ceil must
    # still index enough prefix tokens to find the pair.
    a = " ".join(f"w{i}" for i in range(20))
    b = " ".join(f"w{i}" for i in range(19)) + " z"  # 19 shared, union 21
    # J = 19/21 ≈ 0.905; use t = 19/21 exactly representable? use 0.90
    docs = [(1, a), (2, b)]
    got = _prefix_pairs(spark, docs, 0.9)
    assert set(got) == {(1, 2)}
    # and a pair at exactly J = 0.95 with n = 20: 19 shared of 20 each,
    # union 21 -> J = 19/21 < 0.95; construct exact J = 0.95 instead:
    # |a|=|b|=39, shared 38, union 40 -> 0.95 exactly
    a2 = " ".join(f"v{i}" for i in range(39))
    b2 = " ".join(f"v{i}" for i in range(38)) + " zz"
    got2 = _prefix_pairs(spark, [(1, a2), (2, b2)], 0.95)
    assert set(got2) == {(1, 2)} and abs(got2[(1, 2)] - 0.95) < 1e-15


def test_prefix_jaccard_ieee_uprounding_boundary(spark):
    # GENUINELY-triggering IEEE case (empirically verified): at t=0.28,
    # 0.28*25 = 7.000000000000001 — without the downward epsilons BOTH
    # the prefix-length ceil (one token short) and the in-array length
    # filter (7-token doc vs 25-token doc rejected) drop this true
    # boundary pair at exactly J = 7/25 = 0.28.
    a = " ".join(f"w{i}" for i in range(25))
    b = " ".join(f"w{i}" for i in range(7))  # contained: inter=7, union=25
    got = _prefix_pairs(spark, [(1, a), (2, b)], 0.28)
    assert set(got) == {(1, 2)} and abs(got[(1, 2)] - 0.28) < 1e-15


@pytest.mark.parametrize("t", [1.5, 1.0000001, 0, -0.2])
def test_jaccard_pairs_reject_threshold_outside_unit_interval(spark, t):
    """Both prefix-filtered joins validate ``0 < threshold <= 1`` at entry:
    t > 1 would otherwise slice a negative prefix length deep inside the
    Spark job, and t <= 0 has no prefix bound."""
    from cerebro_spark.operators.dedup import (
        cross_jaccard_pairs,
        prefix_jaccard_pairs,
    )

    df = spark.createDataFrame([(1, "a b"), (2, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="threshold"):
        prefix_jaccard_pairs(df, threshold=t)
    with pytest.raises(ValueError, match="threshold"):
        cross_jaccard_pairs(df, df, threshold=t)
