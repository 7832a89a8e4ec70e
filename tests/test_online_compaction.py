"""Online (generation-pointer) index compaction: the stream keeps running.

The compactor folds the current generation into ``g=N+1``, flips the
``GENERATION`` pointer atomically, waits for in-flight batches, and
reconciles late arrivals — probe results must be unchanged, the folded
generation must hold fewer files, a folded batch's replay must be a
no-op, and no concurrent batch may be lost."""

import hashlib
import threading

import pytest

from cerebro_spark.streaming.sinks import (
    compact_media_index_online,
    compact_neardup_index_online,
    media_neardup_filter_sink,
    neardup_filter_sink,
    prune_index_generations,
)


def _mdoc(seed: int, n: int = 200) -> str:
    return "".join(
        chr(32 + hashlib.md5(f"{seed}:{j}".encode()).digest()[0] % 90)
        for j in range(n)
    )


def _shift(text: str, k: int = 2) -> str:
    return "".join(chr(ord(c) + k) for c in text)


def _tdoc(seed: int, n: int = 30) -> str:
    return " ".join(f"tok{(seed * 31 + j * 7) % 997}x{j}" for j in range(n))


def _n_parquet_files(path: str) -> int:
    import os

    return sum(
        1 for _, _, names in os.walk(path)
        for f in names if f.endswith(".parquet")
    )


@pytest.mark.slow
def test_media_online_compaction_between_batches(spark, tmp_path):
    """Fold + flip between micro-batches: probe results unchanged, the
    pruned index holds fewer files, folded replay is a no-op, and the next
    new batch still dedups."""
    import os

    from cerebro_spark.operators.multimodal import (
        byte_dhash_df,
        query_hamming_index,
    )

    index = str(tmp_path / "index")
    out = str(tmp_path / "out")
    sink = media_neardup_filter_sink(index, out)
    for b in range(3):
        sink(
            spark.createDataFrame(
                [(b * 10 + i, _mdoc(b * 10 + i)) for i in range(1, 4)],
                "doc_id long, text string",
            ),
            b,
        )
    kept_before = sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    )
    probe = byte_dhash_df(
        spark.createDataFrame(
            [(99, _shift(_mdoc(11))), (98, _mdoc(500))],
            "doc_id long, text string",
        )
    )

    def hits():
        return sorted(
            (r["probe_id"], r["match_id"])
            for r in query_hamming_index(spark, index, probe).collect()
        )

    before = hits()
    assert before == [(99, 11)]
    before_files = _n_parquet_files(index)
    gen = compact_media_index_online(spark, index, prune_old=True)
    assert gen == 1
    assert os.path.isdir(f"{index}/g=1/bands/__batch=0")
    assert not os.path.isdir(f"{index}/bands")  # flat per-batch tree pruned
    assert _n_parquet_files(index) < before_files
    assert hits() == before  # probe resolves the pointer, results unchanged
    # replay of a folded batch: full no-op
    sink(
        spark.createDataFrame(
            [(21, _mdoc(21)), (22, _mdoc(22)), (23, _mdoc(23))],
            "doc_id long, text string",
        ),
        2,
    )
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == kept_before
    # new batch still dedups against the folded history
    sink(
        spark.createDataFrame(
            [(77, _shift(_mdoc(11), 4)), (78, _mdoc(777))],
            "doc_id long, text string",
        ),
        3,
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 77 not in kept and 78 in kept
    # a SECOND online fold (g=1 -> g=2) absorbs the post-flip batch too
    gen = compact_media_index_online(spark, index)
    assert gen == 2
    assert hits() == before


@pytest.mark.slow
def test_media_online_compaction_concurrent_with_stream(spark, tmp_path):
    """Compaction runs in a thread WHILE the sink keeps writing batches:
    the survivor set equals a control run with no compaction, and every
    surviving batch's fingerprints are probe-visible afterwards."""
    from cerebro_spark.operators.multimodal import (
        byte_dhash_df,
        query_hamming_index,
    )

    def batch_df(b):
        rows = [(b * 10 + i, _mdoc(b * 10 + i)) for i in range(1, 4)]
        if b >= 2:  # plant a cross-batch twin of an earlier survivor
            rows.append((b * 10 + 9, _shift(_mdoc((b - 2) * 10 + 1))))
        return spark.createDataFrame(rows, "doc_id long, text string")

    # control: no compaction
    cidx, cout = str(tmp_path / "cidx"), str(tmp_path / "cout")
    csink = media_neardup_filter_sink(cidx, cout)
    for b in range(6):
        csink(batch_df(b), b)
    control = sorted(r["doc_id"] for r in spark.read.parquet(cout).collect())

    # compacted mid-stream: fold after batch 1, while batches 2..5 write
    index, out = str(tmp_path / "index"), str(tmp_path / "out")
    sink = media_neardup_filter_sink(index, out)
    sink(batch_df(0), 0)
    sink(batch_df(1), 1)
    err: list = []

    def compact():
        try:
            compact_media_index_online(spark, index, inflight_timeout=60.0)
        except Exception as e:  # noqa: BLE001
            err.append(e)

    t = threading.Thread(target=compact)
    t.start()
    for b in range(2, 6):
        sink(batch_df(b), b)
    t.join(120)
    assert not t.is_alive() and not err, err
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == control
    # every survivor's fingerprint is probe-visible in the live generation
    survivors = spark.read.parquet(out).select("doc_id", "text")
    probes = byte_dhash_df(
        survivors.selectExpr("doc_id + 1000000 AS doc_id", "text")
    )
    found = {
        r["probe_id"] - 1000000
        for r in query_hamming_index(spark, index, probes, max_hamming=0).collect()
    }
    assert found == set(got)


@pytest.mark.slow
def test_text_online_compaction_and_prune(spark, tmp_path):
    """The text sink twin: fold + flip with the stream running across the
    flip, probe equality, the folded generation holds fewer files than the
    per-batch tree, and prune removes the old generation."""
    import os

    from cerebro_spark.operators.dedup import query_lsh_index

    index, out = str(tmp_path / "index"), str(tmp_path / "out")
    sink = neardup_filter_sink(
        index, out, n=3, num_hashes=32, bands=8, threshold=0.5
    )
    sink(
        spark.createDataFrame(
            [(i, _tdoc(i)) for i in range(1, 4)], "doc_id long, text string"
        ),
        0,
    )
    sink(
        spark.createDataFrame(
            [(11, _tdoc(4)), (12, _tdoc(5))], "doc_id long, text string"
        ),
        1,
    )
    probe = spark.createDataFrame([(99, _tdoc(4))], "doc_id long, text string")

    def hits():
        return sorted(
            (r["probe_id"], r["match_id"])
            for r in query_lsh_index(
                spark, index, probe, n=3, num_hashes=32, bands=8,
                threshold=0.5,
            ).collect()
        )

    before = hits()
    assert before == [(99, 11)]
    before_files = _n_parquet_files(index)
    gen = compact_neardup_index_online(spark, index)
    assert gen == 1
    assert _n_parquet_files(f"{index}/g=1") < before_files
    assert hits() == before
    # stream keeps going after the flip; near-dup of folded doc 2 drops
    sink(
        spark.createDataFrame(
            [(21, _tdoc(2)), (22, _tdoc(55))], "doc_id long, text string"
        ),
        2,
    )
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 2, 3, 11, 12, 22]
    # folded replay no-op
    sink(
        spark.createDataFrame(
            [(11, _tdoc(4)), (12, _tdoc(5))], "doc_id long, text string"
        ),
        1,
    )
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == kept
    # prune drops the legacy flat dirs; probes still work off g=1
    removed = prune_index_generations(index)
    assert any(p.endswith("signatures") for p in removed)
    assert hits() == before
    assert not os.path.isdir(f"{index}/buckets")
    assert _n_parquet_files(index) == _n_parquet_files(f"{index}/g=1")


def test_atomic_batch_publish_skips_existing(spark, tmp_path):
    """write_batch_dir: presence implies completeness — a second publisher
    of the same batch discards its temp, and hidden temps are invisible to
    readers."""
    import os

    from cerebro_spark.operators.util import write_batch_dir

    dest = str(tmp_path / "facts" / "__batch=0")
    os.makedirs(str(tmp_path / "facts"))
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    df2 = spark.createDataFrame([(2, "b")], "id long, v string")
    write_batch_dir(df1, dest)
    write_batch_dir(df2, dest)  # loser: discarded
    got = spark.read.parquet(str(tmp_path / "facts")).collect()
    assert [(r["id"], r["v"]) for r in got] == [(1, "a")]
    assert not [
        d for d in os.listdir(str(tmp_path / "facts"))
        if d.startswith(".tmp-")
    ]


@pytest.mark.slow
def test_online_compaction_leaves_partial_batches_above_fold(spark, tmp_path):
    """A batch that crashed between publishing its two fact dirs must NOT
    be absorbed one-sided: the fold stops below the first partial batch so
    the checkpoint replay republishes it and reconciliation carries what
    landed."""
    import shutil

    index, out = str(tmp_path / "index"), str(tmp_path / "out")
    sink = neardup_filter_sink(
        index, out, n=3, num_hashes=32, bands=8, threshold=0.5
    )
    for b in range(3):
        sink(
            spark.createDataFrame(
                [(b * 10 + i, _tdoc(b * 10 + i)) for i in range(1, 3)],
                "doc_id long, text string",
            ),
            b,
        )
    # simulate the crash window: batch 1 lost its buckets dir
    shutil.rmtree(f"{index}/buckets/__batch=1")
    compact_neardup_index_online(spark, index)
    ct = spark.read.parquet(
        f"{index}/g=1/compacted_through"
    ).collect()[0]["through_batch"]
    assert ct == 0  # fold stopped below the partial batch
    # batch 1's signatures were carried over, not absorbed
    import os

    assert os.path.isdir(f"{index}/g=1/signatures/__batch=1")
    # the replay (batch 1 > ct) republishes its missing buckets
    sink(
        spark.createDataFrame(
            [(11, _tdoc(11)), (12, _tdoc(12))], "doc_id long, text string"
        ),
        1,
    )
    assert os.path.isdir(f"{index}/g=1/buckets/__batch=1")
    # and batch 2 (complete, above the fold point) was reconciled too
    assert os.path.isdir(f"{index}/g=1/buckets/__batch=2")
