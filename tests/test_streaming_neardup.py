"""Online near-dup filter: micro-batches probed against the growing LSH
index — later batches drop near/exact dups of earlier survivors."""

import pytest
import time

from pyspark.sql import functions as F

from cerebro_spark.streaming.sinks import neardup_filter_sink

def _doc(seed: int, n: int = 30) -> str:
    return " ".join(f"tok{(seed * 31 + j * 7) % 997}x{j}" for j in range(n))


def _run_once(spark, src_dir, index_dir, out_dir, ckpt):
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "10")
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            neardup_filter_sink(
                index_dir, out_dir, n=3, num_hashes=32, bands=8,
                threshold=0.5,
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


@pytest.mark.slow
def test_neardup_filter_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    index = str(tmp_path / "index")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: docs 1-5 unique; 6 = exact copy of 1 (intra-batch exact
    # dedup); 7 = near-dup of 2 (one token changed)
    near2 = _doc(2).split()
    near2[5] = "CHANGED"
    b1 = [(i, _doc(i)) for i in range(1, 6)]
    b1 += [(6, _doc(1)), (7, " ".join(near2))]
    spark.createDataFrame(b1, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run_once(spark, src, index, out, ckpt)

    kept1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # exact intra-batch dup (6) dropped; near-dup 7 is KEPT — batch 1 has
    # no index yet and the filter only probes prior survivors (intra-batch
    # near-dedup belongs to the batch pair operators, not this sink)
    assert kept1 == {1, 2, 3, 4, 5, 7}

    # batch 2: 11 = exact copy of doc 3 (must drop vs index); 12 = near-dup
    # of doc 4 (one token changed — must drop); 13 unique (must keep)
    near4 = _doc(4).split()
    near4[8] = "ALTERED"
    b2 = [(11, _doc(3)), (12, " ".join(near4)), (13, _doc(997))]
    time.sleep(1.1)  # distinct mtime so the file source sees a new file
    spark.createDataFrame(b2, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run_once(spark, src, index, out, ckpt)

    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 11 not in kept, "exact cross-batch dup must be dropped"
    assert 12 not in kept, "near cross-batch dup must be dropped"
    assert 13 in kept
    # the index grew: doc 13's signature is now probe-able
    from cerebro_spark.operators.dedup import query_lsh_index

    probe = spark.createDataFrame([(99, _doc(997))], "doc_id long, text string")
    hits = query_lsh_index(
        spark, index, probe, n=3, num_hashes=32, bands=8, threshold=0.5
    ).collect()
    assert {(r["probe_id"], r["match_id"]) for r in hits} == {(99, 13)}


@pytest.mark.slow
def test_neardup_sink_replay_idempotent(spark, tmp_path):
    """At-least-once replay: re-running the same (batch_df, batch_id) must
    not duplicate output rows or index signatures, and a second batch still
    dedups against the first."""
    index = str(tmp_path / "index")
    out = str(tmp_path / "out")
    sink = neardup_filter_sink(index, out, n=3, num_hashes=32, bands=8,
                               threshold=0.5)
    b1 = spark.createDataFrame(
        [(i, _doc(i)) for i in range(1, 4)], "doc_id long, text string"
    )
    sink(b1, 0)
    sink(b1, 0)  # replay of the same micro-batch
    got = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 2, 3]
    sigs = spark.read.parquet(f"{index}/signatures")
    assert sigs.count() == 3  # no duplicate signatures either

    b2 = spark.createDataFrame(
        [(11, _doc(2)), (12, _doc(55))], "doc_id long, text string"
    )
    sink(b2, 1)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 2, 3, 12]  # 11 dropped as exact dup of doc 2


@pytest.mark.slow
def test_text_sink_marker_read_failures_fail_closed(spark, tmp_path):
    """Corrupt params / compacted_through markers must fail the batch (so
    foreachBatch retries) instead of fail-opening into 'first batch' —
    the media-sink twin of test_media_sink_marker_read_failures_fail_closed."""
    import glob
    import os
    import shutil

    import pytest

    index = str(tmp_path / "index")
    out = str(tmp_path / "out")
    sink = neardup_filter_sink(
        index, out, n=3, num_hashes=32, bands=8, threshold=0.5
    )
    sink(
        spark.createDataFrame([(1, _doc(1))], "doc_id long, text string"), 0
    )
    pfile = glob.glob(f"{index}/params/*.parquet")[0]
    good = open(pfile, "rb").read()
    with open(pfile, "wb") as f:
        f.write(b"not parquet")
    b2 = spark.createDataFrame([(2, _doc(1))], "doc_id long, text string")
    with pytest.raises(Exception):
        sink(b2, 1)  # corrupt params: raise, don't skip the LSH probe
    assert not os.path.exists(f"{out}/__batch=1")
    with open(pfile, "wb") as f:
        f.write(good)

    os.makedirs(f"{index}/compacted_through", exist_ok=True)
    with open(f"{index}/compacted_through/part-0.parquet", "wb") as f:
        f.write(b"garbage")
    with pytest.raises(Exception):
        sink(b2, 1)
    shutil.rmtree(f"{index}/compacted_through")
    sink(b2, 1)  # retried batch converges: 2 is an exact dup of 1
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1}


@pytest.mark.slow
def test_text_sink_replay_idempotent_with_intra_batch_neardups(spark, tmp_path):
    """The media twin's HARD replay case, now pinned for the text sink: a
    batch containing an intra-batch near-dup pair (both legitimately kept —
    the intra-batch contract) must replay byte-identically.  Without the
    __batch < N probe guard the replayed pair would find each other in the
    index and one would wrongly drop."""
    index = str(tmp_path / "index")
    out = str(tmp_path / "out")
    sink = neardup_filter_sink(
        index, out, n=3, num_hashes=32, bands=8, threshold=0.5
    )
    near2 = _doc(2).split()
    near2[5] = "CHANGED"
    b1 = spark.createDataFrame(
        [(1, _doc(1)), (2, _doc(2)), (3, " ".join(near2))],
        "doc_id long, text string",
    )
    sink(b1, 0)
    first = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert first == [1, 2, 3]  # intra-batch near-dups BOTH survive
    sink(b1, 0)  # replay: must converge, not drop doc 3 against doc 2
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == first
    assert spark.read.parquet(f"{index}/signatures").count() == 3
