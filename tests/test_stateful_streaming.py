"""Stateful streaming: watermarked windowed rollup + applyInPandasWithState
sessionization, driven through real micro-batches (file stream, availableNow)."""

import pytest
import datetime as dt
from pyspark.sql import functions as F

from cerebro_spark.schema import POINT_SCHEMA
from cerebro_spark.streaming.stateful import (
    streaming_downsample,
    streaming_sessionize,
)


def _points(spark, n=50):
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(n):
        rows.append(
            (
                "temperature" if i % 2 == 0 else "humidity",
                {"src": "t"},
                {"value": float(i % 10)},
                None,
                None,
                base + dt.timedelta(minutes=3 * i),
                "sensors",
            )
        )
    return spark.createDataFrame(rows, POINT_SCHEMA)


def test_streaming_downsample(spark, tmp_path):
    src = str(tmp_path / "in")
    _points(spark).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(POINT_SCHEMA).parquet(src)
    agg = streaming_downsample(stream, window="1 hour", watermark="5 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("rollup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # with availableNow + append, only watermark-closed windows emit; rerun a
    # second batch with late watermark advance by checking complete mode too
    out = spark.sql("SELECT * FROM rollup").collect()
    # 50 points * 3min = 150min span → closed 1h windows emitted
    assert all(r["n_points"] > 0 for r in out)
    got_measurements = {r["measurement"] for r in out} if out else set()
    assert got_measurements <= {"temperature", "humidity"}


@pytest.mark.slow
def test_streaming_sessionize_batchwise(spark, tmp_path):
    """Sessions close mid-stream when the gap rule fires within arriving data."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: two sessions separated by a 2h gap; user 2: one session
    for i in range(5):
        rows.append((1, base + dt.timedelta(minutes=5 * i), 1.0))
    for i in range(4):
        rows.append((1, base + dt.timedelta(hours=3, minutes=5 * i), 2.0))
    for i in range(3):
        rows.append((2, base + dt.timedelta(minutes=10 * i), 5.0))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    src = str(tmp_path / "sess_in")
    df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).parquet(src)
    sess = streaming_sessionize(stream, gap_seconds=1800)
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {
        (r["user_id"], str(r["session_start"])): r
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    # the 2h gap closes user 1's first session within the batch; the still-open
    # sessions (user1 #2, user2) wait for the processing-time timeout and are
    # not in the availableNow output — exactly the append-mode contract.
    key = (1, "2024-01-01 00:00:00")
    assert key in out
    s = out[key]
    assert s["n_events"] == 5 and s["value_sum"] == 5.0
    assert str(s["session_end"]) == "2024-01-01 00:20:00"


@pytest.mark.slow
def test_sessionize_key_spanning_multiple_arrow_chunks(spark, tmp_path):
    """One key's rows arriving in several Arrow batches must aggregate
    correctly: with maxRecordsPerBatch forced low, the per-key pandas input
    comes as multiple chunks whose concat previously misaligned ts/value."""
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        base = dt.datetime(2024, 1, 1)
        rows = []
        # 40 rows in one session, written UNSORTED so chunk order matters,
        # then a 2h-later row that closes the session within the batch.
        for i in reversed(range(40)):
            rows.append((1, base + dt.timedelta(minutes=i), float(i)))
        rows.append((1, base + dt.timedelta(hours=3), 0.0))
        df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        src = str(tmp_path / "chunk_in")
        df.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).parquet(src)
        q = (
            streaming_sessionize(stream, gap_seconds=1800)
            .writeStream.format("memory")
            .queryName("chunk_sessions")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql("SELECT * FROM chunk_sessions").collect()
        assert len(out) == 1
        s = out[0]
        assert s["n_events"] == 40
        assert s["value_sum"] == float(sum(range(40)))
        assert str(s["session_start"]) == "2024-01-01 00:00:00"
        assert str(s["session_end"]) == "2024-01-01 00:39:00"
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Rows older than the advanced watermark are excluded from new windows:
    run the windowed rollup twice on one checkpoint; the second batch's
    late rows (hours behind the first batch) must not produce output."""
    src = str(tmp_path / "late_in")
    ckpt = str(tmp_path / "late_ckpt")
    base = dt.datetime(2024, 1, 2, 12, 0, 0)

    def write_batch(offset_hours, n, mode):
        rows = [
            (
                "m", {"s": "t"}, {"value": 1.0}, None, None,
                base + dt.timedelta(hours=offset_hours, minutes=2 * i), "b",
            )
            for i in range(n)
        ]
        spark.createDataFrame(rows, POINT_SCHEMA).write.mode(mode).parquet(src)

    sink = str(tmp_path / "late_out")

    def run_once():
        stream = spark.readStream.schema(POINT_SCHEMA).parquet(src)
        agg = streaming_downsample(stream, window="1 hour", watermark="30 minutes")
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch(0, 60, "overwrite")  # 2h of on-time data
    run_once()

    # batch 2: rows 10 hours EARLIER than the advanced watermark
    write_batch(-10, 5, "append")
    run_once()
    out = spark.read.parquet(sink)
    late_rows = out.filter(
        F.col("window_start") < F.lit("2024-01-02 12:00:00").cast("timestamp")
    ).collect()
    assert late_rows == []  # late windows never emitted


def test_streaming_dedup_drops_redelivered(spark, tmp_path):
    """At-least-once redelivery collapses to one row per (measurement, time);
    state is watermark-bounded (dropDuplicatesWithinWatermark)."""
    from cerebro_spark.streaming.stateful import streaming_dedup

    src = str(tmp_path / "src")
    pts = _points(spark, 30)
    # simulate transport redelivery: every row written twice
    pts.union(pts).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(POINT_SCHEMA).parquet(src)
    q = (
        streaming_dedup(stream, watermark="30 minutes")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT measurement, time FROM dedup_out").collect()
    assert len(out) == 30
    assert len(set((r["measurement"], r["time"]) for r in out)) == 30


def test_streaming_deadband_emits_on_threshold_cross(spark, tmp_path):
    """Deadband keeps a row only when the value moved >= delta from the
    LAST EMITTED value — 10.0, 10.4, 10.9, 12.0 at delta 1.0 emits 10.0
    (first) and 12.0 (cumulative move 2.0), NOT 10.9 (lag-based filters
    would also drop 12.0: its step from 10.9 is only 1.1... emitted-value
    semantics differ from consecutive-sample semantics)."""
    import datetime as dt

    from pyspark.sql import Row

    from cerebro_spark.streaming.stateful import streaming_deadband

    rows = [
        Row(user_id=1, ts=dt.datetime(2024, 1, 1, 0, m), value=v)
        for m, v in [(0, 10.0), (1, 10.4), (2, 10.9), (3, 12.0)]
    ] + [Row(user_id=2, ts=dt.datetime(2024, 1, 1, 0, 0), value=5.0)]
    src = str(tmp_path / "in")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    df = spark.createDataFrame(rows)
    df.write.parquet(src)

    q = (
        streaming_deadband(
            spark.readStream.schema(df.schema).parquet(src),
            key_col="user_id",
            delta=1.0,
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["user_id"], r["value"]) for r in spark.read.parquet(out_dir).collect()
    )
    assert got == [(1, 10.0), (1, 12.0), (2, 5.0)]


def test_streaming_ohlc(spark, tmp_path):
    from cerebro_spark.streaming.stateful import streaming_ohlc

    src = str(tmp_path / "ohlc_in")
    _points(spark).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(POINT_SCHEMA).parquet(src)
    agg = streaming_ohlc(stream, window="1 hour", watermark="5 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("ohlc")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM ohlc").collect()
    assert out, "watermark-closed windows must emit"
    for r in out:
        assert r["low"] <= r["open"] <= r["high"]
        assert r["low"] <= r["close"] <= r["high"]
    # first temperature window opens with the t=0 point (value 0.0)
    first = min(
        (r for r in out if r["measurement"] == "temperature"),
        key=lambda r: r["window_start"],
    )
    assert first["open"] == 0.0


def test_streaming_percentiles(spark, tmp_path):
    from cerebro_spark.streaming.stateful import streaming_percentiles

    src = str(tmp_path / "pct_in")
    _points(spark).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(POINT_SCHEMA).parquet(src)
    agg = streaming_percentiles(stream, window="1 hour", watermark="5 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("pct")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM pct").collect()
    assert out, "watermark-closed windows must emit"
    for r in out:
        assert r["p50"] <= r["p95"] <= r["p99"]
        assert 0.0 <= r["p50"] <= 9.0  # values are i % 10


def test_streaming_cusum_carries_state_across_batches(spark, tmp_path):
    """The cumulative sum must CARRY across micro-batches: a drift split
    over two file batches alerts only because state persists."""
    from cerebro_spark.streaming.stateful import streaming_cusum

    base = dt.datetime(2024, 1, 1)
    src = str(tmp_path / "cusum_in")
    ckpt = str(tmp_path / "cusum_ck")
    # batch 1: at-baseline values; batch 2: sustained +2σ drift — each
    # single batch alone stays under the 4σ threshold only briefly
    b1 = [(1, base + dt.timedelta(seconds=i), 5.0) for i in range(20)]
    b2 = [
        (1, base + dt.timedelta(seconds=20 + i), 7.0) for i in range(20)
    ]
    # one file per batch so the file stream's path-ordered processing
    # matches event time (many part-files would interleave the recurrence)
    spark.createDataFrame(b1, ["user_id", "ts", "value"]).repartition(
        1
    ).write.parquet(f"{src}/b1")
    spark.createDataFrame(b2, ["user_id", "ts", "value"]).repartition(
        1
    ).write.parquet(f"{src}/b2")
    stream = spark.readStream.schema("user_id long, ts timestamp, value double").option(
        "maxFilesPerTrigger", "1"
    ).parquet(f"{src}/*")
    out = streaming_cusum(stream, mu=5.0, sigma=1.0, alert_sigmas=4.0)
    q = (
        out.writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT * FROM cusum_stream ORDER BY ts"
    ).collect()
    assert len(rows) == 40
    alerts = [r["is_alert"] for r in rows]
    assert not any(alerts[:20])       # baseline batch quiet
    assert any(alerts[20:])           # drift batch fires
    # S accumulates 1.5/sample after the shift: crossing 4.0 needs ≥3
    # post-shift samples — proof the recurrence ran, not a per-row test
    first_alert = alerts.index(True)
    assert first_alert >= 22


def test_native_streaming_session_window(spark, tmp_path):
    """Spark's built-in session_window also runs in streaming mode with a
    watermark — the engine-managed counterpart to streaming_sessionize
    (which exists for CUSTOM gap/emit rules).  Two bursts 2 h apart must
    close into two session rows."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [(1, base + dt.timedelta(minutes=5 * i), 1.0) for i in range(4)]
    rows += [
        (1, base + dt.timedelta(hours=3, minutes=5 * i), 1.0) for i in range(3)
    ]
    # watermark sentinel: a much-later event closes user 1's second session
    # (append mode only emits sessions the watermark has passed)
    rows.append((2, base + dt.timedelta(hours=9), 1.0))
    src = str(tmp_path / "sess_in")
    spark.createDataFrame(rows, "user_id long, ts timestamp, value double") \
        .repartition(1).write.parquet(src)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window(F.col("ts"), "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("native_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT n FROM native_sessions WHERE user_id = 1 "
        "ORDER BY session_window.start"
    ).collect()
    assert [r["n"] for r in out] == [4, 3]


def test_streaming_gate_state_store_width_and_parent_conf_untouched(
    spark, sf_dir, monkeypatch
):
    """The streaming gates replay in a child of the caller's session whose
    state store is ``_STATE_PARTITIONS`` (1) wide whatever the caller's
    shuffle width, and never write the caller's conf — shown on
    ``streaming_ohlc_6h`` through its ``stateOperators[0].numShufflePartitions``
    progress, heard on the child's stream manager."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from cerebro_spark.io import load_table
    from cerebro_spark.queries.streaming_q import (
        _replay_session,
        q_streaming_ohlc_6h,
    )

    widths: list = []

    class Widths(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            ops = event.progress.stateOperators
            if ops:
                widths.append(ops[0].numShufflePartitions)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, "3")
    load_table(spark, "events", sf_dir)  # its first load sets the read confs
    child = _replay_session(spark)
    listener = Widths()
    child.streams.addListener(listener)
    writes: list = []
    try:
        with monkeypatch.context() as m:
            m.setattr(spark.conf, "set", lambda *a: writes.append(a))
            m.setattr(spark.conf, "unset", lambda *a: writes.append(a))
            out = q_streaming_ohlc_6h(spark, sf_dir)
        assert writes == [] and spark.conf.get(key) == "3"
        assert out.count() > 0
        deadline = time.time() + 30  # listener events arrive asynchronously
        while not widths and time.time() < deadline:
            time.sleep(0.2)
        assert widths and set(widths) == {1}
    finally:
        child.streams.removeListener(listener)
        spark.conf.set(key, saved)


def test_streaming_gates_leave_no_temp_view(spark, sf_dir):
    """A gate replay's memory-sink view is dropped once its frame is bound:
    no ``stream_gate_*`` view stays in the caller's session or the replay
    child, and the returned frames still collect."""
    from cerebro_spark.queries.streaming_q import (
        _replay_session,
        q_streaming_ohlc_6h,
    )

    outs = [q_streaming_ohlc_6h(spark, sf_dir) for _ in range(2)]
    for session in (spark, _replay_session(spark)):
        views = [t.name for t in session.catalog.listTables()]
        assert not [v for v in views if v.startswith("stream_gate_")]
    assert outs[0].count() == outs[1].count() > 0
