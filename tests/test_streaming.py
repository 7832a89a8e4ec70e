"""End-to-end streaming tests (SURVEY §5 tier 3): replay fixture points
through a file stream → canonical enrichment → partitioned sink → read back
and query via CerebroClient."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from cerebro_spark.config.loader import IngestRunner, load_config, resolve_profile
from cerebro_spark.plans.client import CerebroClient
from cerebro_spark.schema import POINT_SCHEMA
from cerebro_spark.streaming.ingest import (
    empty_point_batch_filter,
    enrich_points,
    replay_file_stream,
    run_ingest,
    union_sources,
)
from cerebro_spark.streaming.sinks import points_to_line_protocol_dicts


def _mkpoints(spark, n=20, measurement="temperature", bucket="sensors"):
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(n):
        rows.append(
            (
                measurement,
                {"ccd": f"r{i % 2}"},
                {"value": float(i)},
                None,
                None,
                base + dt.timedelta(seconds=30 * i),
                bucket,
            )
        )
    # one point with null time (exercises T5 stamping) and one empty point
    rows.append((measurement, {"ccd": "r0"}, {"value": -1.0}, None, None, None, bucket))
    rows.append((measurement, {}, {}, None, None, base, bucket))
    return spark.createDataFrame(rows, POINT_SCHEMA)


def test_ingest_end_to_end(spark, tmp_path):
    src_dir = str(tmp_path / "in")
    sink = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    _mkpoints(spark, 20).write.mode("overwrite").parquet(src_dir)

    stream = replay_file_stream(spark, src_dir)
    assert stream.isStreaming
    q = run_ingest(
        spark,
        stream,
        sink_path=sink,
        checkpoint=ckpt,
        instance_tags={"observatory": "lco", "ccd": "should-not-override"},
        default_bucket="default",
        available_now=True,
        query_name="test-ingest",
    )
    q.awaitTermination(120)

    out = spark.read.parquet(sink)
    rows = out.collect()
    # 21 survive (the empty point dropped by T4)
    assert len(rows) == 21
    # T5: null time stamped
    assert all(r["time"] is not None for r in rows)
    # T6: instance tag merged, point tag wins on collision
    assert all(r["tags"]["observatory"] == "lco" for r in rows)
    assert {r["tags"]["ccd"] for r in rows} == {"r0", "r1"}
    # partitioned layout bucket=<>/date=<>
    assert any("bucket=sensors" in p for p in os.listdir(sink))

    # query the store through the client (Q1-Q6)
    client = CerebroClient(spark, {"sensors": sink})
    wide = client.query(
        "sensors",
        measurement="temperature",
        field="value",
        start="2024-01-01 00:00:00",
        end="2024-01-02 00:00:00",
    )
    got = wide.orderBy("time").collect()
    assert [r["value"] for r in got][:5] == [0.0, 1.0, 2.0, 3.0, 4.0]


def test_union_sources_and_contract(spark):
    a = _mkpoints(spark, 3, "temperature")
    b = _mkpoints(spark, 2, "humidity")
    u = union_sources([a, b])
    assert u.count() == 9  # (3+2) + (2+2) fixture rows
    pts = points_to_line_protocol_dicts(
        empty_point_batch_filter(u).collect()
    )
    # contract shape the reference writes (tools.py:394-399)
    assert all(set(p) >= {"measurement", "tags", "fields"} for p in pts)
    assert all(isinstance(p["fields"], dict) and p["fields"] for p in pts)


def test_config_loader_profiles(monkeypatch):
    monkeypatch.setenv("CEREBRO_BUCKET", "frombucket")
    cfg = load_config(
        {
            "default_bucket": "${CEREBRO_BUCKET}",
            "tags": {"observatory": "apo"},
            "sources": {
                "s1": {"type": "file_replay", "path": "/tmp/x"},
                "s2": {"type": "rate", "rows_per_second": 1},
                "s3": {"type": "rate"},
            },
            "profiles": {"small": ["s1", "s2"]},
        }
    )
    assert cfg["default_bucket"] == "frombucket"
    sel = resolve_profile(cfg, profile="small")
    assert set(sel) == {"s1", "s2"}
    sel2 = resolve_profile(cfg, sources=["s3"])
    assert set(sel2) == {"s3"}
    with pytest.raises(KeyError):
        resolve_profile(cfg, profile="nope")


def test_ingest_runner_lifecycle(spark, tmp_path):
    src_dir = str(tmp_path / "in")
    _mkpoints(spark, 5).write.mode("overwrite").parquet(src_dir)
    runner = IngestRunner(
        spark,
        {
            "tags": {"observatory": "lco"},
            "sources": {
                "replay1": {"type": "file_replay", "path": src_dir, "bucket": "b1"}
            },
        },
        store_path=str(tmp_path / "store"),
        checkpoint_root=str(tmp_path / "ckpt"),
    )
    runner.start()
    assert runner.status() == {"replay1": True} or runner.status() == {"replay1": False}
    runner.await_all(120)
    runner.stop()
    assert runner.status() == {}
    stored = spark.read.parquet(str(tmp_path / "store"))
    assert stored.count() == 6  # 5 + stamped-null-time row; empty row dropped
    # point-level bucket wins over the source default (observer.py:122-124:
    # batch bucket or default — the fixture points carry 'sensors')
    assert stored.filter(F.col("bucket") == "sensors").count() == 6


def test_client_aggregate_window(spark):
    """Flux aggregateWindow analog: tumbling-bucket downsample in the client."""
    import datetime as dt

    from cerebro_spark.schema import POINT_SCHEMA

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("m", {}, {"value": float(i)}, None, None,
         base + dt.timedelta(seconds=30 * i), "b")
        for i in range(8)
    ]
    pts = spark.createDataFrame(rows, POINT_SCHEMA)
    client = CerebroClient(spark, {"b": pts})
    out = client.query(
        "b", "m", field="value",
        start=base, end=base + dt.timedelta(hours=1),
        aggregate_window=(60, "avg"),
    ).orderBy("time").collect()
    # 8 points at 30s cadence → 4 one-minute buckets averaging pairs
    assert [r["value"] for r in out] == [0.5, 2.5, 4.5, 6.5]


def test_streaming_dedup_with_watermark(spark, tmp_path):
    """Streaming exact dedup: dropDuplicates keyed on (measurement, time) with
    a watermark bounding state — duplicate points across micro-batches are
    emitted once."""
    src = str(tmp_path / "dd_in")
    pts = _mkpoints(spark, 10)
    dup = pts.unionByName(pts)  # every point twice
    dup.write.mode("overwrite").parquet(src)
    stream = replay_file_stream(spark, src)
    deduped = stream.withWatermark("time", "1 hour").dropDuplicates(
        ["measurement", "time"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dd")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM dd").collect()
    times = [r["time"] for r in out if r["time"] is not None]
    assert len(times) == len(set(times))  # no dup (measurement,time) pairs
    assert len(times) >= 10


def test_checkpoint_replay_no_duplicates(spark, tmp_path):
    """Exactly-once across restarts: re-running from the same checkpoint with
    no new input produces no new rows; new input produces only the delta."""
    src = str(tmp_path / "ck_in")
    sink = str(tmp_path / "ck_store")
    ckpt = str(tmp_path / "ck_ckpt")
    _mkpoints(spark, 5).write.mode("overwrite").parquet(src)

    def run_once():
        q = run_ingest(
            spark, replay_file_stream(spark, src), sink_path=sink,
            checkpoint=ckpt, available_now=True, query_name="ck-test",
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(sink).count()
    run_once()  # restart, no new files
    assert spark.read.parquet(sink).count() == n1

    # late-arriving file → only the delta is appended
    _mkpoints(spark, 3, measurement="late").write.mode("append").parquet(src)
    run_once()
    out = spark.read.parquet(sink)
    assert out.count() == n1 + 4  # 3 + stamped-null-time row (empty dropped)
    assert out.filter(F.col("measurement") == "late").count() == 4


def test_idempotent_sink_replaces_batch(spark, tmp_path):
    """Re-writing the same batch_id replaces output instead of duplicating."""
    from cerebro_spark.streaming.sinks import idempotent_parquet_sink

    sink = idempotent_parquet_sink(str(tmp_path / "idem"))
    batch = _mkpoints(spark, 4).filter(F.col("time").isNotNull())
    sink(batch, 7)
    sink(batch, 7)  # simulated retry of the same micro-batch
    out = spark.read.parquet(str(tmp_path / "idem"))
    assert out.count() == batch.count()  # no duplicates
    assert out.select("batch_id").distinct().collect()[0][0] == 7


def test_compact_store(spark, tmp_path):
    """Many small files per partition → one file per partition, same rows."""
    import glob

    from cerebro_spark.io import compact_store

    store = str(tmp_path / "cstore")
    pts = _mkpoints(spark, 12).filter(F.col("time").isNotNull())
    # simulate micro-batch appends: 4 small writes
    for i in range(4):
        (
            pts.filter(F.col("fields")["value"] % 4 == i)
            .withColumn("date", F.to_date("time"))
            .write.mode("append")
            .partitionBy("bucket", "date")
            .parquet(store)
        )
    before_rows = spark.read.parquet(store).count()
    before_files = len(glob.glob(f"{store}/bucket=*/date=*/*.parquet"))
    compact_store(spark, store)
    after = spark.read.parquet(store)
    assert after.count() == before_rows
    after_files = len(glob.glob(f"{store}/bucket=*/date=*/*.parquet"))
    assert after_files < before_files
    assert after_files == after.select("bucket", "date").distinct().count()


def test_resolve_time_forms():
    """T23/Q2 — Flux-style relative bounds, floats, ISO strings."""
    import datetime as dt

    from cerebro_spark.plans.client import _resolve_time

    now = dt.datetime(2024, 1, 31, 12, 0, 0)
    assert _resolve_time("-15m", now) == now - dt.timedelta(minutes=15)
    assert _resolve_time("-1.5h", now) == now - dt.timedelta(hours=1.5)
    assert _resolve_time("-2d", now) == now - dt.timedelta(days=2)
    assert _resolve_time(-300, now) == now - dt.timedelta(seconds=300)
    assert _resolve_time(1704067200.0, now) == dt.datetime(2024, 1, 1)
    assert _resolve_time("2024-01-05T06:07:08", now) == dt.datetime(2024, 1, 5, 6, 7, 8)
    assert _resolve_time("2024-01-05T06:07:08Z", now) == dt.datetime(2024, 1, 5, 6, 7, 8)
    assert _resolve_time(None, now) is None


def test_example_yaml_config_loads(spark, monkeypatch, tmp_path):
    """The shipped etc/cerebro-spark.yaml parses, interpolates env vars, and
    resolves its profiles against the source registry."""
    monkeypatch.setenv("OBSERVATORY", "lco")
    monkeypatch.setenv("LANDED_DIR", str(tmp_path))
    cfg = load_config("etc/cerebro-spark.yaml")
    assert cfg["tags"]["observatory"] == "lco"
    assert cfg["sources"]["landed_points"]["path"] == str(tmp_path)
    from cerebro_spark.config.loader import SOURCE_REGISTRY

    for name, params in resolve_profile(cfg, profile="soak").items():
        assert params["type"] in SOURCE_REGISTRY, name
    assert set(resolve_profile(cfg, profile="lab")) == {
        "landed_points", "heartbeat"
    }


def test_runner_restart_resumes_from_checkpoint(spark, tmp_path):
    """C3 `restart <source>`: the rebuilt query resumes from the checkpoint —
    no duplicates, new files picked up after restart."""
    src = str(tmp_path / "rs_in")
    _mkpoints(spark, 4).write.mode("overwrite").parquet(src)
    runner = IngestRunner(
        spark,
        {"sources": {"s1": {"type": "file_replay", "path": src}}},
        store_path=str(tmp_path / "rs_store"),
        checkpoint_root=str(tmp_path / "rs_ckpt"),
    )
    runner.start()
    runner.await_all(120)
    n1 = spark.read.parquet(str(tmp_path / "rs_store")).count()

    _mkpoints(spark, 2, measurement="late").write.mode("append").parquet(src)
    runner.restart("s1")
    runner.await_all(120)
    runner.stop()
    out = spark.read.parquet(str(tmp_path / "rs_store"))
    # restart processed only the delta: 2 + stamped-null-time (empty dropped)
    assert out.count() == n1 + 3
    assert out.filter(F.col("measurement") == "late").count() == 3


def test_client_path_store(spark, tmp_path):
    """CerebroClient with a parquet *path* registered as the bucket store."""
    import datetime as dt

    pts = _mkpoints(spark, 6).filter(F.col("time").isNotNull())
    path = str(tmp_path / "cstore2")
    pts.write.mode("overwrite").parquet(path)
    client = CerebroClient(spark, {"sensors": path})
    out = client.query(
        "sensors", "temperature", field="value",
        start=dt.datetime(2024, 1, 1), end=dt.datetime(2024, 1, 2),
    )
    assert out.count() == 6


def test_ingest_observed_quality_metrics(spark, tmp_path):
    """The ingest pipeline's observe() counters reach the progress events:
    arriving rows, null-time rows (pre-stamping), empty points (pre-drop)."""
    from cerebro_spark.streaming.ingest import replay_file_stream, run_ingest

    pts = _mkpoints(spark, n=10)  # + 1 null-time point + 1 empty point
    src = str(tmp_path / "src")
    pts.write.parquet(src)
    q = run_ingest(
        spark,
        replay_file_stream(spark, src),
        sink_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
        query_name="observe-test",
    )
    q.awaitTermination(120)
    obs = (q.lastProgress or {}).get("observedMetrics", {}).get(
        "ingest_quality"
    )
    assert obs is not None
    assert obs["rows"] == pts.count()
    assert obs["null_time_rows"] >= 1
    assert obs["empty_field_rows"] >= 1
