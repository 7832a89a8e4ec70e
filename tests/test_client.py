"""CerebroClient over a path store: UTC bounds on any host time zone, date
partition pruning, and points committed after the first query."""

import datetime as dt
import glob
import os
import time

from pyspark.sql import functions as F

from cerebro_spark.plans.client import CerebroClient
from cerebro_spark.schema import POINT_SCHEMA
from cerebro_spark.streaming.ingest import replay_file_stream, run_ingest

UTC = dt.timezone.utc


def _points(spark, times, measurement="m"):
    rows = [
        (measurement, {"d": "x"}, {"v": float(i)}, None, None, t, "b")
        for i, t in enumerate(times)
    ]
    return spark.createDataFrame(rows, POINT_SCHEMA)


def _write_store(df, path, files_per_date=1):
    (
        df.withColumn("date", F.to_date("time"))
        .repartition(files_per_date, "date", F.col("time").cast("long"))
        .write.mode("append")
        .partitionBy("bucket", "date")
        .parquet(path)
    )


def _files_read(df) -> int:
    """Files the executed plan's parquet scans read (their ``numFiles``
    metric); call after the DataFrame has been collected."""
    files = 0

    def walk(node):
        nonlocal files
        cls = node.getClass().getSimpleName()
        if cls == "FileSourceScanExec":
            files += int(node.metrics().get("numFiles").get().value())
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            walk(node.plan())

    walk(df._jdf.queryExecution().executedPlan())
    return files


def test_client_naive_bounds_are_utc_under_any_host_tz(spark, tmp_path):
    """A naive bound is UTC whatever the host's zone: 00:30 UTC lies in
    [00:00, 01:00) UTC, for the time predicate and the date pruning both.
    Read as Chicago local time the range would be 06:00-07:00 UTC."""
    path = str(tmp_path / "store")
    _write_store(_points(spark, [dt.datetime(2024, 1, 2, 0, 30, tzinfo=UTC)]), path)
    client = CerebroClient(spark, {"b": path})
    saved = os.environ.get("TZ")
    os.environ["TZ"] = "America/Chicago"
    time.tzset()
    try:
        rows = client.query(
            "b", "m", field="v",
            start=dt.datetime(2024, 1, 2), end=dt.datetime(2024, 1, 2, 1),
        ).collect()
        every = client.query(
            "b", "m", start="2024-01-02T00:00:00", end="2024-01-02T01:00:00",
        ).collect()
    finally:
        if saved is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = saved
        time.tzset()
    assert [r["v"] for r in rows] == [0.0]
    assert [r["v"] for r in every] == [0.0]


def test_client_prunes_date_partitions(spark, tmp_path):
    """A 15-minute query reads the files of the one date it touches, and
    its answer equals the unpruned DataFrame-registered store's."""
    path = str(tmp_path / "store")
    day = dt.datetime(2024, 1, 2, tzinfo=UTC)
    times = [day + dt.timedelta(days=d, minutes=10 * i) for d in (-1, 0, 1) for i in range(12)]
    _write_store(_points(spark, times), path, files_per_date=2)
    per_date = len(glob.glob(os.path.join(path, "bucket=b", "date=2024-01-02", "*.parquet")))
    assert per_date == 2

    pruned = CerebroClient(spark, {"b": path}).query(
        "b", "m", field="v", start="2024-01-02T00:30:00", end="2024-01-02T00:45:00"
    )
    rows = sorted(r["v"] for r in pruned.collect())
    assert _files_read(pruned) == per_date
    whole = CerebroClient(spark, {"b": spark.read.parquet(path)}).query(
        "b", "m", field="v", start="2024-01-02T00:30:00", end="2024-01-02T00:45:00"
    )
    assert rows == sorted(r["v"] for r in whole.collect()) == [15.0, 16.0]


def test_client_sees_points_ingested_after_first_query(spark, tmp_path):
    """The schema is read once, but the files are listed on every query: a
    batch that ingest commits into a new date after the first query shows
    up in the next one."""
    src, store, ckpt = (str(tmp_path / n) for n in ("in", "store", "ckpt"))

    def ingest(times, measurement):
        _points(spark, times, measurement).write.mode("append").parquet(src)
        run_ingest(
            spark, replay_file_stream(spark, src), sink_path=store,
            checkpoint=ckpt, available_now=True, query_name="client-fresh",
        ).awaitTermination(120)

    day = dt.datetime(2024, 1, 1, 12, tzinfo=UTC)
    ingest([day, day + dt.timedelta(minutes=1)], "m")
    client = CerebroClient(spark, {"b": store})
    assert client.query("b", "m", field="v", start="2024-01-01", end="2024-01-04").count() == 2

    ingest([day + dt.timedelta(days=2)], "m")
    assert os.path.isdir(os.path.join(store, "bucket=b", "date=2024-01-03"))
    got = client.query("b", "m", start="2024-01-01", end="2024-01-04").collect()
    assert len(got) == 3
    assert [r["v"] for r in client.query(
        "b", "m", field="v", start="2024-01-03", end="2024-01-04"
    ).collect()] == [0.0]


def test_client_rollup_drops_a_day_of_only_null_values(spark, tmp_path):
    """The raw path drops null values, so a day on which a field is only
    null has no row; the rollup-served query (n = 0 that day) has none
    either."""
    from cerebro_spark.operators.rollup import rollup_points_daily

    day = dt.datetime(2024, 1, 1, 12, tzinfo=UTC)
    pts = spark.createDataFrame(
        [("m", {}, {"v": 1.0}, None, None, day, "b"),
         ("m", {}, {"v": None}, None, None, day + dt.timedelta(days=1), "b")],
        POINT_SCHEMA,
    )
    path, roll = str(tmp_path / "store"), str(tmp_path / "roll")
    _write_store(pts, path)
    rollup_points_daily(pts).write.partitionBy("bucket", "date").parquet(roll)
    raw = CerebroClient(spark, {"b": path})
    served = CerebroClient(spark, {"b": path})
    served.register_rollup("b", roll)
    for fn in ("count", "avg"):
        args = dict(start="2024-01-01", end="2024-01-03", aggregate_window=(86400, fn))
        got = served.query("b", "m", "v", **args)
        assert all("roll" in f for f in got.inputFiles())
        want = raw.query("b", "m", "v", **args).collect()
        assert got.collect() == want and [r["v"] for r in want] == [1]


def test_client_reads_only_the_queried_bucket(spark, tmp_path):
    """A path store holds every bucket the ingest sink wrote: a query of
    bucket ``a`` sees only ``a``'s points, raw, for ``field=None`` and
    served from the rollup."""
    from cerebro_spark.operators.rollup import rollup_points_daily

    day = dt.datetime(2024, 1, 1, 12, tzinfo=UTC)
    pts = spark.createDataFrame(
        [("m", {}, {"v": 1.0}, None, None, day, "a"),
         ("m", {}, {"v": 10.0, "w": 5.0}, None, None, day + dt.timedelta(minutes=1), "b")],
        POINT_SCHEMA,
    )
    path, roll = str(tmp_path / "store"), str(tmp_path / "roll")
    _write_store(pts, path)
    rollup_points_daily(pts).write.partitionBy("bucket", "date").parquet(roll)
    client = CerebroClient(spark, {"a": path, "b": path})
    client.register_rollup("a", roll)
    span = dict(start="2024-01-01", end="2024-01-02")

    assert [r["v"] for r in client.query("a", "m", "v", **span).collect()] == [1.0]
    wide = client.query("a", "m", **span)
    assert wide.columns == ["time", "v"] and [r["v"] for r in wide.collect()] == [1.0]
    served = client.query("a", "m", "v", aggregate_window=(86400, "sum"), **span)
    assert all("roll" in f for f in served.inputFiles())
    assert [r["v"] for r in served.collect()] == [1.0]
    assert [r["v"] for r in client.query("b", "m", "v", **span).collect()] == [10.0]
