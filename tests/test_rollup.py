"""Incremental rollup maintenance: per-batch partition-pruned refresh
equals a full recompute; replays converge; untouched partitions stay put."""

import pytest
import datetime as dt

from cerebro_spark.operators.rollup import (
    rollup_maintenance_sink,
    rollup_points_daily,
)
from cerebro_spark.schema import POINT_SCHEMA


def _pt(measurement, value, day, bucket="b1"):
    return (
        measurement,
        {},
        {"value": float(value)},
        None,
        None,
        dt.datetime(2024, 1, day, 12, 0),
        bucket,
    )


def _rollup_rows(spark, path):
    return {
        (r["bucket"], r["measurement"], r["field"], str(r["date"])): (
            r["n"], r["vmin"], r["vmax"], r["vsum"],
        )
        for r in spark.read.parquet(path).collect()
    }


def test_incremental_rollup_matches_full_recompute(spark, tmp_path):
    store, roll = str(tmp_path / "store"), str(tmp_path / "roll")
    sink = rollup_maintenance_sink(store, roll)

    sink(spark.createDataFrame([_pt("temp", 1, 1), _pt("temp", 3, 1)], POINT_SCHEMA), 0)
    sink(spark.createDataFrame([_pt("temp", 5, 1), _pt("hum", 7, 2)], POINT_SCHEMA), 1)

    got = _rollup_rows(spark, roll)
    assert got[("b1", "temp", "value", "2024-01-01")] == (3, 1.0, 5.0, 9.0)
    assert got[("b1", "hum", "value", "2024-01-02")] == (1, 7.0, 7.0, 7.0)

    # equals a from-scratch rollup over the whole store
    full = {
        (r["bucket"], r["measurement"], r["field"], str(r["date"])): (
            r["n"], r["vmin"], r["vmax"], r["vsum"],
        )
        for r in rollup_points_daily(spark.read.parquet(store)).collect()
    }
    assert got == full


def test_incremental_rollup_replay_converges(spark, tmp_path):
    store, roll = str(tmp_path / "store"), str(tmp_path / "roll")
    sink = rollup_maintenance_sink(store, roll)
    b1 = spark.createDataFrame([_pt("temp", 2, 1)], POINT_SCHEMA)
    sink(b1, 0)
    before = _rollup_rows(spark, roll)
    sink(b1, 0)  # checkpoint-recovery replay of the same batch
    assert _rollup_rows(spark, roll) == before
    # and the store did not double the rows
    assert spark.read.parquet(store).count() == 1


def test_incremental_rollup_prunes_untouched_partitions(spark, tmp_path):
    store, roll = str(tmp_path / "store"), str(tmp_path / "roll")
    sink = rollup_maintenance_sink(store, roll)
    sink(spark.createDataFrame([_pt("temp", 1, 1), _pt("temp", 2, 2)], POINT_SCHEMA), 0)
    day1 = list((tmp_path / "roll").glob("bucket=b1/date=2024-01-01/*.parquet"))
    mtimes = {str(p): p.stat().st_mtime for p in day1}
    # a batch touching only day 2 must not rewrite day 1's rollup partition
    sink(spark.createDataFrame([_pt("temp", 9, 2)], POINT_SCHEMA), 1)
    after = list((tmp_path / "roll").glob("bucket=b1/date=2024-01-01/*.parquet"))
    assert {str(p): p.stat().st_mtime for p in after} == mtimes
    got = _rollup_rows(spark, roll)
    assert got[("b1", "temp", "value", "2024-01-02")] == (2, 2.0, 9.0, 11.0)


def test_rollup_writers_leave_session_conf_alone(spark, tmp_path, monkeypatch):
    """Dynamic partition overwrite is a writer option: the maintenance sink
    and ``refresh_rollup`` set nothing on the shared session, and a refresh
    of day 2 leaves day 1's rollup partition in place."""
    from pyspark.sql.conf import RuntimeConfig

    from cerebro_spark.operators.rollup import refresh_rollup

    store, roll = str(tmp_path / "store"), str(tmp_path / "roll")
    sink = rollup_maintenance_sink(store, roll)
    first = spark.createDataFrame([_pt("temp", 1, 1), _pt("temp", 2, 2)], POINT_SCHEMA)
    second = spark.createDataFrame([_pt("temp", 9, 2)], POINT_SCHEMA)
    sets, real_set = [], RuntimeConfig.set

    def record(self, key, value):
        sets.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", record)
    sink(first, 0)
    sink(second, 1)
    refresh_rollup(spark, store, roll, [("b1", "2024-01-02")])
    assert sets == []
    got = _rollup_rows(spark, roll)
    assert got[("b1", "temp", "value", "2024-01-01")] == (1, 1.0, 1.0, 1.0)
    assert got[("b1", "temp", "value", "2024-01-02")] == (2, 2.0, 9.0, 11.0)


def test_rollup_sink_under_streaming_engine(spark, tmp_path):
    """foreachBatch wiring: replayed point files → rollup maintenance."""
    src_dir = str(tmp_path / "src")
    store, roll = str(tmp_path / "store"), str(tmp_path / "roll")
    ckpt = str(tmp_path / "ckpt")

    pts = spark.createDataFrame(
        [_pt("temp", 1, 1), _pt("temp", 3, 1), _pt("hum", 5, 2)], POINT_SCHEMA
    )
    pts.write.parquet(src_dir)

    q = (
        spark.readStream.schema(pts.schema)
        .parquet(src_dir)
        .writeStream.foreachBatch(rollup_maintenance_sink(store, roll))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = _rollup_rows(spark, roll)
    assert got[("b1", "temp", "value", "2024-01-01")] == (2, 1.0, 3.0, 4.0)
    assert got[("b1", "hum", "value", "2024-01-02")] == (1, 5.0, 5.0, 5.0)


@pytest.mark.slow
def test_client_rollup_rewrite_matches_raw(spark, tmp_path):
    """Day-aligned aggregateWindow served from the rollup equals the raw
    scan; non-aligned windows fall back to raw."""
    import datetime as dt

    from pyspark.sql import functions as F

    from cerebro_spark.operators.rollup import rollup_points_daily
    from cerebro_spark.plans.client import CerebroClient

    pts = spark.createDataFrame(
        [_pt("temp", v, d) for d, v in ((1, 1), (1, 5), (2, 2), (3, 9), (4, 4))]
        + [_pt("hum", 7, 2)],
        POINT_SCHEMA,
    )
    store, roll = str(tmp_path / "pts"), str(tmp_path / "roll")
    pts.write.parquet(store)
    rollup_points_daily(pts).write.partitionBy("bucket", "date").parquet(roll)

    now = dt.datetime(2024, 1, 5)
    c = CerebroClient(spark, {"b1": store}, now=now)
    c.register_rollup("b1", roll)
    raw = CerebroClient(spark, {"b1": store}, now=now)  # no rollup → raw path

    for fn in ("avg", "min", "max", "sum", "count"):
        for win in (86400, 2 * 86400):
            a = c.query("b1", "temp", "value", start="2024-01-01",
                        end="2024-01-05", aggregate_window=(win, fn))
            b = raw.query("b1", "temp", "value", start="2024-01-01",
                          end="2024-01-05", aggregate_window=(win, fn))
            assert sorted(map(tuple, a.collect())) == sorted(
                map(tuple, b.collect())
            ), (fn, win)
            # the rewrite actually reads the rollup, not the point store
            assert all("roll" in f for f in a.inputFiles()), (fn, win)

    # ... and a non-day-aligned window falls back to the raw store
    h = c.query("b1", "temp", "value", start="2024-01-01",
                end="2024-01-05", aggregate_window=(3600, "avg"))
    assert all("pts" in f for f in h.inputFiles())
