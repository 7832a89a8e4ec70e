"""Incremental rollup maintenance: a materialized daily aggregate over the
partitioned point store, refreshed per micro-batch by recomputing ONLY the
(bucket, date) partitions the batch touched.

The reference's rollups happen inside InfluxDB (Flux ``aggregateWindow`` at
query time, `client.py:57-91`); at 100 TB a query-time rollup over raw
points re-reads the fact table every dashboard refresh, so the engine keeps
a continuously-maintained daily summary instead.  Work per refresh is
O(touched partitions), not O(store) — the partition-pruned read is the
whole trick, and dynamic partition overwrite makes a retried refresh
idempotent (same input partitions → same output partitions).

Rollup grain: (bucket, measurement, field, date) with count / min / max /
sum — sum+count rather than avg so downstream re-aggregation to coarser
grains (weekly, per-measurement) stays exact (averages of averages are
not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def rollup_points_daily(points: DataFrame) -> DataFrame:
    """Daily per-field rollup of canonical points (one explode over the
    numeric fields map, then a partial-agg-friendly groupBy)."""
    return (
        points.select(
            "bucket",
            "measurement",
            F.to_date("time").alias("date"),
            F.explode("fields").alias("field", "v"),
        )
        .groupBy("bucket", "measurement", "field", "date")
        .agg(
            # count of non-null VALUES (not rows): keeps avg = vsum/n exact
            # under the client's null-skipping aggregate semantics
            F.count("v").alias("n"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
            F.sum("v").alias("vsum"),
        )
    )


def refresh_rollup(
    spark: SparkSession,
    store_path: str,
    rollup_path: str,
    touched: list[tuple[str, str]],
) -> None:
    """Recompute the rollup rows for the given (bucket, date-ISO) partitions
    from the store and dynamic-overwrite exactly those partitions of the
    rollup table (which is itself partitioned by (bucket, date) so the
    overwrite replaces only recomputed groups)."""
    if not touched:
        return
    pred = F.lit(False)
    for b, d in touched:
        pred = pred | ((F.col("bucket") == b) & (F.col("date") == d))
    # bucket/date are partition columns of the store → the disjunction prunes
    # to the touched directories at planning time.
    pts = spark.read.parquet(store_path).filter(pred)
    rolled = rollup_points_daily(
        pts.drop("date")  # re-derive from time; store layout may evolve
    )
    rolled.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("bucket", "date").parquet(rollup_path)


def rollup_maintenance_sink(store_path: str, rollup_path: str):
    """foreachBatch companion to the partitioned point sink: append the
    enriched batch to the store, then refresh the rollup partitions the
    batch touched.  Composes with checkpointing — a replayed batch touches
    the same partitions and the refresh converges to the same rollup."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        enriched = batch_df.withColumn("date", F.to_date("time")).withColumn(
            "__batch", F.lit(batch_id)
        )
        # trailing __batch partition level makes the append idempotent: a
        # replayed batch dynamic-overwrites its own (bucket, date, __batch)
        # leaves instead of appending duplicates, while bucket/date prefix
        # dirs keep partition pruning for readers.
        enriched.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("bucket", "date", "__batch").parquet(store_path)
        touched = [
            (r["bucket"], str(r["date"]))
            for r in enriched.select("bucket", "date").distinct().collect()
        ]
        refresh_rollup(spark, store_path, rollup_path, touched)

    return write


def rollup_state(
    df: DataFrame,
    keys: list[str],
    value_col: str = "value",
) -> DataFrame:
    """Per-key mergeable rollup state ``(n, vmin, vmax, vsum_e2)`` — the
    algebraic form a continuously-maintained aggregate stores.  The sum is
    kept as an exact e2 fixed-point BIGINT (each value quantized to
    cents with the half-up floor before summing), so merging states is
    integer arithmetic: associative, commutative, and engine-exact — no
    float summation-order drift between a state built in one pass and one
    built incrementally across a thousand micro-batches.
    """
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(v).alias("n"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
        F.sum(F.floor(v * F.lit(100.0) + F.lit(0.5)).cast("long")).alias(
            "vsum_e2"
        ),
    )


def merge_rollup_states(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Merge any number of ``rollup_state`` frames into one — count/sum add,
    min/max take extrema.  This is the maintenance step of an incremental
    aggregate: yesterday's state ⊕ today's delta state == the state a full
    recompute would produce (the gated query proves exactly that identity
    against the oracle's one-pass aggregate).  One union + one combinable
    groupBy; state is key-count-sized, never row-sized.
    """
    from functools import reduce

    if not states:
        raise ValueError("merge_rollup_states needs at least one state")
    u = reduce(lambda a, b: a.unionByName(b), states)
    return u.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        F.sum("vsum_e2").alias("vsum_e2"),
    )
