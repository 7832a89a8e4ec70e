"""Structured Streaming ingest: the canonical point stream (SURVEY §3.1).

Reference dataflow: sources → parse → ``Cerebro.on_next`` (stamp time, merge
tags) → Rx Subject fan-out → sinks (``/root/reference/cerebro/cerebro.py:385-415``).
Spark shape: N streaming DataFrames → ``union`` → enrichment → sink queries.

Scale notes: the point stream is partitioned by (bucket, date) at the sink, so
a 1000-executor ingest writes partition-local files with no shuffle; the only
stateful operator is the optional watermark (bounded state).  Per-source
cadence maps to per-query ``trigger(processingTime=...)``.
"""

from __future__ import annotations

from functools import reduce
from itertools import chain

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cerebro_spark.schema import POINT_SCHEMA


def replay_file_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-replay streaming source over canonical point data — the testable
    stand-in for device connectors (new files appear → new micro-batch), and
    the pattern for S15/S16-style incremental HTTP feeds (files are the
    landed fetches; checkpointed offsets are the HWM, T22)."""
    reader = spark.readStream.format(fmt).schema(POINT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def union_sources(sources: list[DataFrame]) -> DataFrame:
    """K4 fan-in: one canonical stream from N source streams (the Rx Subject
    analog — reference `cerebro.py:245,333`)."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), sources)


def batch_now(clock_offset_ms: float = 0.0) -> Column:
    """The micro-batch's time plus ``clock_offset_ms``, kept out of generated
    code.  Streaming turns ``current_timestamp()`` into each batch's time as
    a literal, which whole-stage codegen inlines into its source: each batch
    compiled new classes (2 per ingest drain) into the shared codegen cache.
    Inside an interpreted (``CodegenFallback``) one-element ``aggregate``
    the literal stays in the expression object.  SQL text costs one py4j
    call; the DataFrame-API lambda cost about 40."""
    now = "current_timestamp()"
    if clock_offset_ms:
        now = f"timestamp_micros(unix_micros({now}) + {int(clock_offset_ms * 1000)})"
    return F.expr(f"aggregate(array(0), {now}, (acc, x) -> acc)")


def enrich_points(
    df: DataFrame,
    instance_tags: dict[str, str] | None = None,
    default_bucket: str | None = None,
    clock_offset_ms: float = 0.0,
) -> DataFrame:
    """T5 + T6 — central enrichment (reference `cerebro.py:407-412`):

    - stamp missing ``time`` with now + offset (the NTP offset becomes a
      config scalar; cluster NTP replaces the reference's hourly NTP query —
      documented delta, SURVEY T5);
    - merge instance-wide tags into every point's tags (point tags win on
      collision, matching dict.update order in the reference where point tags
      are updated *into* the instance tags);
    - default the bucket (reference `observer.py:122-124`).

    The stamp is ``batch_now``, so a steady-state batch compiles nothing.
    """
    out = df.withColumn("time", F.coalesce(F.col("time"), batch_now(clock_offset_ms)))
    if instance_tags:
        lit_map = F.create_map(
            *chain.from_iterable(
                (F.lit(k), F.lit(v)) for k, v in instance_tags.items()
            )
        )
        out = out.withColumn(
            "tags",
            F.map_concat(
                F.map_filter(
                    lit_map,
                    lambda k, _: ~F.array_contains(
                        F.map_keys(F.coalesce(F.col("tags"), F.create_map())), k
                    ),
                ),
                F.coalesce(F.col("tags"), F.create_map()),
            ),
        )
    if default_bucket is not None:
        out = out.withColumn(
            "bucket", F.coalesce(F.col("bucket"), F.lit(default_bucket))
        )
    return out


def stale_filter_stream(
    df: DataFrame,
    max_age_seconds: float,
    time_col: str = "time",
    use_watermark: bool = True,
) -> DataFrame:
    """T7 — streaming stale-data drop (reference `lvm.py:79-82`): watermark
    bounds state; the filter drops points older than ``max_age_seconds``
    relative to the batch time (``batch_now``)."""
    out = df
    if use_watermark:
        out = out.withWatermark(time_col, f"{int(max_age_seconds)} seconds")
    return out.filter(
        F.col(time_col).cast("double")
        > batch_now().cast("double") - F.lit(max_age_seconds)
    )


def empty_point_batch_filter(df: DataFrame) -> DataFrame:
    """T4 — drop degenerate points (no measurement or all field maps empty),
    the row-level analog of the reference's empty-batch skip
    (`cerebro.py:404-405`)."""
    non_empty = (
        (F.size(F.coalesce(F.col("fields"), F.create_map())) > 0)
        | (F.size(F.coalesce(F.col("fields_str"), F.create_map())) > 0)
        | (F.size(F.coalesce(F.col("fields_bool"), F.create_map())) > 0)
    )
    return df.filter(F.col("measurement").isNotNull() & non_empty)


def run_ingest(
    spark: SparkSession,
    source: DataFrame,
    sink_path: str,
    checkpoint: str,
    instance_tags: dict[str, str] | None = None,
    default_bucket: str = "default",
    available_now: bool = False,
    processing_time: str | None = None,
    query_name: str = "cerebro-ingest",
):
    """Wire source → enrich → partitioned parquet sink; returns the
    StreamingQuery.  ``available_now=True`` drains existing input and stops
    (test/backfill mode)."""
    # in-flight data-quality counters, observed on the RAW stream (before
    # enrichment stamps null times and the empty-point filter drops rows, so
    # the counters see what arrived, not what survived): land in every
    # progress event's observedMetrics with zero extra passes and surface
    # through IngestRunner.metrics()/the control socket.
    source = source.observe(
        "ingest_quality",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("time").isNull().cast("long")).alias("null_time_rows"),
        F.sum(
            (
                F.coalesce(F.size("fields"), F.lit(0))
                + F.coalesce(F.size("fields_str"), F.lit(0))
                + F.coalesce(F.size("fields_bool"), F.lit(0))
                <= 0
            ).cast("long")
        ).alias("empty_field_rows"),
        F.approx_count_distinct("measurement").alias("measurements"),
    )
    enriched = empty_point_batch_filter(
        enrich_points(source, instance_tags, default_bucket)
    ).withColumn("date", F.to_date("time"))
    writer = (
        enriched.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("bucket", "date")
        .queryName(query_name)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def streaming_enrich_join(
    points: DataFrame,
    meta: DataFrame,
    key: str,
    points_ts: str = "time",
    meta_ts: str = "updated_at",
    tolerance: str = "1 hour",
    watermark: str = "10 minutes",
    how: str = "leftOuter",
) -> DataFrame:
    """Stream-stream enrichment join: each point matches metadata rows for
    the same ``key`` whose update time falls in
    ``[point.time - tolerance, point.time]`` — the streaming counterpart of
    the batch as-of join (``operators.joins.asof_join``), restricted to a
    bounded look-back so both join states are watermark-evictable.

    Spark's stream-stream outer joins REQUIRE the event-time range condition:
    it is what lets each side drop state older than
    ``watermark + tolerance``.  If several metadata versions fall inside the
    tolerance window the join emits one row per version; a downstream
    ``max_by(meta_cols, meta_ts)`` aggregate (or a tighter tolerance) picks
    the newest — kept out of this primitive so append-mode consumers can
    choose their own resolution.

    Reference analog: the reference enriches points from an in-process dict
    of per-source static tags (`cerebro.py:407-412`); this operator is the
    same enrichment when the metadata itself is a live stream.
    """
    p = points.withWatermark(points_ts, watermark)
    m = meta.withWatermark(meta_ts, watermark).withColumnRenamed(
        key, f"__m_{key}"
    )
    lo = F.col(points_ts) - F.expr(f"INTERVAL {tolerance}")
    cond = (
        (p[key] == F.col(f"__m_{key}"))
        & (F.col(meta_ts) <= F.col(points_ts))
        & (F.col(meta_ts) >= lo)
    )
    return p.join(m, cond, how)
