"""Query layer — CerebroClient parity (SURVEY §2.4, §3.2).

The reference client compiles (bucket, measurement, field, start, end) into a
Flux string executed by InfluxDB (``/root/reference/cerebro/client.py:57-91``):
scan → range → measurement filter → optional field filter → pivot.  Here the
same parameters build a DataFrame expression chain over our stored point
tables: one scan under one predicate, at most one shuffle, and for
``field=None`` one field-name discovery aggregate.  A parquet path's schema is
read on its first query only, its files are listed on every query (later
commits stay visible), and a path partitioned on ``bucket`` and ``date`` (the
ingest sink's layout) reads only the queried bucket and the dates in range.
Naive bounds are UTC.

Relative times: the reference accepts Flux-style ``-15m``/``-1h`` bounds
(`client.py:70-78`); ``_resolve_time`` reproduces that (T23).
"""

from __future__ import annotations

import datetime as dt
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_REL_RE = re.compile(r"^-(\d+(?:\.\d+)?)(s|m|h|d|w)$")
_UNIT_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}


def _resolve_time(
    value: str | float | dt.datetime | None,
    now: dt.datetime,
) -> dt.datetime | None:
    """Flux-style bound → absolute UTC datetime.

    Accepts ISO strings, datetimes, negative floats (seconds before now —
    reference `tools.py:70-86`), and Flux relative strings like ``-15m``
    (reference `client.py:111-114`).
    """
    if value is None:
        return None
    if isinstance(value, dt.datetime):
        return value
    if isinstance(value, (int, float)):
        if value < 0:
            return now + dt.timedelta(seconds=float(value))
        return dt.datetime.fromtimestamp(float(value), tz=dt.timezone.utc).replace(
            tzinfo=None
        )
    m = _REL_RE.match(value.strip())
    if m:
        qty, unit = float(m.group(1)), m.group(2)
        return now - dt.timedelta(seconds=qty * _UNIT_SECONDS[unit])
    return dt.datetime.fromisoformat(value.replace("Z", "+00:00")).replace(tzinfo=None)


def _utc(t: dt.datetime) -> Column:
    """Bound literal; ``F.lit`` would read a naive datetime as host-local."""
    return F.lit(t if t.tzinfo else t.replace(tzinfo=dt.timezone.utc))


_AGGS = {"avg": F.avg, "mean": F.avg, "min": F.min, "max": F.max, "sum": F.sum, "count": F.count}


class CerebroClient:
    """Query interface over stored point tables.

    ``store`` maps bucket name → a parquet path or a DataFrame of canonical
    points (POINT_SCHEMA).  ``query`` mirrors the reference signature
    (`client.py:93-129`) and returns the pivoted wide DataFrame.
    """

    def __init__(
        self,
        spark: SparkSession,
        store: dict[str, str] | None = None,
        now: dt.datetime | None = None,
    ):
        self.spark = spark
        self.store = store or {}
        self.rollups: dict[str, object] = {}
        self._now = now  # pinned clock for deterministic tests
        #: path → (schema, partitioned on ``date``, on ``bucket``), from the
        #: path's first query
        self._layouts: dict[str, tuple[StructType, bool, bool]] = {}

    def register_bucket(self, bucket: str, path_or_df: str | DataFrame) -> None:
        self._layouts.pop(self.store.get(bucket), None)
        self.store[bucket] = path_or_df

    def register_rollup(self, bucket: str, path_or_df: str | DataFrame) -> None:
        """Attach a maintained daily rollup (``operators.rollup`` layout:
        measurement, field, date, n, vmin, vmax, vsum) — day-aligned
        ``aggregate_window`` queries are then rewritten onto it."""
        self._layouts.pop(self.rollups.get(bucket), None)
        self.rollups[bucket] = path_or_df

    def _read(
        self, src: str | DataFrame, bucket: str, measurement: str
    ) -> tuple[DataFrame, Column, bool]:
        """Q1 — bucket scan (`client.py:68`): the frame, its predicate for
        ``bucket`` and the measurement (`client.py:80`), and whether it is
        partitioned on ``date``.  A path partitioned on ``bucket`` holds every
        bucket the ingest sink wrote, so its predicate names the bucket; a
        path's schema and partition columns are read on its first read only."""
        pred = F.col("measurement") == measurement
        if isinstance(src, DataFrame):
            return src, pred, False
        if src not in self._layouts:
            df = self.spark.read.parquet(src)
            parts = df._jdf.queryExecution().analyzed().relation().partitionSchema()
            names = set(parts.fieldNames())
            self._layouts[src] = (df.schema, "date" in names, "bucket" in names)
        else:
            df = self.spark.read.schema(self._layouts[src][0]).parquet(src)
        _, dated, bucketed = self._layouts[src]
        if bucketed:
            pred &= F.col("bucket") == bucket
        return df, pred, dated

    def _try_rollup_rewrite(
        self,
        bucket: str,
        measurement: str,
        field: str | None,
        t0: dt.datetime | None,
        t1: dt.datetime | None,
        every: int,
        fn: str,
    ) -> DataFrame | None:
        """Materialized-view rewrite: serve a day-aligned aggregateWindow
        from the maintained daily rollup instead of re-reading raw points.

        Applicability (else return None and the raw path runs): a rollup is
        registered for the bucket, ``every`` is a whole number of days, the
        range bounds land on day boundaries, and ``fn`` is decomposable from
        (n, vmin, vmax, vsum) — avg as sum/count stays EXACT, not an
        average-of-averages.  At 100 TB this turns every dashboard-grain
        query from a fact-table scan into a rollup read that is smaller by
        the per-day point count, with date partition pruning intact.
        """
        def midnight(t: dt.datetime | None) -> bool:
            return t is None or (t.hour, t.minute, t.second, t.microsecond) == (0, 0, 0, 0)

        if (bucket not in self.rollups or every % 86400 != 0 or fn not in _AGGS
                or not midnight(t0) or not midnight(t1)):
            return None
        rollup, pred, _ = self._read(self.rollups[bucket], bucket, measurement)
        if t0 is not None:
            pred &= F.col("date") >= F.lit(t0.date())
        if t1 is not None:
            pred &= F.col("date") < F.lit(t1.date())
        if field is not None:
            # n = 0 marks a day of only null values, which the raw path drops
            pred &= (F.col("field") == field) & (F.col("n") > 0)
        value = {"min": F.min("vmin"), "max": F.max("vmax"), "sum": F.sum("vsum"),
                 "count": F.sum("n")}.get(fn, F.sum("vsum") / F.sum("n"))  # avg, mean
        day = F.col("date").cast("timestamp").cast("long")
        window = F.timestamp_seconds(F.floor(day / every) * every).alias("time")
        return rollup.filter(pred).groupBy(window, "measurement", "field").agg(value.alias("value"))

    def _pivot(self, rows: DataFrame, keys: Column, cell) -> DataFrame:
        """Q5 — every field long→wide (`client.py:85-90`), one shuffle: a row per
        time, a column per name in the ``keys`` arrays (one aggregate, sorted
        as Spark's pivot sorts them, under its cap), cell = first ``cell(n)``."""
        names = sorted(set(rows.agg(F.flatten(F.collect_set(keys))).first()[0]))
        cap = int(self.spark.conf.get("spark.sql.pivotMaxValues"))
        if len(names) > cap:
            raise ValueError(f"more than spark.sql.pivotMaxValues={cap} fields to pivot")
        if not names:
            return rows.select("time").distinct()
        return rows.groupBy("time").agg(*[F.first(cell(n), ignorenulls=True).alias(n) for n in names])

    def query(
        self,
        bucket: str,
        measurement: str,
        field: str | None = None,
        start: str | float | dt.datetime = "-1d",
        end: str | float | dt.datetime | None = None,
        pivot: bool = True,
        aggregate_window: tuple[int, str] | None = None,
    ) -> DataFrame:
        """Q1-Q6 — scan → range → measurement filter → field filter → pivot.

        ``aggregate_window=(every_seconds, fn)`` adds the Flux
        ``aggregateWindow(every: …, fn: …)`` downsampling step (fn ∈
        avg/min/max/sum/count) applied per field over tumbling buckets —
        the aggregation surface the reference delegated to InfluxDB."""
        now = self._now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        t0, t1 = _resolve_time(start, now), _resolve_time(end, now)
        every, fn = aggregate_window or (None, None)
        # rollup first: a served query never touches the point store
        long = aggregate_window and self._try_rollup_rewrite(
            bucket, measurement, field, t0, t1, every, fn)
        if long is None:
            # Q2/Q3 — one predicate: the bucket and measurement, Flux range()'s
            # closed-open [t0, t1) (`client.py:70-78`) and the dates it touches.
            df, pred, dated = self._read(self.store[bucket], bucket, measurement)
            if t0 is not None:
                pred &= F.col("time") >= _utc(t0)
            if t1 is not None:
                pred &= F.col("time") < _utc(t1)
            if dated and t0 is not None:
                pred &= F.col("date") >= F.to_date(_utc(t0))
            if dated and t1 is not None:  # time < t1 is time <= t1 - 1 µs
                pred &= F.col("date") <= F.to_date(_utc(t1 - dt.timedelta(microseconds=1)))
            df = df.filter(pred)
            # Q4 — field filter (`client.py:82-83`): one map lookup per row for a field; all
            # fields pivot straight from the maps unless pivot=False or a window explodes them.
            if field is not None:
                value = F.element_at(F.col("fields"), field)
                long = df.filter(value.isNotNull()).select(
                    "time", "measurement", F.lit(field).alias("field"), value.alias("value")
                )
            elif pivot and aggregate_window is None:
                fields = F.col("fields")
                return self._pivot(df.filter(F.size(fields) > 0), F.map_keys(fields), fields.getItem)
            else:
                long = df.select("time", "measurement", F.explode("fields").alias("field", "value"))
            if aggregate_window is not None:
                window = F.timestamp_seconds(F.floor(F.col("time").cast("long") / every) * every)
                long = long.groupBy(window.alias("time"), "measurement", "field").agg(
                    _AGGS[fn]("value").alias("value")
                )

        if not pivot:
            return long
        # Q5 — one shuffle: a concrete field aggregated per window already has
        # one row per time; a raw one keeps the first value per time.
        if field is not None and aggregate_window is not None:
            return long.select("time", F.col("value").alias(field))
        if field is not None:
            return long.groupBy("time").agg(F.first("value", ignorenulls=True).alias(field))
        return self._pivot(long, F.array("field"), lambda n: F.when(F.col("field") == n, F.col("value")))
