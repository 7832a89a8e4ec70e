"""Batch-equivalence gates for the stateful streaming twins.

The streaming operators in ``streaming/stateful.py`` mirror batch TSDB
verbs (``tsdb.ohlc``, windowed percentiles); until round 6 their only
evidence was pytest.  These queries run the REAL streaming path — a
parquet replay through ``availableNow`` with a checkpoint, complete-mode
windows, a memory sink — and hand the streamed result to the driver's
Spark-vs-DuckDB oracle gate:

- ``streaming_ohlc_6h``: the streamed OHLC windows themselves are the
  query result, and the oracle is the same 6-hour-bucket SQL the batch
  ``ohlc_6h`` query gates against — a hash match proves
  streaming == batch == independent engine on real data.
- ``streaming_percentiles_check``: ``percentile_approx`` sketches are not
  reproducible in DuckDB, so the equivalence is encoded in the output
  (the recall-gate pattern): full-outer-join the streamed windows against
  the batch twin computed with identical arguments and emit window/
  mismatch counts the oracle pins as constants (0 missing, 0 mismatched).

Scale note: the replay is a real Structured Streaming run — state per
window is four scalars (OHLC) or three GK sketches (percentiles), so the
same plan holds on an unbounded production stream; ``availableNow`` only
changes the trigger, not the operators.

Reference: cerebro's daemon computes no windowed rollups itself (it
delegates to InfluxDB tasks downstream, `cerebro/observer.py`); these
twins are the engine-native replacement, so the gate is equivalence to
the batch verbs rather than to a reference file.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cerebro_spark.io import load_table
from cerebro_spark.session import child_session

_BUCKET = 21600  # 6 h — matches queries/tsdb_q.py's batch ohlc_6h

# State-store width of every replay (VERDICT r11 #6): a streaming query pins
# its state partition count to ``spark.sql.shuffle.partitions`` at first
# start, and each stateful operator then pays one delta-file commit PER
# PARTITION PER BATCH.  The gates' keyspaces are tiny — (6 h window, type),
# per-user or per-day state, a few thousand keys at most — so one partition
# holds them.  Measured on ``streaming_ohlc_6h`` over sf0.01 in a warm
# local[2] session on a 4-core host: widths 8, 2 and 1 took about 2.0, 1.3
# and 1.27 s per gate, with state-store ``commitTimeMs`` 535, 135 and 46.
_STATE_PARTITIONS = 1
_SHUFFLE = "spark.sql.shuffle.partitions"


def _events_as_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → canonical point frame (measurement/fields/time) with the
    event id carried in ``fields`` for deterministic open/close ties."""
    return load_table(spark, "events", sf_dir).select(
        F.col("event_type").alias("measurement"),
        F.create_map(
            F.lit("value"), F.col("value").cast("double"),
            F.lit("event_id"), F.col("event_id").cast("double"),
        ).alias("fields"),
        F.col("ts").alias("time"),
    )


def _run_available_now(
    points_df: DataFrame,
    twin,
    output_mode: str = "complete",
    ordered_single_batch: bool = False,
    order_col: str = "ts",
) -> DataFrame:
    """Replay a batch point frame through a streaming twin: spool to
    parquet, readStream it, run ``twin`` on the stream, collect the
    emitted rows into a memory sink, return them as a batch frame.  The
    temp spool/checkpoint dir is removed after termination (the memory
    sink owns the rows).

    ``ordered_single_batch`` writes the spool as ONE ts-sorted file so the
    replay is a single in-order micro-batch — required when the twin's
    semantics are order-dependent (sessionize/CUSUM recurrences).  This is
    a property of the equivalence HARNESS, not of the operators: on a live
    stream the watermark bounds disorder instead.

    The replay runs in the caller's ``"replay"`` ``child_session`` with its
    state store sized to ``_STATE_PARTITIONS``; each replay has a fresh checkpoint, so
    the pinned count never conflicts with prior state.  The returned frame
    belongs to that child session and runs at the caller's shuffle width;
    the memory sink's temp view is dropped once the frame is bound."""
    parent = points_df.sparkSession
    child = child_session(parent, "replay")
    name = f"stream_gate_{uuid.uuid4().hex[:12]}"
    tmp = tempfile.mkdtemp(prefix=name)
    try:
        writer = (
            points_df.orderBy(order_col).coalesce(1)
            if ordered_single_batch
            else points_df
        )
        writer.write.mode("overwrite").parquet(f"{tmp}/in")
        stream = child.readStream.schema(points_df.schema).parquet(f"{tmp}/in")
        child.conf.set(_SHUFFLE, str(_STATE_PARTITIONS))
        try:
            q = (
                twin(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
        finally:
            # start() cloned the child's session into the query, so the
            # width is pinned; frames read from the child run at the parent's
            child.conf.set(_SHUFFLE, parent.conf.get(_SHUFFLE))
        q.awaitTermination(600)
        return child.table(name)
    finally:
        # the bound frame keeps the sink's rows; the view would pin them
        # for the life of the session
        child.catalog.dropTempView(name)
        shutil.rmtree(tmp, ignore_errors=True)


def q_streaming_ohlc_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cerebro_spark.streaming.stateful import streaming_ohlc

    out = _run_available_now(
        _events_as_points(spark, sf_dir),
        lambda s: streaming_ohlc(
            s, window="6 hours", watermark="10 minutes",
            tiebreak_field="event_id",
        ),
    )
    return out.select(
        F.col("window_start").alias("bucket_ts"),
        F.col("measurement").alias("event_type"),
        "open", "high", "low", "close",
        F.col("n_points").alias("n"),
    )


# identical to the batch ohlc_6h oracle: with UTC sessions, Spark's
# 6-hour tumbling window start == floor(epoch/21600)*21600
_STREAMING_OHLC_SQL = f"""
SELECT
  make_timestamp(CAST(floor(epoch(ts) / {_BUCKET}) * {_BUCKET} AS BIGINT) * 1000000) AS bucket_ts,
  event_type,
  (min(struct_pack(t := ts, id := event_id, v := value))).v AS open,
  max(value) AS high,
  min(value) AS low,
  (max(struct_pack(t := ts, id := event_id, v := value))).v AS close,
  count(*) AS n
FROM events
GROUP BY 1, 2
"""


def q_streaming_percentiles_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cerebro_spark.streaming.stateful import streaming_percentiles

    accuracy = 1000
    streamed = _run_available_now(
        _events_as_points(spark, sf_dir),
        lambda s: streaming_percentiles(
            s, window="6 hours", watermark="10 minutes", accuracy=accuracy
        ),
    )
    batch = (
        _events_as_points(spark, sf_dir)
        .groupBy(F.window("time", "6 hours").alias("w"), "measurement")
        .agg(
            F.percentile_approx(
                F.element_at("fields", F.lit("value")), 0.5, accuracy
            ).alias("p50"),
            F.percentile_approx(
                F.element_at("fields", F.lit("value")), 0.95, accuracy
            ).alias("p95"),
            F.percentile_approx(
                F.element_at("fields", F.lit("value")), 0.99, accuracy
            ).alias("p99"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .select(F.col("w.start").alias("window_start"), "measurement",
                "p50", "p95", "p99", "n_points")
    )
    j = streamed.alias("s").join(
        batch.alias("b"), ["window_start", "measurement"], "full_outer"
    )
    mismatch = (
        F.col("s.p50").eqNullSafe(F.col("b.p50"))
        & F.col("s.p95").eqNullSafe(F.col("b.p95"))
        & F.col("s.p99").eqNullSafe(F.col("b.p99"))
        & F.col("s.n_points").eqNullSafe(F.col("b.n_points"))
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(
            (F.col("s.p50").isNull() | F.col("b.p50").isNull()).cast("long")
        ).alias("missing_windows"),
        F.sum((~mismatch).cast("long")).alias("value_mismatches"),
    )


_STREAMING_PCTL_SQL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_windows,
       CAST(0 AS BIGINT) AS missing_windows,
       CAST(0 AS BIGINT) AS value_mismatches
FROM (
  SELECT DISTINCT floor(epoch(ts) / {_BUCKET}), event_type FROM events
)
"""


def q_streaming_sessionize_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-closed sessions from the ``applyInPandasWithState`` sessionizer.

    An availableNow replay emits exactly the sessions CLOSED by a
    following gap; each user's final session stays in state (it would
    emit on processing-time timeout in a live stream), so the oracle is
    the batch session set minus the last session per user.  Gap semantics
    are exact nanoseconds (sub-second timestamps count), hence the
    ``epoch_ns`` oracle rather than the second-truncated ``sessionize``
    convention."""
    from cerebro_spark.streaming.stateful import streaming_sessionize

    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "value")
    out = _run_available_now(
        ev,
        lambda s: streaming_sessionize(
            s, gap_seconds=1800, emit_on_timeout=False
        ),
        output_mode="append",
        ordered_single_batch=True,
    )
    # value_sum rounded on both sides: sequential Python accumulation vs
    # DuckDB's group sum differ in the low float bits
    return out.select(
        "user_id", "session_start", "session_end", "n_events",
        F.round("value_sum", 4).alias("value_sum"),
    )


_STREAMING_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
           OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > 1800000000000
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts, value,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
),
g AS (
  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
    count(*) AS n_events, round(sum(value), 4) AS value_sum
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events, value_sum
FROM g
WHERE sid < (SELECT max(sid) FROM g g2 WHERE g2.user_id = g.user_id)
"""


def q_streaming_cusum_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed per-key CUSUM (one-float state recurrence) vs the batch
    closed form S_i = P_i − min(0, min_{j≤i} P_j) over cumulative sums —
    algebraically identical, so the only daylight is float associativity;
    the gate counts rows where they differ beyond 1e-6 (and alert flags
    that flip outside a 1e-6 guard band of the threshold) and pins both
    at zero.  μ/σ are the offline training baseline (two scalar
    aggregates, bounded driver collect — the documented deployment
    pattern for the streaming alarm)."""
    from pyspark.sql import Window

    from cerebro_spark.streaming.stateful import streaming_cusum

    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "value")
    mu, sigma = ev.agg(
        F.avg("value"), F.coalesce(F.stddev("value"), F.lit(0.0))
    ).first()
    slack_sigmas, alert_sigmas = 0.5, 4.0
    k = slack_sigmas * sigma
    h = alert_sigmas * sigma

    streamed = _run_available_now(
        ev,
        lambda s: streaming_cusum(
            s, mu=mu, sigma=sigma, key_col="user_id",
            slack_sigmas=slack_sigmas, alert_sigmas=alert_sigmas,
        ),
        output_mode="append",
        ordered_single_batch=True,
    ).select(
        F.col("key").alias("user_id"), "ts",
        F.col("cusum").alias("cusum_s"), F.col("is_alert").alias("alert_s"),
    )

    w = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    p = F.sum(F.col("value") - F.lit(mu) - F.lit(k)).over(w)
    batch = ev.select(
        "user_id", "ts",
        (p - F.least(F.min(F.least(p, F.lit(0.0))).over(w), F.lit(0.0)))
        .alias("cusum_b"),
    ).withColumn("alert_b", F.col("cusum_b") > F.lit(h))

    j = streamed.join(batch, ["user_id", "ts"], "full_outer")
    cusum_diff = F.abs(F.col("cusum_s") - F.col("cusum_b"))
    alert_flip = (F.col("alert_s") != F.col("alert_b")) & (
        F.abs(F.col("cusum_b") - F.lit(h)) > 1e-6
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            (
                F.col("cusum_s").isNull()
                | F.col("cusum_b").isNull()
                | (cusum_diff > 1e-6)
            ).cast("long")
        ).alias("cusum_mismatches"),
        F.sum(alert_flip.cast("long")).alias("alert_mismatches"),
    )


_STREAMING_CUSUM_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS cusum_mismatches,
       CAST(0 AS BIGINT) AS alert_mismatches
FROM events
"""


def q_streaming_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` under at-least-once redelivery:
    every event delivered TWICE (the AMQP/poll-replay failure mode) must
    come out exactly once — the streamed survivor set hashes against the
    plain events table.  Single-batch replay keeps the check
    deterministic; on a live stream the watermark bounds how long a
    redelivery can lag and still be suppressed."""
    from cerebro_spark.streaming.stateful import streaming_dedup

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    doubled = ev.unionAll(ev)
    out = _run_available_now(
        doubled,
        lambda s: streaming_dedup(
            s, key_cols=["event_id"], time_col="ts"
        ),
        output_mode="append",
        ordered_single_batch=True,
    )
    return out.select("event_id", "user_id", "event_type", "ts", "value")


_STREAMING_DEDUP_SQL = """
SELECT event_id, user_id, event_type, ts, value FROM events
"""


QUERIES = {
    "streaming_ohlc_6h": q_streaming_ohlc_6h,
    "streaming_percentiles_check": q_streaming_percentiles_check,
    "streaming_sessionize_closed": q_streaming_sessionize_closed,
    "streaming_cusum_check": q_streaming_cusum_check,
    "streaming_dedup_check": q_streaming_dedup_check,
}

ORACLES = {
    "streaming_ohlc_6h": _STREAMING_OHLC_SQL,
    "streaming_percentiles_check": _STREAMING_PCTL_SQL,
    "streaming_sessionize_closed": _STREAMING_SESSION_SQL,
    "streaming_cusum_check": _STREAMING_CUSUM_SQL,
    "streaming_dedup_check": _STREAMING_DEDUP_SQL,
}


def q_streaming_join_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click-to-purchase attribution): the one
    streaming capability class the other gates don't cover.  Purchases join
    clicks of the same user within the 6 h before the purchase — a
    watermarked self-join of two branches of one stream with an event-time
    range condition, which is exactly the state-cleanup contract Spark's
    stream-stream join machinery exists for (the watermark + range bound
    how much click state is retained on a live stream).

    Inner-join results emit as they match (append mode does not hold them
    for the watermark), so the availableNow replay emits exactly the batch
    join — hashed against the plain batch SQL.  Single-ordered-batch replay
    keeps cross-batch eviction out of the equivalence check; on a live
    stream the watermark bounds disorder instead."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )

    def twin(stream: DataFrame) -> DataFrame:
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "10 minutes")
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("user_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "10 minutes")
        )
        return purchases.join(
            clicks,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (
                F.col("click_ts")
                >= F.col("purchase_ts") - F.expr("INTERVAL 6 HOURS")
            ),
            "inner",
        ).select(
            "purchase_id",
            "user_id",
            "click_id",
            (
                F.unix_micros(F.col("purchase_ts"))
                - F.unix_micros(F.col("click_ts"))
            ).alias("gap_us"),
        )

    return _run_available_now(
        ev, twin, output_mode="append", ordered_single_batch=True,
    )


_STREAMING_JOIN_SQL = """
SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 6 HOUR
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""

QUERIES["streaming_join_check"] = q_streaming_join_check
ORACLES["streaming_join_check"] = _STREAMING_JOIN_SQL


def q_streaming_outer_join_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join — the held-until-watermark emission
    class the inner-join gate can't exercise: a purchase with NO click in
    its 6 h window must still come out (click_id null), which the engine
    can only emit once the watermark proves no matching click can arrive.

    Determinism trick for the finite replay: one sentinel event far past
    the corpus max-ts rides the stream PER JOIN BRANCH, typed to pass that
    branch's event_type filter — Catalyst pushes the branch filters below
    the watermark operators, so each branch's watermark only tracks rows
    that survive its own filter (a lone untyped sentinel advances neither;
    found empirically: the global watermark is min() over branches).  The
    sentinels use user ids no real row has (and can't match each other),
    and the sentinel purchase is dropped after the join.  On a live stream
    the same advancement comes from the passage of event time itself.

    Output: per-purchase match count + null-flag, hashed against the batch
    LEFT JOIN aggregate."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )
    # ONE max-ts aggregation builds both sentinel rows (explode of a
    # 2-struct array over the 1-row anchor — not two full-table agg jobs)
    anchor = ev.agg((F.max("ts") + F.expr("INTERVAL 12 HOURS")).alias("ts"))
    sentinels = anchor.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(-1).cast("long").alias("event_id"),
                    F.lit(-1).cast("long").alias("user_id"),
                    F.lit("click").alias("event_type"),
                ),
                F.struct(
                    F.lit(-2).cast("long").alias("event_id"),
                    F.lit(-2).cast("long").alias("user_id"),
                    F.lit("purchase").alias("event_type"),
                ),
            )
        ).alias("s"),
        "ts",
    ).select("s.event_id", "s.user_id", "s.event_type", "ts")
    src = ev.unionByName(sentinels)

    def twin(stream: DataFrame) -> DataFrame:
        clicks = (
            stream.withWatermark("ts", "10 minutes")
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("click_ts"),
            )
        )
        purchases = (
            stream.withWatermark("ts", "10 minutes")
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("user_id"),
                F.col("ts").alias("purchase_ts"),
            )
        )
        joined = purchases.join(
            clicks,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (
                F.col("click_ts")
                >= F.col("purchase_ts") - F.expr("INTERVAL 6 HOURS")
            ),
            "left_outer",
        )
        return joined.select(
            "purchase_id",
            "user_id",
            F.col("click_id"),
        )

    out = _run_available_now(
        src, twin, output_mode="append", ordered_single_batch=True,
    ).filter(F.col("purchase_id") >= 0)  # drop the sentinel purchase
    # aggregate to per-purchase counts: outer-join row order/duplication is
    # engine-internal, the per-purchase contract is not
    return out.groupBy("purchase_id", "user_id").agg(
        F.sum(F.when(F.col("click_id").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_clicks"),
        F.max(F.col("click_id").isNull().cast("int")).cast("long").alias("unmatched"),
    )


_STREAMING_OUTER_JOIN_SQL = """
SELECT p.event_id AS purchase_id, p.user_id,
  CAST(count(c.event_id) AS BIGINT) AS n_clicks,
  CAST(CASE WHEN count(c.event_id) = 0 THEN 1 ELSE 0 END AS BIGINT)
    AS unmatched
FROM events p
LEFT JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 6 HOUR
WHERE p.event_type = 'purchase'
GROUP BY 1, 2
"""

QUERIES["streaming_outer_join_check"] = q_streaming_outer_join_check
ORACLES["streaming_outer_join_check"] = _STREAMING_OUTER_JOIN_SQL


def q_streaming_deadband_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadband compression gate — the last stateful operator that had
    pytest-only evidence: the streamed per-key one-float-state filter
    (emit when |value − last_emitted| ≥ δ) replayed availableNow, then
    summarized as (n_keys, total_kept, kept_qsum_e6).  The oracle
    computes the SAME recursion independently with a DuckDB RECURSIVE
    CTE over (user, rn) — a real independent twin, not a pinned
    constant — so the value hash proves the streamed recursion step for
    step.  Determinism: (user_id, ts) is unique in the testdata (ties
    would make the walk order ambiguous), the replay is a single ordered
    batch, kept values are e6-quantized BIGINTs summed exactly."""
    from cerebro_spark.streaming.stateful import streaming_deadband

    delta = 50.0
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "value")
    streamed = _run_available_now(
        ev,
        lambda s: streaming_deadband(s, key_col="user_id", delta=delta),
        output_mode="append",
        ordered_single_batch=True,
    )
    per_key = streamed.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("kept"),
        F.sum(
            F.floor(F.col("value") * F.lit(1.0e6) + F.lit(0.5)).cast("long")
        ).alias("q"),
    )
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("kept").alias("total_kept"),
        F.sum("q").alias("kept_qsum_e6"),
    )


_STREAMING_DEADBAND_SQL = """
WITH RECURSIVE ordered AS (
  SELECT user_id, value,
    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events
),
walk AS (
  SELECT user_id, rn, value AS last,
    1 AS kept, CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS qsum
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.rn,
    CASE WHEN abs(o.value - w.last) >= 50.0 THEN o.value ELSE w.last END,
    w.kept + CASE WHEN abs(o.value - w.last) >= 50.0 THEN 1 ELSE 0 END,
    w.qsum + CASE WHEN abs(o.value - w.last) >= 50.0
                  THEN CAST(floor(o.value * 1e6 + 0.5) AS BIGINT)
                  ELSE 0 END
  FROM walk w JOIN ordered o ON o.user_id = w.user_id AND o.rn = w.rn + 1
),
final AS (
  SELECT user_id, kept, qsum,
    row_number() OVER (PARTITION BY user_id ORDER BY rn DESC) AS r
  FROM walk
)
SELECT count(*) AS n_keys,
  CAST(sum(kept) AS BIGINT) AS total_kept,
  CAST(sum(qsum) AS BIGINT) AS kept_qsum_e6
FROM final WHERE r = 1
"""

QUERIES["streaming_deadband_check"] = q_streaming_deadband_check
ORACLES["streaming_deadband_check"] = _STREAMING_DEADBAND_SQL


def q_streaming_enrich_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-equivalence gate for ``streaming_enrich_join`` — the stream-
    stream metadata-enrichment primitive (the streaming counterpart of the
    batch as-of join), previously pytest-only.  Views are the point stream,
    signups the metadata stream keyed by user; each view matches metadata
    updates in the 6 h before it (watermark + range condition = evictable
    state on BOTH sides).  Inner matches emit as they join, so the
    availableNow replay hashes against the plain batch interval join."""
    from cerebro_spark.streaming.ingest import streaming_enrich_join

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )

    def twin(stream: DataFrame) -> DataFrame:
        points = stream.filter(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"), "user_id", "ts"
        )
        meta = stream.filter(F.col("event_type") == "signup").select(
            "user_id",
            F.col("event_id").alias("meta_id"),
            F.col("ts").alias("updated_at"),
        )
        out = streaming_enrich_join(
            points, meta, key="user_id", points_ts="ts",
            meta_ts="updated_at", tolerance="6 hours",
            watermark="10 minutes", how="inner",
        )
        return out.select(
            "view_id", "user_id", "meta_id",
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("updated_at")))
            .alias("staleness_us"),
        )

    return _run_available_now(
        ev, twin, output_mode="append", ordered_single_batch=True,
    )


_STREAMING_ENRICH_SQL = """
SELECT p.event_id AS view_id, p.user_id, m.event_id AS meta_id,
  epoch_us(p.ts) - epoch_us(m.ts) AS staleness_us
FROM events p
JOIN events m
  ON m.user_id = p.user_id
 AND m.ts <= p.ts
 AND m.ts >= p.ts - INTERVAL 6 HOUR
WHERE p.event_type = 'view' AND m.event_type = 'signup'
"""

QUERIES["streaming_enrich_check"] = q_streaming_enrich_check
ORACLES["streaming_enrich_check"] = _STREAMING_ENRICH_SQL


def q_streaming_msprt_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed sequential-test state (streaming_msprt: six cumulative
    integer moments carried in per-group state, emitted per day) vs the
    batch cumulative window over the SAME e2-quantized inputs — integer
    moments must agree exactly (mismatches pinned at 0), and the
    always-valid p chain computed from the streamed moments must land on
    the oracle's replay."""
    from pyspark.sql import Window

    from cerebro_spark.streaming.stateful import streaming_msprt

    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    t = F.col("ts").cast("double")
    points = ev.select(
        "ts",
        F.floor(t / 86400).cast("long").alias("day"),
        F.pmod(F.col("user_id"), F.lit(2)).cast("long").alias("arm"),
        F.floor(F.col("value").cast("double") * F.lit(1.0e2) + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    streamed = _run_available_now(
        points,
        lambda s: streaming_msprt(s, arm_a=0, arm_b=1),
        output_mode="append",
        ordered_single_batch=True,
    )

    daily = points.groupBy("day").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("na_d"),
        F.sum(F.when(F.col("arm") == 0, F.col("q")).otherwise(0)).alias("sa_d"),
        F.sum(
            F.when(F.col("arm") == 0, F.col("q") * F.col("q")).otherwise(F.lit(0))
        ).alias("ssa_d"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("nb_d"),
        F.sum(F.when(F.col("arm") == 1, F.col("q")).otherwise(0)).alias("sb_d"),
        F.sum(
            F.when(F.col("arm") == 1, F.col("q") * F.col("q")).otherwise(F.lit(0))
        ).alias("ssb_d"),
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    batch = daily.select(
        "day",
        F.sum("na_d").over(wcum).alias("bna"),
        F.sum("sa_d").over(wcum).alias("bsa"),
        F.sum("ssa_d").over(wcum).alias("bssa"),
        F.sum("nb_d").over(wcum).alias("bnb"),
        F.sum("sb_d").over(wcum).alias("bsb"),
        F.sum("ssb_d").over(wcum).alias("bssb"),
    )
    j = streamed.join(batch, "day", "full_outer")
    mism = F.when(
        (F.col("na") != F.col("bna")) | (F.col("sa") != F.col("bsa"))
        | (F.col("ssa") != F.col("bssa")) | (F.col("nb") != F.col("bnb"))
        | (F.col("sb") != F.col("bsb")) | (F.col("ssb") != F.col("bssb"))
        | F.col("na").isNull() | F.col("bna").isNull(),
        1,
    ).otherwise(0)

    # the always-valid p chain from the STREAMED moments (e2 quantization
    # -> /1e2 means, /1e4 variances), identical to profile.msprt_monitor
    na_d = F.col("na").cast("double")
    nb_d = F.col("nb").cast("double")
    sa_d = F.col("sa").cast("double")
    sb_d = F.col("sb").cast("double")
    delta = (sa_d / na_d - sb_d / nb_d) / F.lit(1.0e2)
    va = (F.col("ssa").cast("double") - sa_d * sa_d / na_d) / (na_d - 1.0) / F.lit(1.0e4)
    vb = (F.col("ssb").cast("double") - sb_d * sb_d / nb_d) / (nb_d - 1.0) / F.lit(1.0e4)
    v = va / na_d + vb / nb_d
    t2 = F.lit(25.0)
    ll = F.round(
        F.lit(0.5) * F.log(v / (v + t2))
        + delta * delta * t2 / (F.lit(2.0) * v * (v + t2)),
        6,
    )
    p = F.round(F.least(F.lit(1.0), F.exp(-ll)), 6)
    qual = (F.col("na") >= 2) & (F.col("nb") >= 2) & (va > 0) & (vb > 0)
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(mism).cast("long").alias("moment_mismatches"),
        F.round(F.min(F.when(qual, p)), 6).alias("p_final"),
    )


_STREAMING_MSPRT_SQL = """
WITH base AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         user_id % 2 AS arm,
         CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS q
  FROM events WHERE value IS NOT NULL
),
daily AS (
  SELECT day,
    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na_d,
    SUM(CASE WHEN arm = 0 THEN q ELSE 0 END) AS sa_d,
    SUM(CASE WHEN arm = 0 THEN q * q ELSE 0 END) AS ssa_d,
    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb_d,
    SUM(CASE WHEN arm = 1 THEN q ELSE 0 END) AS sb_d,
    SUM(CASE WHEN arm = 1 THEN q * q ELSE 0 END) AS ssb_d
  FROM base GROUP BY 1
),
c AS (
  SELECT day,
    SUM(na_d) OVER w AS na, SUM(sa_d) OVER w AS sa, SUM(ssa_d) OVER w AS ssa,
    SUM(nb_d) OVER w AS nb, SUM(sb_d) OVER w AS sb, SUM(ssb_d) OVER w AS ssb
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
chain AS (
  SELECT day, na, nb,
    (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
     - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 1e2 AS delta_raw,
    (CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))
      / (CAST(na AS DOUBLE) - 1.0) / 1e4 AS va,
    (CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
      / (CAST(nb AS DOUBLE) - 1.0) / 1e4 AS vb
  FROM c
),
stat AS (
  SELECT day,
    round(least(1.0, exp(-round(
      0.5 * ln((va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE))
               / ((va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE)) + 25.0))
      + delta_raw * delta_raw * 25.0
        / (2.0 * (va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE))
           * ((va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE)) + 25.0)), 6))), 6)
      AS p
  FROM chain
  WHERE na >= 2 AND nb >= 2 AND va > 0 AND vb > 0
)
SELECT (SELECT COUNT(*) FROM daily) AS n_days,
       CAST(0 AS BIGINT) AS moment_mismatches,
       round((SELECT MIN(p) FROM stat), 6) AS p_final
"""

QUERIES["streaming_msprt_check"] = q_streaming_msprt_check
ORACLES["streaming_msprt_check"] = _STREAMING_MSPRT_SQL


def q_streaming_cms_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch: profile.count_min_sketch runs UNCHANGED
    on the stream (posexplode + windowless groupBy in complete mode —
    bounded depth×width counter state, the serving-layer shape), replayed
    through availableNow; the oracle is the same portable-md5 sketch SQL
    the batch cms_top_terms gates against, so a hash match proves
    streaming == batch == independent engine cell-for-cell."""
    from cerebro_spark.operators.profile import count_min_sketch

    keys = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            F.floor(F.col("value")).cast("long").cast("string").alias("w"),
            F.col("ts"),
        )
    )
    out = _run_available_now(
        keys, lambda s: count_min_sketch(s, "w", depth=4, width=256),
    )
    return out.select("row", "bucket", "c").orderBy("row", "bucket")


def _streaming_cms_sql(depth: int = 4, width: int = 256) -> str:
    from cerebro_spark.queries.extensions import _hex2long_sql

    buck = "\n  UNION ALL ".join(
        f"SELECT {r} AS row, "
        + _hex2long_sql(f"md5('{r}|' || w)", 8)
        + f" % {width} AS bucket FROM keys"
        for r in range(depth)
    )
    return f"""
WITH keys AS (
  SELECT CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS w
  FROM events WHERE value IS NOT NULL
),
buck AS (
  {buck}
)
SELECT row, bucket, CAST(count(*) AS BIGINT) AS c
FROM buck GROUP BY 1, 2
ORDER BY row, bucket
"""


QUERIES["streaming_cms_check"] = q_streaming_cms_check
ORACLES["streaming_cms_check"] = _streaming_cms_sql()


def q_streaming_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed approx-distinct (stateful.streaming_distinct):
    HLL++ register-max merges are order-insensitive and bounded, so the
    availableNow replay must equal the batch aggregate with identical
    arguments bit-for-bit — encoded as full-outer-join mismatch counts
    the oracle pins as constants (the percentiles-check pattern; the
    sketch itself is not DuckDB-reproducible)."""
    from cerebro_spark.streaming.stateful import streaming_distinct

    streamed = _run_available_now(
        _events_as_points(spark, sf_dir),
        lambda s: streaming_distinct(
            s, window="6 hours", watermark="10 minutes", rsd=0.02
        ),
    )
    v = F.element_at(F.col("fields"), F.lit("value"))
    batch = (
        _events_as_points(spark, sf_dir)
        .groupBy(F.window("time", "6 hours").alias("w"), "measurement")
        .agg(
            F.approx_count_distinct(v, 0.02).alias("approx_distinct"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .select(
            F.col("w.start").alias("window_start"), "measurement",
            "approx_distinct", "n_points",
        )
    )
    j = streamed.alias("s").join(
        batch.alias("b"), ["window_start", "measurement"], "full_outer"
    )
    ok = F.col("s.approx_distinct").eqNullSafe(
        F.col("b.approx_distinct")
    ) & F.col("s.n_points").eqNullSafe(F.col("b.n_points"))
    return j.agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(
            (
                F.col("s.approx_distinct").isNull()
                | F.col("b.approx_distinct").isNull()
            ).cast("long")
        ).alias("missing_windows"),
        F.sum((~ok).cast("long")).alias("value_mismatches"),
    )


_STREAMING_DISTINCT_SQL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_windows,
       CAST(0 AS BIGINT) AS missing_windows,
       CAST(0 AS BIGINT) AS value_mismatches
FROM (
  SELECT DISTINCT floor(epoch(ts) / {_BUCKET}), event_type FROM events
)
"""

QUERIES["streaming_distinct_check"] = q_streaming_distinct_check
ORACLES["streaming_distinct_check"] = _STREAMING_DISTINCT_SQL
