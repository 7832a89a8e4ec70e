"""Testdata loaders.

Thin wrappers over ``spark.read.parquet`` — Catalyst owns pushdown/pruning, so
loaders stay declarative.  At 100 TB these would point at partitioned
Parquet/Delta roots; the API is identical.
"""

from __future__ import annotations

import os
import weakref
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cerebro_spark.schema import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@lru_cache(maxsize=256)
def _nano_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as long
    (``spark.sql.legacy.parquet.nanosAsLong``); we convert to µs timestamps."""
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        return tuple(
            f.name for f in schema if str(f.type) == "timestamp[ns]"
        )
    except Exception:  # noqa: BLE001 — directory datasets etc.; no conversion
        return ()


# Read confs every load needs.  ``get_spark`` sets all three when it builds
# the session, so on its sessions a load writes nothing; a session built some
# other way (a caller's own ``SparkSession``) gets the differing ones set on
# its first load.  All three are runtime-settable.  Parquet TIMESTAMP(NANOS)
# (older testdata's events.ts) has no Spark type: it reads as long, and the
# loader converts it to µs (documented ns→µs delta, SURVEY §1.4).  Parquet
# TIMESTAMP(MICROS, isAdjustedToUTC=false) must read as a regular
# (UTC-session) TIMESTAMP, not TIMESTAMP_NTZ: the engine's time operators
# cast ts→long epoch seconds, which NTZ forbids, and DuckDB oracles treat the
# same bytes as plain timestamps.
READ_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def _ensure_session_confs(spark: SparkSession) -> None:
    """Set each of ``READ_CONFS`` whose current value differs, and no other."""
    for key, value in READ_CONFS.items():
        if spark.conf.get(key) != value:
            spark.conf.set(key, value)


# Per-session relation reuse (VERDICT r11 #9, the long-tail lever): every
# query calls load_table for its base tables, and each spark.read.parquet
# re-resolves the datasource (footer/schema read, file listing) — a fixed
# ~50-150 ms driver-side tax per call that at 235 bench queries × several
# tables adds up to a two-digit share of the headline total.  The testdata
# tables are immutable within a session, so the RESOLVED DataFrame (a plan,
# never data — every action still scans the parquet files) is reused per
# (session, path).  WeakKeyDictionary: the cache dies with the session, so
# a stopped/recreated session can never serve stale relations.
_RELATION_CACHE: (
    "weakref.WeakKeyDictionary[SparkSession, dict[str, DataFrame]]"
) = weakref.WeakKeyDictionary()


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """The testdata table ``<sf_dir>/<name>.parquet``, resolved once per
    session and path.

    Contract: the table's files do not change while the session loads it.
    The reused relation keeps the file listing of its first load, so a
    rewrite in place goes unseen (added files) or fails the next scan
    (deleted files).  A caller that rewrites a table mid-session calls
    ``clear_relation_cache(spark)`` afterwards.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    per_session = _RELATION_CACHE.setdefault(spark, {})
    cached = per_session.get(path)
    if cached is not None:
        return cached
    _ensure_session_confs(spark)
    df = spark.read.parquet(path)
    for c in _nano_ts_columns(path):
        # integer DIV keeps ns-epoch exact (ns > 2^53 would lose precision as
        # a double); floor division matches DuckDB's ns→µs truncation.  The
        # raw long column stays as ``{c}__ns`` so time predicates can still be
        # pushed into the parquet scan (filter_time_range adds the equivalent
        # raw-column predicate — a filter on the *converted* column is a
        # derived expression Catalyst cannot push to row-group pruning).
        df = df.withColumnRenamed(c, f"{c}__ns").withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}__ns` div 1000"))
        )
    per_session[path] = df
    return df


def clear_relation_cache(spark: SparkSession) -> None:
    """Drop ``spark``'s reused ``load_table`` relations; the next load of
    each table resolves (schema and file listing) afresh."""
    _RELATION_CACHE.pop(spark, None)


def load_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every testdata table as a temp view for spark.sql() use."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by its join/agg key.

    Two tables bucketed on the same key with the same bucket count join with
    NO exchange on either side — the shuffle is paid once at write time and
    amortized over every subsequent join/aggregation.  This is the co-located
    join strategy for the 100 TB fact tables (verified exchange-free in
    tests/test_bucketing.py).
    """
    writer = df.write.mode("overwrite").format("parquet")
    if sort_col:
        writer = writer.bucketBy(num_buckets, bucket_col).sortBy(sort_col)
    else:
        writer = writer.bucketBy(num_buckets, bucket_col)
    writer.saveAsTable(table)


def compact_store(
    spark: SparkSession,
    path: str,
    partition_cols: tuple[str, ...] = ("bucket", "date"),
    target_files_per_partition: int = 1,
) -> None:
    """Compact a partitioned point store in place: streaming micro-batches
    leave many small files per (bucket, date) partition; rewrite each
    partition into ``target_files_per_partition`` files.

    The ops companion to the streaming sink — at 100 TB this runs as a
    periodic maintenance job over *closed* date partitions only (open
    partitions are still receiving appends).  Uses dynamic partition
    overwrite so untouched partitions are left alone by a filtered rewrite.
    """
    df = spark.read.parquet(path)
    (
        df.repartition(target_files_per_partition, *[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_wide_store(
    points: DataFrame,
    path: str,
    time_col: str = "time",
    fields_col: str = "fields",
) -> list[str]:
    """Pivot-on-write wide store — SURVEY §4 candidate (a) realized as a
    storage layout instead of a Catalyst rule: per-measurement directories
    whose parquet files carry one NATIVE column per field.

    A ``fields map<string,double>`` column can never be pruned per key at
    the scan (parquet reads the whole map to serve one field); with the
    pivoted layout, reading one field of one measurement scans exactly
    ``(time, <field>)`` — verify via ``ReadSchema`` in the plan.  The driver
    loop runs once per MEASUREMENT (a bounded registry, not data); each
    write is a distributed pivot partitioned by date.  Returns the
    measurements written.
    """
    measurements = [
        r["measurement"]
        for r in points.select("measurement").distinct().collect()
    ]
    for m in sorted(measurements):
        sub = points.filter(F.col("measurement") == m)
        long = sub.select(
            F.col(time_col).alias("time"),
            F.to_date(F.col(time_col)).alias("date"),
            F.explode(F.col(fields_col)).alias("field", "value"),
        )
        wide = (
            long.groupBy("time", "date")
            .pivot("field")
            .agg(F.first("value", ignorenulls=True))
        )
        (
            wide.write.mode("overwrite")
            .partitionBy("date")
            .parquet(f"{path}/measurement={m}")
        )
    return sorted(measurements)


def read_wide_store(
    spark: SparkSession,
    path: str,
    measurement: str,
    fields: list[str] | None = None,
) -> DataFrame:
    """Column-pruned read of one measurement from the wide store: selecting
    specific ``fields`` reaches the parquet scan as a narrow ReadSchema
    (time + those columns only) plus date partition pruning for any time
    filter the caller applies on the ``date`` column."""
    df = spark.read.parquet(f"{path}/measurement={measurement}")
    if fields:
        return df.select("time", "date", *fields)
    return df


def store_health(spark: SparkSession, path: str) -> DataFrame:
    """Per-partition file/row statistics for a parquet store — the signal
    that drives ``compact_store`` scheduling: (partition dir, n_files,
    n_rows, bytes, avg file bytes, small_files flag).

    Computed from ``input_file_name`` + the Hadoop FileSystem listing (works
    for any scheme the cluster can read — file://, hdfs://, s3a://; a
    driver-side ``os.walk`` would silently return nothing for remote
    stores).  One pass over footers via the scan, no data columns read.
    At 100 TB this is a metadata-scale job: rows ∝ files, not data.
    """
    rows = (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("file"))
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(jsc.hadoopConfiguration())
    root_str = fs.makeQualified(root).toString()
    it = fs.listFiles(root, True)
    sizes = []
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        if not p.endswith(".parquet"):
            continue
        rel = p[len(root_str) :].lstrip("/")
        part = rel.rsplit("/", 1)[0] if "/" in rel else ""
        sizes.append((p, part, int(st.getLen())))
    size_df = spark.createDataFrame(sizes, "file string, partition string, bytes long")
    # input_file_name renders file:///p while the FS API renders file:/p —
    # normalize scheme prefixes on BOTH sides for the join
    norm = F.regexp_replace(F.col("file"), r"^[a-z0-9]+:/+", "/")
    joined = rows.withColumn("file", norm).join(
        size_df.withColumn("file", norm), "file"
    )
    return (
        joined.groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("bytes").alias("bytes"),
        )
        .withColumn(
            "avg_file_bytes", (F.col("bytes") / F.col("n_files")).cast("long")
        )
        .withColumn(
            # the canonical small-file smell: many files well under a block
            "small_files",
            (F.col("n_files") > 4) & (F.col("avg_file_bytes") < 8 * 1024 * 1024),
        )
    )


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 8
) -> DataFrame:
    """Append a ``__z`` column: the Morton (Z-order) interleave of each
    column's quantized rank — the multi-dimensional clustering key behind
    Delta/Iceberg ``OPTIMIZE ZORDER BY``.

    Linear sort makes parquet min/max row-group stats selective for the
    leading key ONLY; sorting by the interleaved key makes them selective
    for EVERY clustered column at once (each z-contiguous run spans a small
    hyper-rectangle of the value space), so filter pushdown skips row
    groups on any of the clustered dimensions.

    Quantization is by RANK, not by linear min/max: bin boundaries are
    2^bits approximate quantiles per column (one bounded ``approxQuantile``
    driver action), so skewed distributions — the 100 TB norm — still fill
    the bins evenly and every z-run holds a comparable row count.  The bin
    lookup (count of boundaries ≤ v) and the interleave are pure shift/mask
    column expressions — whole-stage-codegen, no UDF.
    """
    n_bins = 1 << bits
    quantized = []
    probs = [i / n_bins for i in range(1, n_bins)]
    for c in cols:
        bnds = df.stat.approxQuantile(c, probs, 0.001)
        # strictly increasing boundary list; duplicates (low-cardinality or
        # heavy-hitter columns) collapse into one boundary
        uniq: list[float] = []
        for b in bnds:
            if not uniq or b > uniq[-1]:
                uniq.append(b)
        if not uniq:
            quantized.append(F.lit(0).cast("long"))
            continue
        arr = F.array(*[F.lit(float(b)) for b in uniq])
        v = F.col(c).cast("double")
        cnt = F.size(F.filter(arr, lambda b: b <= v)).cast("long")
        # spread the column's rank levels across the FULL bit width: a
        # low-cardinality column (few distinct boundaries) must still
        # populate the high z-bits, or the interleave degenerates into a
        # linear sort on whichever column has the most levels
        scale = n_bins / (len(uniq) + 1)
        q = F.floor(cnt.cast("double") * F.lit(scale)).cast("long")
        quantized.append(F.least(q, F.lit(n_bins - 1)))
    stride = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, q in enumerate(quantized):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(q, b).bitwiseAND(F.lit(1)),
                    b * stride + i,
                )
            )
    return df.withColumn("__z", z)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    target_files: int = 32,
    bits: int = 8,
    bloom_cols: list[str] | None = None,
) -> None:
    """Rewrite ``df`` as ``target_files`` parquet files clustered on the
    Z-order of ``cols``: range-partition by ``__z`` (contiguous z-runs per
    file → tight per-file min/max on every clustered column), sort within
    each file, drop the helper column at write.

    ``bloom_cols`` additionally writes parquet bloom filters for the named
    (high-cardinality, point-lookup) columns — min/max stats can't skip
    row groups for an `id = X` probe on an id that's uniform within every
    file, a bloom can.  Cost ≈ 64 KiB per column per row group (size-delta
    verified in tests/test_zorder.py; this pyarrow/duckdb can't read the
    bloom metadata back directly).

    At 100 TB this is the periodic maintenance job that turns an
    append-ordered fact table into a scan-efficient one — the measured
    effect (file-level stats pruning on BOTH clustered columns) is
    asserted in tests/test_zorder.py from the parquet footers themselves.
    """
    z = zorder_value(df, cols, bits)
    writer = (
        z.repartitionByRange(target_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
    )
    for c in bloom_cols or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    writer.parquet(path)


def expire_partitions(
    spark: SparkSession,
    path: str,
    older_than_days: int,
    now: "dt.date | None" = None,
    date_partition: str = "date",
    dry_run: bool = False,
) -> list[str]:
    """Retention policy for the (bucket, date)-partitioned point store —
    the InfluxDB bucket-retention equivalent (the reference delegates
    retention to Influx; a native store needs its own expiry job).

    Drops whole CLOSED date partitions older than the cutoff via the
    Hadoop FileSystem API (directory deletes — no data rewrite, no Spark
    job), so the cost is one listing regardless of store size.  Returns the
    partition directories removed (or would-remove under ``dry_run``).
    ``now`` is injectable for deterministic tests and backfill replays.
    """
    import datetime as dt

    cutoff = (now or dt.date.today()) - dt.timedelta(days=older_than_days)
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return []
    expired: list[str] = []
    # layout: <path>/bucket=<b>/date=<yyyy-mm-dd>/...
    for bucket_status in fs.listStatus(root):
        if not bucket_status.isDirectory():
            continue
        for date_status in fs.listStatus(bucket_status.getPath()):
            name = date_status.getPath().getName()
            if not name.startswith(f"{date_partition}="):
                continue
            try:
                d = dt.date.fromisoformat(name.split("=", 1)[1])
            except ValueError:
                continue
            if d < cutoff:
                expired.append(str(date_status.getPath().toUri().getPath()))
                if not dry_run:
                    fs.delete(date_status.getPath(), True)
    return sorted(expired)
