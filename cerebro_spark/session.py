"""SparkSession factory with scale-aware defaults.

Every knob here is chosen for the 1000-executor / 100 TB target, then bounded
for local[32] testing:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting);
- shuffle partitions sized for the local run but AQE-coalesced, so the same
  code on a cluster just raises the initial number;
- Arrow enabled for every pandas boundary (the only Python-side hot paths we
  allow are Arrow-batched);
- UTC session timezone so timestamp semantics match the reference (all-UTC,
  SURVEY §1.2) and the DuckDB oracle;
- a whole-stage codegen cache of 1000 classes, so a long-lived session
  (dashboards re-issuing the same client query shapes, batch transforms
  re-running the same registry plans) reuses the classes it generated
  instead of recompiling them.  The cache size is a static conf: it takes
  effect only when ``get_spark`` builds the session, not on a session that
  already exists.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "cerebro-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    On a real cluster, pass ``master=None`` and let spark-submit own the
    master; the conf below is orthogonal to deployment mode.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound every Arrow transfer batch: the media stages (decode /
        # fingerprint / thumbnail over binary payloads) hold one batch of
        # payloads in executor-Python memory at a time, so a partition of
        # large blobs must arrive in bounded slices (10k rows of kB-scale
        # docs ≈ tens of MB; deployments with MB-scale media lower this)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python DataSource pushFilters (the Influx reader compiles pushed
        # time/field predicates into Flux) is gated off by default
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # InferFiltersFromGenerate turns explode(<computed array>) into a
        # size(...)>0 pre-filter; predicate pushdown then INLINES the whole
        # array expression into that filter and pushes it below the exchange
        # — the shingle pipeline re-evaluated its token-hash transform per
        # element_at inside one pre-shuffle task (measured 5× total wall on
        # ngram_jaccard).  Our explodes are all over computed arrays where
        # the inferred filter only duplicates work; empty-array pruning is
        # done explicitly where it matters.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Driver testdata has stored events.ts as TIMESTAMP(NANOS); Spark has
        # no nanos type — read as long, loader converts to µs (documented
        # ns→µs delta, SURVEY §1.4).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ...and as TIMESTAMP(MICROS, isAdjustedToUTC=false) since round 3:
        # read those as regular UTC-session timestamps, not TIMESTAMP_NTZ
        # (time operators cast ts→epoch long, which NTZ forbids).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Keep partition sizes bounded so a 100 TB scan fans out instead of
        # producing multi-GB tasks.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Spark's default keeps 100 generated classes.  One perfbench
        # `dashboard` cycle (five client query kinds and five registry
        # queries) compiles about 100, so each cycle evicted the last one's
        # classes and compiled them again: 317 Janino compiles over the 30
        # timed operations of a seed-7 run at 100, and 39 at 1000 (4-core
        # host).  1000 holds that vocabulary several times over.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
