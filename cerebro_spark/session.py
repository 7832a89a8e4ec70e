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

Local files are written through a small Java shim over Hadoop's local file
system (``cerebro_spark/jvm/``).  The pip PySpark wheel ships no native
``libhadoop``, so Hadoop's ``RawLocalFileSystem`` forks ``chmod`` for every
file and directory it creates and ``readlink`` for every FileContext rename.
An ingest drain (data files plus the offset, commit, source and sink logs)
started about 95 processes, 44 of them serially on the stream thread.  The
shim overrides exactly two calls: ``setPermission`` uses
``java.nio.file.Files.setPosixFilePermissions``, and ``getFileLinkStatus``
returns the plain file status when the path is not a symbolic link.  Every
other call stays Hadoop's, including the ``.crc`` checksum sidecars and the
FileContext rename the streaming checkpoint manager relies on.  ``get_spark``
installs it (the jar on ``spark.driver.extraClassPath``, ``fs.file.impl`` and
``fs.AbstractFileSystem.file.impl``) only when PySpark is about to launch a
local-mode driver JVM itself.  A session whose JVM was started some other
way (spark-submit, an existing context, a cluster) is left as it is: there
the class would not be on the classpath, and every ``file://`` access would
fail.

``spark.python.sql.dataFrameDebugging.enabled`` is false: otherwise every
``functions.*``/``Column`` call captures its Python call site for the JVM,
about four py4j round trips per call (starting perfbench's ingest query took
610 py4j calls with it, 342 without).  DataFrame-API error messages lose the
Python call-site fragment; ``extra_conf`` can set it back to true (PySpark
reads it once per process, at the first DataFrame-API call).
"""

from __future__ import annotations

import os
import re
import threading
import weakref
from importlib import resources

from pyspark import SparkContext
from pyspark.sql import SparkSession

from cerebro_spark.io import READ_CONFS

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

LOCALFS_JAR = "cerebro-localfs.jar"
LOCALFS_IMPL = {
    "spark.hadoop.fs.file.impl": "cerebro.fs.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "cerebro.fs.NioLocalFs",
}


def localfs_jar() -> str:
    """Path of the packaged local file system jar."""
    return str(resources.files("cerebro_spark.jvm") / LOCALFS_JAR)


def _localfs_conf(master: str | None, extra_conf: dict[str, str] | None) -> dict[str, str]:
    """The confs that install the local file system shim, or none.

    Only a driver JVM that PySpark is about to launch here puts the jar on
    its classpath; with a gateway already up (an existing or stopped
    context, ``PYSPARK_GATEWAY_PORT`` from spark-submit) or a non-local
    master (executor JVMs elsewhere) the classes would be missing.
    """
    if SparkContext._gateway is not None or os.environ.get("PYSPARK_GATEWAY_PORT"):
        return {}
    if master is None or not re.fullmatch(r"local(\[[^\]]*\])?", master):
        return {}
    cp = (extra_conf or {}).get("spark.driver.extraClassPath")
    return {
        "spark.driver.extraClassPath": os.pathsep.join(filter(None, [localfs_jar(), cp])),
        **LOCALFS_IMPL,
    }


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
        # no Python call-site capture per DataFrame-API call (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
    # the testdata read confs (io.READ_CONFS) are set here, so loads through
    # this session write none of them
    conf = {**READ_CONFS, **(extra_conf or {}), **_localfs_conf(master, extra_conf)}
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# (parent, purpose) -> (child, parent conf digest of its last sync); entries
# die with the parent, like ``io._RELATION_CACHE``
_CHILD_SESSIONS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_CHILD_LOCK = threading.Lock()


def child_session(
    spark: SparkSession, purpose: str, conf: dict[str, str] | None = None
) -> SparkSession:
    """``spark``'s cached child for ``purpose`` (``newSession()``: its own SQL
    conf, temp views and stream manager) with ``spark``'s runtime SQL conf
    copied in and ``conf`` over it; ``spark``'s conf is never written.  The
    copy (about 330 py4j calls) runs only when the parent's conf
    digest (two calls) changed.  Users of one child share its conf, so they
    run one at a time."""
    conf = conf or {}
    with _CHILD_LOCK:
        children = _CHILD_SESSIONS.setdefault(spark, {})
        digest = f"{spark.conf._jconf.getAll().toString()}{sorted(conf.items())}"
        child, synced = children.get(purpose, (None, None))
        if child is None:
            child = spark.newSession()
        if synced != digest:
            mine = child.conf.getAll
            wanted = {**spark.conf.getAll, **conf}
            for key, value in wanted.items():
                if mine.get(key) != value and (key in conf or child.conf.isModifiable(key)):
                    child.conf.set(key, value)
            children[purpose] = (child, digest)
        return child
