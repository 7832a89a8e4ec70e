"""The session factory's codegen cache keeps generated classes across
queries, and its read confs make testdata loads write nothing to the
session's conf."""

from pyspark.sql import functions as F

from cerebro_spark.io import READ_CONFS, clear_relation_cache, load_table


def test_generated_code_is_reused_across_queries(spark):
    """A plan's generated class outlives 150 other plans: re-running the
    first plan compiles nothing.  Each plan inlines its own long literal,
    so its whole-stage source is new; with Spark's default of 100 cached
    classes the first plan's class is evicted by then."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(k):
        spark.range(4).select((F.col("id") + F.lit(2**40 + k)).alias("x")).collect()

    run(0)
    for k in range(1, 151):
        run(k)
    before = compiles.getCount()
    run(0)
    assert compiles.getCount() == before


def _record_conf_writes(monkeypatch, session):
    writes = []
    real_set = session.conf.set

    def recording_set(key, value):
        writes.append((key, value))
        real_set(key, value)

    monkeypatch.setattr(session.conf, "set", recording_set)
    return writes


def test_load_table_writes_no_conf_on_a_get_spark_session(spark, sf_dir, monkeypatch):
    clear_relation_cache(spark)
    writes = _record_conf_writes(monkeypatch, spark)
    assert load_table(spark, "events", sf_dir).count() > 0
    assert writes == []


def test_load_table_sets_read_confs_on_a_foreign_session(spark, sf_dir, monkeypatch):
    """A session that did not come from ``get_spark`` still reads testdata
    correctly: only the read confs that differ are written."""
    foreign = spark.newSession()
    foreign.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    foreign.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    foreign.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    writes = _record_conf_writes(monkeypatch, foreign)
    expected = load_table(spark, "events", sf_dir).orderBy("ts").limit(5).collect()
    got = load_table(foreign, "events", sf_dir).orderBy("ts").limit(5).collect()
    assert sorted(k for k, _ in writes) == sorted(READ_CONFS)
    assert {k: foreign.conf.get(k) for k in READ_CONFS} == READ_CONFS
    assert got == expected
