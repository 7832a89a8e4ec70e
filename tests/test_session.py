"""The session factory's codegen cache keeps generated classes across
queries, its read confs make testdata loads write nothing to the session's
conf, it turns off per-call origin capture, and ``child_session`` syncs a
child's conf without writing the caller's."""

from pyspark.sql import functions as F

from cerebro_spark.config.loader import INGEST_CONF, IngestRunner
from cerebro_spark.io import READ_CONFS, clear_relation_cache, load_table
from cerebro_spark.session import child_session


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


def test_get_spark_turns_off_dataframe_debugging(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def _count_py4j_calls(monkeypatch, spark):
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    real = client.send_command

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    return calls


def test_child_session_resync_of_an_unchanged_parent_is_cheap(spark, monkeypatch):
    """A second sync of an unchanged parent makes at most 5 py4j calls (a
    full copy compares every entry of both confs: about 330); a changed parent is
    copied again, and the caller's conf is never written."""
    parent = spark.newSession()
    parent.conf.set("spark.sql.shuffle.partitions", "3")
    child = child_session(parent, "test", {"spark.sql.files.openCostInBytes": "1234"})
    assert child.conf.get("spark.sql.shuffle.partitions") == "3"
    writes = _record_conf_writes(monkeypatch, parent)
    calls = _count_py4j_calls(monkeypatch, spark)
    assert child_session(parent, "test", {"spark.sql.files.openCostInBytes": "1234"}) is child
    assert len(calls) <= 5, len(calls)
    assert writes == []
    monkeypatch.undo()
    parent.conf.set("spark.sql.shuffle.partitions", "5")
    writes = _record_conf_writes(monkeypatch, parent)
    assert child_session(parent, "test", {"spark.sql.files.openCostInBytes": "1234"}) is child
    assert child.conf.get("spark.sql.shuffle.partitions") == "5"
    assert child.conf.get("spark.sql.files.openCostInBytes") == "1234"
    assert parent.conf.get("spark.sql.files.openCostInBytes") != "1234"
    assert child_session(parent, "other") is not child
    assert writes == []


def test_ingest_runner_start_writes_no_caller_conf(spark, tmp_path, monkeypatch):
    """``IngestRunner`` builds its queries in the caller's ingest child
    session, whose file packing is ``INGEST_CONF``'s; a recorder on the
    caller's ``conf.set`` sees no write during ``start``."""
    parent = spark.newSession()
    src = str(tmp_path / "in")
    spark.range(3).selectExpr(
        "'m' AS measurement", "map('k', 'a') AS tags", "map('v', double(id)) AS fields",
        "CAST(NULL AS map<string,string>) AS fields_str",
        "CAST(NULL AS map<string,boolean>) AS fields_bool",
        "timestamp_seconds(1704067200 + id) AS time", "'b' AS bucket",
    ).write.parquet(src)
    writes = _record_conf_writes(monkeypatch, parent)
    runner = IngestRunner(
        parent,
        {"sources": {"s": {"type": "file_replay", "path": src}}},
        store_path=str(tmp_path / "store"),
        checkpoint_root=str(tmp_path / "ck"),
    )
    runner.start()
    runner.await_all(120)
    runner.stop()
    assert writes == []
    (key, value), = INGEST_CONF.items()
    assert child_session(parent, "ingest", INGEST_CONF).conf.get(key) == value
    assert parent.conf.get(key) != value
    assert spark.read.parquet(str(tmp_path / "store")).count() == 3
