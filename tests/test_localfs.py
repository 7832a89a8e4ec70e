"""The local file system shim ``get_spark`` installs for ``file://``
(``cerebro_spark/jvm/``): no ``chmod``/``readlink`` forks on the write paths,
Hadoop's behaviour kept (modes, ``.crc`` sidecars and their verification,
symlinked directories, checkpoint replay), installed only where its jar is on
the driver's classpath, and shipped in the package."""

import datetime as dt
import importlib.util
import os
import subprocess
import sys
import textwrap
from collections import Counter
from importlib import resources
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from cerebro_spark import session as session_mod
from cerebro_spark.config.loader import IngestRunner
from cerebro_spark.schema import POINT_SCHEMA

ROOT = Path(__file__).resolve().parent.parent


def _points(spark, n, measurement="m"):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (measurement, {"k": f"t{i % 3}"}, {"value": float(i)}, None, None,
         base + dt.timedelta(seconds=10 * i), "b")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, POINT_SCHEMA)


def _drain(spark, src, store, ckpt):
    runner = IngestRunner(
        spark,
        {"sources": {"s": {"type": "file_replay", "path": src}}},
        store_path=store,
        checkpoint_root=ckpt,
    )
    runner.start()
    runner.await_all(120)
    runner.stop()


def _process_starts(spark, tmp_path, action):
    """Commands of the processes the driver JVM starts while ``action`` runs,
    from an in-JVM JFR recording of ``jdk.ProcessStart``."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    dump = jvm.java.io.File(str(tmp_path / "process_start.jfr")).toPath()
    rec.start()
    try:
        action()
        rec.stop()
        rec.dump(dump)
    finally:
        rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    return Counter(
        os.path.basename(str(e.getString("command")).split()[0]) for e in events
    )


def _assert_no_fs_forks(starts):
    assert starts["chmod"] == 0 and starts["readlink"] == 0, dict(starts)


def test_session_uses_the_shim(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == "cerebro.fs.NioLocalFileSystem"
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == "cerebro.fs.NioLocalFs"


def test_partitioned_write_forks_nothing(spark, tmp_path):
    df = spark.range(30).select("id", (F.col("id") % 3).alias("p"))
    starts = _process_starts(
        spark, tmp_path, lambda: df.write.partitionBy("p").parquet(str(tmp_path / "out"))
    )
    _assert_no_fs_forks(starts)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 30


def test_ingest_drain_forks_nothing(spark, tmp_path):
    src = str(tmp_path / "in")
    _points(spark, 40).coalesce(2).write.parquet(src)
    store = str(tmp_path / "store")
    starts = _process_starts(
        spark, tmp_path, lambda: _drain(spark, src, store, str(tmp_path / "ckpt"))
    )
    _assert_no_fs_forks(starts)
    assert spark.read.parquet(store).count() == 40


def test_streaming_gate_forks_nothing(spark, sf_dir, tmp_path):
    from cerebro_spark.queries.streaming_q import q_streaming_ohlc_6h

    out = []
    starts = _process_starts(
        spark, tmp_path, lambda: out.append(q_streaming_ohlc_6h(spark, sf_dir).count())
    )
    _assert_no_fs_forks(starts)
    assert out[0] > 0


def test_modes_and_checksum_sidecars(spark, tmp_path):
    """Files get ``0666``, directories ``0777``, both under Hadoop's umask
    (``fs.permissions.umask-mode``), as Hadoop's own ``setPermission`` sets
    them; every data file has its ``.crc`` sidecar."""
    jvm = spark._jvm
    umask = jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(
        spark._jsc.hadoopConfiguration()
    ).toShort()
    out = tmp_path / "out"
    spark.range(30).select("id", (F.col("id") % 3).alias("p")).write.partitionBy(
        "p"
    ).parquet(str(out))
    data = sorted(out.rglob("part-*"))
    assert len(data) >= 3
    for f in data:
        assert (f.stat().st_mode & 0o777) == 0o666 & ~umask, f
        crc = f.with_name(f".{f.name}.crc")
        assert crc.exists(), crc
        assert (crc.stat().st_mode & 0o777) == 0o666 & ~umask, crc
    for d in [out, *sorted(p for p in out.iterdir() if p.is_dir())]:
        assert (d.stat().st_mode & 0o777) == 0o777 & ~umask, d


def test_corrupt_byte_fails_the_checksum(spark, tmp_path):
    """``ChecksumFileSystem`` still verifies reads against the sidecars."""
    out = tmp_path / "one"
    spark.range(2000).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(str(out))
    (data,) = out.glob("part-*.parquet")
    raw = bytearray(data.read_bytes())
    raw[8] ^= 0xFF  # inside the first column chunk, past the PAR1 magic
    data.write_bytes(bytes(raw))
    with pytest.raises(Exception, match="(?i)checksum"):
        spark.read.parquet(str(out)).collect()


def test_symlinked_store_and_checkpoint(spark, tmp_path):
    """An ingest store and checkpoint reached through a symlinked directory
    write and read the same rows as through the real one."""
    real = tmp_path / "real"
    real.mkdir()
    link = tmp_path / "link"
    link.symlink_to(real, target_is_directory=True)
    src = str(tmp_path / "in")
    _points(spark, 12).write.parquet(src)
    _drain(spark, src, str(link / "store"), str(link / "ckpt"))
    cols = ["measurement", "time", F.col("fields")["value"]]
    via_link = spark.read.parquet(str(link / "store")).select(cols).orderBy("time").collect()
    via_real = spark.read.parquet(str(real / "store")).select(cols).orderBy("time").collect()
    assert len(via_link) == 12
    assert via_link == via_real


def test_restarted_drain_stores_no_duplicates(spark, tmp_path):
    src = str(tmp_path / "in")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    _points(spark, 10).write.parquet(src)
    _drain(spark, src, store, ckpt)
    _drain(spark, src, store, ckpt)  # from the checkpoint, no new input
    assert spark.read.parquet(store).count() == 10
    _points(spark, 4, measurement="late").write.mode("append").parquet(src)
    _drain(spark, src, store, ckpt)
    out = spark.read.parquet(store)
    assert out.count() == 14
    assert out.select("measurement", "time").distinct().count() == 14


def test_localfs_conf_only_for_a_jvm_launched_here(monkeypatch):
    """The impl keys are named only where PySpark is about to launch a
    local-mode driver JVM with the jar on its classpath."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    conf = session_mod._localfs_conf("local[2]", {"spark.driver.extraClassPath": "/x.jar"})
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join(
        [session_mod.localfs_jar(), "/x.jar"]
    )
    assert set(session_mod.LOCALFS_IMPL) <= set(conf)
    assert session_mod._localfs_conf("local", None)["spark.driver.extraClassPath"] == (
        session_mod.localfs_jar()
    )
    for master in (None, "yarn", "spark://h:7077", "local-cluster[2,1,1024]"):
        assert session_mod._localfs_conf(master, None) == {}
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    assert session_mod._localfs_conf("local[2]", None) == {}


def test_session_not_launched_by_get_spark_is_untouched(tmp_path):
    """A driver JVM started without the jar (here by a bare builder, as by
    spark-submit) keeps its own file system after ``get_spark``, and its
    ``file://`` reads and writes still work.  That file system is hive-exec's
    ``ProxyLocalFileSystem`` (its service file registers scheme ``file``
    after Hadoop's), whose ``rename`` onto an existing file returns false
    (DEPLOYMENT.md)."""
    script = textwrap.dedent(
        """
        import sys
        from pyspark.sql import SparkSession
        from cerebro_spark.session import get_spark

        bare = SparkSession.builder.master("local[1]").config(
            "spark.ui.enabled", "false").getOrCreate()
        spark = get_spark("guard", master="local[1]")
        conf = spark.sparkContext.getConf()
        hconf = spark._jsc.hadoopConfiguration()
        print(conf.get("spark.hadoop.fs.file.impl"),
              conf.get("spark.hadoop.fs.AbstractFileSystem.file.impl"),
              hconf.get("fs.file.impl"),
              hconf.get("fs.AbstractFileSystem.file.impl"))
        jvm = spark._jvm
        print(jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI("file:///"), hconf).getClass().getName())
        spark.range(5).write.parquet(sys.argv[1])
        print(spark.read.parquet(sys.argv[1]).count())
        spark.stop()
        """
    )
    env = {**os.environ, "PYTHONPATH": str(ROOT), "SPARK_DRIVER_MEMORY": "512m"}
    env.pop("PYSPARK_GATEWAY_PORT", None)
    res = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "out")],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    keys, fs_class, count = res.stdout.strip().splitlines()[-3:]
    assert "cerebro" not in keys
    assert keys.split()[:3] == ["None", "None", "None"]
    print("file:// file system without the shim:", fs_class)
    assert fs_class != "cerebro.fs.NioLocalFileSystem"
    assert count == "5"


def test_packaged_jar_resolves_and_matches_sources():
    """The jar is package data found through ``importlib.resources`` (not
    the repo root), and it was built from the committed sources."""
    jar = resources.files("cerebro_spark.jvm") / session_mod.LOCALFS_JAR
    assert jar.is_file()
    assert str(jar) == session_mod.localfs_jar()
    spec = importlib.util.spec_from_file_location(
        "build_localfs", ROOT / "tools" / "build_localfs.py"
    )
    build_localfs = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(build_localfs)
    assert build_localfs.check() == []
    assert build_localfs.recorded_hash(Path(str(jar))) == build_localfs.source_hash()
