"""Self-test of the benchmark: the pure parts on their own, then every
workload end to end at the tiny load size.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

import checks
from gen import FIELD_COUNTS, LoadSpec, generate, land_backlog, write_events
from layers import per_layer
from spans import Tracer
from workloads import CYCLE_S, DRAIN_S, KINDS, SLICE_GROUP, Ctx, percentile, timed_ops

HERE = Path(__file__).resolve().parent
TINY = LoadSpec(sources=6, hot_cadence_s=10, cadence_s=120, aux_sources=2, aux_cadence_s=300, days=2)


def test_generator_is_seeded(tmp_path):
    a = land_backlog(TINY, 5, str(tmp_path / "a"))
    b = land_backlog(TINY, 5, str(tmp_path / "b"))
    c = land_backlog(TINY, 6, str(tmp_path / "c"))
    assert a == b
    assert a.per_measurement != c.per_measurement
    files = sorted(os.listdir(tmp_path / "a"))
    assert files == sorted(os.listdir(tmp_path / "b"))
    assert len(files) == TINY.sources * TINY.days
    for name in files:
        assert pq.read_table(tmp_path / "a" / name).equals(pq.read_table(tmp_path / "b" / name))


def test_generator_plants_and_counts(tmp_path):
    exp = land_backlog(TINY, 3, str(tmp_path))
    table = pq.read_table(tmp_path)
    assert table.num_rows == exp.landed
    empty = sum(1 for f in table.column("fields").to_pylist() if not f)
    assert empty == exp.empty > 0
    null_time_kept = sum(
        1 for f, t in zip(table.column("fields").to_pylist(), table.column("time").to_pylist())
        if f and t is None
    )
    assert null_time_kept == exp.null_time > 0
    assert sum(n for n, _ in exp.per_measurement.values()) == exp.stored


def test_times_are_unique_per_measurement():
    spec = LoadSpec(days=2)
    pts = generate(spec, 1, 2 * 86400, 0)
    assert len(pts) == 2 * spec.points_per_day() == 2 * (86400 + 16 * 2880 + 4 * 1440)
    for m in range(spec.measurements):
        t = pts.time_us[pts.meas == m]
        assert len(np.unique(t)) == len(t)


def test_points_carry_their_measurements_fields(tmp_path):
    land_backlog(TINY, 4, str(tmp_path))
    table = pq.read_table(tmp_path).to_pylist()
    spec_fields = {m: TINY.field_names(m) for m in TINY.measurement_names()}
    assert sorted(len(f) for f in spec_fields.values()) == sorted(FIELD_COUNTS)
    for row in table:
        if row["fields"]:
            assert [k for k, _ in row["fields"]] == spec_fields[row["measurement"]]


def test_backlog_holds_the_last_hours(tmp_path):
    exp = land_backlog(TINY, 2, str(tmp_path), 6 * 3600)
    assert exp.landed == TINY.points_per_day() // 4


def test_events_corpus_is_seeded(tmp_path):
    write_events(500, 1, str(tmp_path / "a"))
    write_events(500, 1, str(tmp_path / "b"))
    a = pq.read_table(tmp_path / "a" / "events.parquet")
    assert a.equals(pq.read_table(tmp_path / "b" / "events.parquet"))
    assert a.column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ts = a.column("ts").to_pylist()
    assert ts == sorted(ts) and len(set(ts)) == len(ts)


def test_ingest_layer_counts_only_the_timed_drains(tmp_path):
    tr = Tracer(True)

    def drain(parent, t, rows, seconds):
        tr.add("ingest.start", t, t + 0.5, parent)
        d = tr.add("ingest.drain", t + 0.5, t + 0.5 + seconds, parent)
        tr.add("ingest.batch", t + 0.5, t + 0.5 + seconds, d, rows=rows, empty_rows=0, ms_addBatch=seconds * 1000)

    setup = tr.add("setup", 0.0, 20.0, None)
    drain(tr.add("warmup", 1.0, 19.0, setup), 1.0, 100, 9.0)  # cold drain
    drain(tr.add("op.drain", 20.0, 22.0, None), 20.0, 10, 1.5)
    drain(tr.add("check.two_source", 30.0, 33.0, None), 30.0, 1000, 2.5)
    totals = tr.attribute_jobs([])
    ctx = Ctx(None, tr, TINY, 1, 1.0, str(tmp_path), 100)
    m = per_layer(ctx, tr, totals, None)
    assert (m["ingest.batches"], m["ingest.points_in"]) == (1, 10)
    assert m["ingest.batch_p50_s"] == m["ingest.add_batch_s"] == 1.5
    assert m["ingest.start_s"] == 0.5


def test_nearest_rank_percentile():
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.0
    assert percentile(list(map(float, range(1, 11))), 90) == 9.0
    assert percentile([5.0], 90) == 5.0


def test_timed_operations_are_a_fixed_count():
    assert timed_ops(12, DRAIN_S) == 8
    assert timed_ops(12, CYCLE_S) == timed_ops(1, DRAIN_S) == 3
    assert timed_ops(60, CYCLE_S) == 8


def test_self_time_and_job_attribution():
    tr = Tracer(True)
    root = tr.add("op", 0.0, 10.0, None)
    child = tr.add("child", 2.0, 6.0, root)
    tr.add("grandchild", 3.0, 4.0, child)
    tr.add("child", 5.0, 8.0, root)
    selfs = tr.self_times()
    assert selfs[root] == pytest.approx(4.0)  # 10 - union([2,6],[5,8])
    assert selfs[child] == pytest.approx(3.0)
    totals = tr.attribute_jobs([(3.5, 4), (1.0, 2), (20.0, 1)])
    assert totals == {"jobs": 3, "tasks": 7, "jobs_unattributed": 1}
    spans = tr.spans
    assert (spans[2].attrs["jobs_self"], spans[root].attrs["jobs_self"]) == (1, 1)
    assert (spans[root].attrs["jobs"], spans[root].attrs["tasks"]) == (2, 6)


def test_sink_log_reader(tmp_path):
    log = tmp_path / "_spark_metadata"
    log.mkdir()
    entry = lambda p, a="add": json.dumps({"path": f"file://{p}", "action": a})  # noqa: E731
    (log / "9.compact").write_text("v1\n" + entry("/s/a") + "\n" + entry("/s/b"))
    (log / "10").write_text("v1\n" + entry("/s/c") + "\n" + entry("/s/a", "delete"))
    assert checks.committed_files(str(tmp_path)) == ["/s/b", "/s/c"]
    assert checks.sink_batches(str(tmp_path)) == 11


def test_without_the_program_exits_nonzero(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in HERE.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text((HERE.parent / "BENCHMARK.json").read_text())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""
    assert "no cerebro_spark package" in p.stderr


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["ingest_backfill", "dashboard"])
def test_workload_end_to_end_tiny(workload, trace, tmp_path):
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    # every run also runs the two-source profile check and counts it
    record = json.loads((HERE / "_work" / "results" / f"{workload}-s3-t{trace}.json").read_text())
    assert record["notes"]["two_source"]["landed"] == 2000
    ops = 1 if workload == "ingest_backfill" else len(KINDS) + len(SLICE_GROUP)
    assert record["samples"] == 3 * ops
    assert out["attempted"] == record["samples"] + 1 + (workload == "dashboard")
    assert out["failed"] == len(record["problems"])
    want = bench["per_layer" if trace else "end_to_end"]
    assert [m["name"] for m in want] == list(out["metrics"])
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
