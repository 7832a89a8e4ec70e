#!/usr/bin/env python3
"""Telemetry benchmark for cerebro-spark.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0

Runs one workload (see ``workloads.py`` and README.md) from the repository
root or any other directory, checks the engine's outputs, prints every metric
by name with its unit and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` records spans and reports the per-layer
metrics instead, and writes the span file.

Everything the run writes lands under ``perfbench/_work/``: the generated
data and stores in a per-run directory, removed at the end, and a result
file plus, for traced runs, a span file in ``perfbench/_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: the load each workload generates (``LoadSpec`` fields, and the rows of
#: the events corpus); ``--tiny`` is the self-test size
SIZES = {
    "full": dict(spec=dict(days=1, backlog_h=6), events=10000),
    "tiny": dict(
        spec=dict(sources=6, hot_cadence_s=10, cadence_s=120, aux_sources=2, aux_cadence_s=300, backlog_h=6),
        events=2000,
    ),
}

#: the bounded end-to-end metrics (see README.md for why only these two)
END_TO_END = {"setup_s": "s", "rate_per_s": "1/s"}
#: reported with them, unbounded: too unsteady on a shared host to gate on
ALSO = {"wait_p50_s": "s", "wait_p90_s": "s", "peak_rss_mb": "MB"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test load size")
    return p.parse_args(argv)


class RssSampler:
    """Peak resident memory of this process and every process below it
    (the Spark JVM and any Python workers), summed, sampled every 250 ms."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    @staticmethod
    def _tree_kb() -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._stop.wait(0.25)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._tree_kb())


def cpu_times() -> list[int]:
    """Whole-machine CPU time counters (user .. steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(1, sum(delta))


def environment(work: Path) -> dict:
    """Session environment: the repo on PYTHONPATH (Python workers import
    ``cerebro_spark`` whatever the cwd), a Spark slot for every other CPU,
    and every scratch directory inside the checkout.

    Half the CPUs go to task slots; the JVM's compiler, GC and streaming
    threads and the Python driver get the rest, so that a run measures the
    program and not the host's scheduler.  On a shared 4-core host, twelve
    interleaved ``ingest_backfill`` runs each way spread 0.18 with
    ``local[4]`` and 0.11 with ``local[2]``, at no lower rate."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, ncpu // 2))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, str(ROOT))
    return {
        "nproc": ncpu,
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — make sure nothing outlives the run
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "cerebro_spark" / "__init__.py").is_file():
        print(f"no cerebro_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    runs = HERE / "_work"
    work = runs / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (runs / "results").mkdir(parents=True, exist_ok=True)
    env = environment(work)

    from gen import LoadSpec
    from spans import Tracer, spark_jobs
    from workloads import WORKLOADS, Ctx, percentile, two_source_check

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    size = SIZES["tiny" if args.tiny else "full"]
    tracer = Tracer(bool(args.trace))
    ctx = Ctx(None, tracer, LoadSpec(**size["spec"]), args.seed, args.seconds, str(work / "data"), size["events"])
    os.makedirs(ctx.work)
    load_before, cpu_before = os.getloadavg(), cpu_times()

    with RssSampler() as rss:
        try:
            result = WORKLOADS[args.workload](ctx)
            two_source_check(ctx)
            spark = ctx.spark
            if tracer.enabled:
                from layers import UNITS, per_layer

                with tracer.bookkeeping():
                    jobs = spark_jobs(spark)
                totals = tracer.attribute_jobs(jobs)
                store = ctx.path("store") if os.path.isdir(ctx.path("store")) else None
                layer = per_layer(ctx, tracer, totals, store)
            conf = dict(spark.sparkContext.getConf().getAll())
            versions = {"spark": spark.version, "python": platform.python_version()}
        finally:
            if ctx.spark is not None:
                stop_spark(ctx.spark)

    e2e = {
        "setup_s": result.setup_s,
        "wait_p50_s": percentile(result.waits, 50),
        "wait_p90_s": percentile(result.waits, 90),
        "rate_per_s": result.rate_per_s,
        "peak_rss_mb": rss.peak_kb / 1024.0,
    }
    if tracer.enabled:
        layer.update({f"run.{k}": e2e[k] for k in ALSO})
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "load": "tiny" if args.tiny else "full",
        "samples": len(result.waits),
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "failed_ops_ratio": ctx.failed / max(1, ctx.attempted),
        "problems": ctx.problems,
        "notes": ctx.notes,
        "end_to_end": e2e,
        "waits": result.waits,
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        # share of CPU time the hypervisor gave to other guests during the
        # run: high values explain slow runs on a shared host
        "steal_share": steal_share(cpu_before, cpu_times()),
        "versions": versions,
        "environment": env,
        "spark_conf": conf,
    }
    name = f"{args.workload}-s{args.seed}"
    if tracer.enabled:
        record["per_layer"] = layer
        record["spark_totals"] = totals
        untraced = runs / "results" / f"{name}-t0.json"
        base = json.loads(untraced.read_text()) if untraced.is_file() else {}
        if (base.get("load"), base.get("seconds")) == (record["load"], record["seconds"]):
            record["tracing_overhead"] = {k: e2e[k] - base["end_to_end"][k] for k in e2e}
        tracer.write(str(runs / "results" / f"{name}-spans.json"), {"run": record})
    (runs / "results" / f"{name}-t{args.trace}.json").write_text(json.dumps(record, indent=1, default=str))
    shutil.rmtree(work, ignore_errors=True)

    units = UNITS if tracer.enabled else END_TO_END
    values = layer if tracer.enabled else e2e
    print(f"workload {args.workload} seed {args.seed}: {len(result.waits)} timed operations, "
          f"{ctx.attempted} operations, {ctx.failed} failed "
          f"(failed_ops_ratio {record['failed_ops_ratio']:.4f})")
    for problem in ctx.problems:
        print(f"  failed: {problem}")
    if "tracing_overhead" in record:
        for k, v in record["tracing_overhead"].items():
            print(f"  tracing overhead {k} {v:+.4f} {END_TO_END.get(k) or ALSO[k]}")
    for k, unit in units.items():
        print(f"  {k} = {values[k]:.6g} {unit}")
    if not tracer.enabled:
        for k, unit in ALSO.items():
            print(f"  ({k} = {e2e[k]:.6g} {unit}, not bounded)")
    print(json.dumps({
        "correct": ctx.own_failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
