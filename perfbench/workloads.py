"""The benchmark's workloads.  Each drives the engine only through its public
entry points: ``IngestRunner`` (``config.loader`` over ``streaming.ingest``),
the parquet store (``io``), ``CerebroClient`` (``plans.client`` with
``operators.pivot`` and ``operators.rollup``) and the query registry
(``__spark_entry__.queries()``, over ``operators.*`` and
``streaming.stateful``).

Every workload returns a ``Result`` with its set-up time and one wait per
timed operation; checked and failed operations are counted on the ``Ctx``.
Per-layer figures are derived from the tracer's spans afterwards
(``layers.py``)."""

from __future__ import annotations

import datetime as dt
import importlib.util
import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq

import checks
from gen import DAY_S, END, LoadSpec, generate, land_backlog, to_table, write_events
from spans import Tracer, scan_stats

ROOT = Path(__file__).resolve().parent.parent
BUCKET = "telemetry"
INSTANCE_TAGS = {"observatory": "lco"}


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in 0..100."""
    v = sorted(values)
    return v[max(0, -(-len(v) * q // 100) - 1)] if v else float("nan")


#: nominal time of one warm drain (``ingest_backfill``) and of one reader
#: cycle (``dashboard``) on a 4-core host.  A run does a fixed number of
#: them, sized to ``--seconds``, not as many as fit: then every run of a
#: workload attempts the same number of operations, and two sets of runs
#: count their failures over the same totals
DRAIN_S, CYCLE_S = 1.5, 7.5
#: warm-up drains before the timed ones: the first pays class loading and
#: code generation, and the next few still run partly interpreted (each
#: about 20 % slower than the one after it, settling by the fourth)
WARMUP_DRAINS = 4


def timed_ops(seconds: float, nominal_s: float) -> int:
    """The number of timed operations of nominal length that fill
    ``seconds``: at least three, so a median has a middle."""
    return max(3, round(seconds / nominal_s))


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    spec: LoadSpec
    seed: int
    seconds: float
    work: str
    #: rows of the events corpus the operator slice reads
    events: int
    #: operations timed and checked; the known-defect check adds one
    attempted: int = 0
    failed: int = 0
    #: failures of the workload's own operations (``failed`` also counts
    #: the two-source profile check, which fails on the current program)
    own_failed: int = 0
    problems: list[str] = field(default_factory=list)
    notes: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, what: str, own: bool = True) -> None:
        self.failed += 1
        self.own_failed += own
        self.problems.append(what)

    def start_session(self) -> None:
        """``get_spark()`` with the program's own defaults, plus a first job."""
        from cerebro_spark.session import get_spark

        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench")
            self.spark.range(1).count()


@dataclass
class Result:
    setup_s: float
    #: the wait each timed operation imposed on its user: a query's latency,
    #: or the time until a drained backlog was stored
    waits: list[float]
    #: work completed per second: the points of one drain over the median
    #: time a drain took, or the operations of one reader cycle over the
    #: sum of each operation's median time
    rate_per_s: float


# -- ingest ----------------------------------------------------------------


def landed_config(landing: str) -> dict:
    """The shipped ``landed_points`` source shape (etc/cerebro-spark.yaml)."""
    return {
        "default_bucket": BUCKET,
        "tags": INSTANCE_TAGS,
        "sources": {"landed_points": {"type": "file_replay", "path": landing, "bucket": BUCKET}},
    }


def _record_batches(ctx: Ctx, query, parent: int | None) -> None:
    """Micro-batch spans (and their phases) from a query's progress
    reports; phases are laid end to end in execution order."""
    for p in query.recentProgress:
        d = p["durationMs"]
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        rows = p.get("numInputRows", 0)
        observed = (p.get("observedMetrics") or {}).get("ingest_quality") or {}
        sid = ctx.tracer.add(
            "ingest.batch",
            start,
            start + d.get("triggerExecution", 0) / 1000.0,
            parent,
            batch_id=p["batchId"],
            rows=rows,
            empty_rows=observed["empty_field_rows"] if observed else None,
            **{f"ms_{k}": v for k, v in d.items()},
        )
        t = start
        for phase in ("latestOffset", "getBatch", "walCommit", "queryPlanning", "addBatch", "commitOffsets"):
            if d.get(phase):
                ctx.tracer.add(f"ingest.{phase}", t, t + d[phase] / 1000.0, sid)
                t += d[phase] / 1000.0


def drain(ctx: Ctx, config: dict, store: str, checkpoint: str) -> float:
    """Start an ``IngestRunner`` on ``config`` and wait until its
    ``availableNow`` queries have drained; returns the wall time."""
    tr = ctx.tracer
    from cerebro_spark.config.loader import IngestRunner

    t0 = time.perf_counter()

    with tr.span("ingest.start"):
        runner = IngestRunner(ctx.spark, config, store, checkpoint)
        runner.start()
    try:
        with tr.span("ingest.drain"):
            runner.await_all()
            if tr.enabled:
                # IngestRunner.metrics() keeps only each query's last
                # progress report; the batch spans need all of them
                with tr.bookkeeping():
                    for q in runner._queries.values():
                        _record_batches(ctx, q, tr.current())
        return time.perf_counter() - t0
    finally:
        runner.stop()


def store_layout(ctx: Ctx, store: str) -> None:
    """Record the layout ingest left behind (traced runs only)."""
    if not ctx.tracer.enabled:
        return
    from pyspark.sql import functions as F

    from cerebro_spark.io import store_health

    with ctx.tracer.span("store.health") as s, ctx.tracer.bookkeeping():
        h = store_health(ctx.spark, store).agg(
            F.sum("n_files").alias("files"),
            F.sum(F.when(F.col("small_files"), F.col("n_files")).otherwise(0)).alias("small"),
            F.sum("n_rows").alias("rows"),
            F.sum("bytes").alias("bytes"),
        ).collect()[0]
        s.update(
            files=int(h["files"]),
            small_files=int(h["small"]),
            bytes_per_point=h["bytes"] / max(1, h["rows"]),
            log_batches=checks.sink_batches(store),
        )


# -- the two-source profile -------------------------------------------------


def two_source_check(ctx: Ctx) -> None:
    """The shipped two-source profile shape: two ``file_replay`` sources,
    one ``IngestRunner``, one store.  Every landed point must be readable.
    Counted as one operation; a failure here is a failure of the program."""
    spec = ctx.spec
    pts = generate(spec, ctx.seed + 1, DAY_S, 0)
    pts = pts.take(np.flatnonzero(~pts.empty & ~pts.null_time)[:2000])
    half = len(pts) // 2
    sources = {}
    for name, idx in (("landed_a", np.arange(half)), ("landed_b", np.arange(half, len(pts)))):
        d = ctx.path("two_source", name)
        os.makedirs(d)
        pq.write_table(to_table(pts.take(idx), spec), os.path.join(d, "part-0.parquet"))
        sources[name] = {"type": "file_replay", "path": d, "bucket": BUCKET}
    config = {"default_bucket": BUCKET, "tags": INSTANCE_TAGS, "sources": sources}
    store = ctx.path("two_source", "store")
    ctx.attempted += 1
    with ctx.tracer.span("check.two_source") as s:
        try:
            drain(ctx, config, store, ctx.path("two_source", "ck"))
            error = None
        except Exception as exc:  # noqa: BLE001 — a dead query is the failure being counted
            error = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
        files = checks.committed_files(store) if os.path.isdir(store) else []
        stored = (
            checks.points_view(files).execute("SELECT count(*) FROM pts").fetchone()[0]
            if files
            else 0
        )
        s.update(landed=len(pts), readable=stored, error=error)
    ctx.notes["two_source"] = {"landed": len(pts), "readable": stored, "error": error}
    if stored != len(pts) or error:
        ctx.fail(f"two-source profile: {stored} of {len(pts)} points readable ({error})", own=False)


# -- client queries ------------------------------------------------------------

KINDS = ("raw_field", "all_fields", "window_agg", "day_rollup", "historical")


class QueryMix:
    """Seeded dashboard mix.  Every cycle issues each kind once, in a seeded
    order, so the proportions are fixed and only parameters vary:

    - raw_field: one field over the last 15 min or 1 h;
    - all_fields: every field, pivoted, over the last 6 h;
    - window_agg: ``aggregate_window`` of 5 min over the last 7 days;
    - day_rollup: day-aligned ``aggregate_window`` over 30 days (served by
      the registered rollup when one is registered);
    - historical: every field over an absolute 6 h range in the past.

    "Now" is ``END``, the end of the generated span.  The measurement is
    drawn from three strata, light to heavy by the rows an every-field read
    of a day returns (points a day times fields); each kind takes the strata
    in turn, in a seeded order, so that no seed makes a run read mostly
    light or mostly heavy measurements.
    """

    def __init__(self, spec: LoadSpec, seed: int):
        self.spec = spec
        self.rng = np.random.default_rng(seed + 7)
        self.queue: list[str] = []
        names = spec.measurement_names()

        def rows(m: int) -> int:
            per_day = sum(DAY_S // spec.cadence(d) for d in range(spec.sources) if d % spec.measurements == m)
            return per_day * len(spec.field_names(names[m]))

        self.strata = np.array_split(sorted(range(spec.measurements), key=rows), 3)
        self.turns: dict[str, list[int]] = {kind: [] for kind in KINDS}

    def next(self) -> dict:
        if not self.queue:
            self.queue = list(self.rng.permutation(KINDS))
        kind = self.queue.pop()
        rng, spec, now = self.rng, self.spec, END
        turns = self.turns[kind]
        if not turns:
            turns.extend(rng.permutation(len(self.strata)))
        measurement = spec.measurement_names()[rng.choice(self.strata[turns.pop()])]
        fields = spec.field_names(measurement)
        q = {
            "kind": kind,
            "measurement": measurement,
            "field": fields[rng.integers(len(fields))],
            "end": now,
        }
        if kind == "raw_field":
            q["start"] = now - dt.timedelta(minutes=int(rng.choice([15, 60])))
        elif kind == "all_fields":
            q.update(field=None, start=now - dt.timedelta(hours=6))
        elif kind == "window_agg":
            q.update(start=now - dt.timedelta(days=7), aggregate_window=(300, "avg"))
        elif kind == "day_rollup":
            midnight = dt.datetime.combine(now.date(), dt.time())
            q.update(
                start=midnight - dt.timedelta(days=30),
                end=midnight,
                aggregate_window=(DAY_S, str(rng.choice(["avg", "max", "count"]))),
            )
        else:
            # a 6 h range that starts 18-24 h before "now"
            start = now - dt.timedelta(hours=int(rng.integers(18, 25)))
            q.update(field=None, start=start, end=start + dt.timedelta(hours=6))
        return q


def run_query(ctx: Ctx, client, q: dict) -> tuple[float, list[str], list]:
    """One timed client call: plan (``query``) then execute (collect)."""
    tr = ctx.tracer
    with tr.span("client.query", kind=q["kind"]) as s:
        t0 = time.perf_counter()
        with tr.span("client.plan"):
            df = client.query(
                BUCKET,
                q["measurement"],
                field=q["field"],
                start=q["start"],
                end=q["end"],
                aggregate_window=q.get("aggregate_window"),
            )
        with tr.span("client.exec"):
            rows = df.collect()
        elapsed = time.perf_counter() - t0
        if tr.enabled:
            with tr.bookkeeping():
                files, scanned = scan_stats(df)
                plan = df._jdf.queryExecution().executedPlan().toString()
            s.update(
                files_read=files,
                rows_scanned=scanned,
                rows_returned=len(rows),
                rollup="rollup" in plan,
                start=str(q["start"]),
                end=str(q["end"]),
            )
    return elapsed, df.columns, rows


def check_queries(ctx: Ctx, store: str, done: list) -> None:
    """Compare each collected result with DuckDB over the committed store."""
    con = checks.points_view(checks.committed_files(store))
    for q, columns, rows in done:
        fields = ctx.spec.field_names(q["measurement"])
        want_cols, want = checks.reference(con, q, fields)
        if q["field"] is None:
            want_cols = ["time"] + sorted(c for c in columns if c != "time")
            want = checks.canon_rows(["time", *fields], want, want_cols)
        else:
            want = sorted(want, key=lambda r: r[0])
        try:
            got = checks.canon_rows(columns, rows, want_cols)
        except ValueError:
            ctx.fail(f"{q['kind']}: columns {columns}, expected {want_cols}")
            continue
        if not checks.same_rows(got, want):
            ctx.fail(f"{q['kind']} {q['measurement']}/{q['field']} {q['start']}..{q['end']}: "
                     f"{len(got)} rows differ from DuckDB's {len(want)}")
    con.close()


def refresh_rollup(ctx: Ctx, store: str, rollup: str) -> None:
    from cerebro_spark.operators.rollup import refresh_rollup as refresh

    root = os.path.join(store, f"bucket={BUCKET}")
    touched = [(BUCKET, d.removeprefix("date=")) for d in sorted(os.listdir(root)) if d.startswith("date=")]
    with ctx.tracer.span("rollup.refresh", partitions=len(touched)):
        refresh(ctx.spark, store, rollup, touched)


# -- the operator slice ----------------------------------------------------------

#: registry queries the ``dashboard`` reader also runs, by the ROADMAP
#: consumer they stand for; all read only the ``events`` table
SLICE = {
    "parity": ("rolling_value", "pivot_event_type"),
    "tsdb": ("derivative", "interpolate_linear"),
    "gates": ("streaming_ohlc_6h",),
}
SLICE_GROUP = {q: g for g, qs in SLICE.items() for q in qs}


def run_registry_query(ctx: Ctx, registry: dict, name: str, corpus: str):
    """One registry query: build (the registry call; a gate runs its stream
    here) then execute into the noop sink.  Returns the DataFrame."""
    tr = ctx.tracer
    with tr.span("etl.query", query=name, group=SLICE_GROUP[name]):
        with tr.span("etl.build"):
            df = registry[name](ctx.spark, corpus)
        with tr.span("etl.exec"):
            df.write.format("noop").mode("overwrite").save()
        return df


def _canon_frame():
    """``canon_frame`` of the repo's correctness gate (``tools/check.py``),
    loaded by path because ``tools`` is not a package."""
    spec = importlib.util.spec_from_file_location("repo_tools_check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_frame


def check_slice(oracle: dict, corpus: str, results: dict) -> list[str]:
    """Slice queries whose result does not hash-match ``oracle_sql()`` run
    by DuckDB over the same corpus."""
    canon_frame = _canon_frame()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{corpus}/events.parquet'")
    wrong = []
    for name, df in results.items():
        got = canon_frame(df.toPandas())
        want = canon_frame(con.execute(oracle[name]).df())
        if got != want:
            wrong.append(f"{name}: {len(got[2])} rows differ from oracle_sql()'s {len(want[2])}")
    con.close()
    return wrong


# -- workloads -----------------------------------------------------------------


def ingest_backfill(ctx: Ctx) -> Result:
    """Catch-up after an outage: the whole landed backlog drained with
    ``availableNow`` into a fresh store, a fixed number of times; no reads."""
    tr = ctx.tracer
    landing = ctx.path("landing")
    t_setup = time.perf_counter()
    with tr.span("setup"):
        ctx.start_session()
        with tr.span("gen") as s:
            exp = land_backlog(ctx.spec, ctx.seed, landing, ctx.spec.backlog_h * 3600)
            s.update(points=exp.landed, files=len(os.listdir(landing)))
        warm = []
        with tr.span("warmup"):
            for i in range(WARMUP_DRAINS):
                warm.append(drain(ctx, landed_config(landing), ctx.path(f"store-warm{i}"), ctx.path(f"ck-warm{i}")))
                shutil.rmtree(ctx.path(f"store-warm{i}"))
    setup_s = time.perf_counter() - t_setup
    ctx.notes.update(gen_points=exp.landed, warmup_drains_s=warm)

    walls, stores = [], []
    for _ in range(timed_ops(ctx.seconds, DRAIN_S)):
        store = ctx.path(f"store-{len(walls)}")
        with tr.span("op.drain"):
            walls.append(drain(ctx, landed_config(landing), store, ctx.path(f"ck-{len(walls)}")))
        stores.append(store)

    with tr.span("check"):
        for store in stores:
            ctx.attempted += 1
            problems = checks.verify_store(store, exp, ctx.spec)
            if problems:
                ctx.fail(f"{os.path.basename(store)}: {'; '.join(problems)}")
        store_layout(ctx, stores[-1])
    return Result(setup_s, walls, exp.landed / percentile(walls, 50))


def dashboard(ctx: Ctx) -> Result:
    """One closed-loop reader over data that nothing writes: dashboard
    queries through ``CerebroClient`` on an ingested store, and batch queries
    from the registry (the operator slice) on an events corpus."""
    import __spark_entry__ as entry
    from cerebro_spark.plans.client import CerebroClient

    tr = ctx.tracer
    store, rollup, corpus = ctx.path("store"), ctx.path("rollup"), ctx.path("corpus")
    registry = entry.queries()
    t_setup = time.perf_counter()
    with tr.span("setup"):
        ctx.start_session()
        with tr.span("gen") as s:
            exp = land_backlog(ctx.spec, ctx.seed, ctx.path("landing"))
            write_events(ctx.events, ctx.seed, corpus)
            s.update(points=exp.landed, events=ctx.events)
        with tr.span("store.build"):
            drain(ctx, landed_config(ctx.path("landing")), store, ctx.path("ck"))
        refresh_rollup(ctx, store, rollup)
        client = CerebroClient(ctx.spark, {BUCKET: store})
        client.register_rollup(BUCKET, rollup)
        # one operation of each kind: first-use planning and code generation
        # stay out of the window
        with tr.span("warmup"):
            warm = QueryMix(ctx.spec, ctx.seed + 1000)
            for _ in KINDS:
                run_query(ctx, client, warm.next())
            for name in SLICE_GROUP:
                run_registry_query(ctx, registry, name, corpus)
    setup_s = time.perf_counter() - t_setup
    ctx.notes["gen_points"] = exp.landed
    store_layout(ctx, store)

    # a cycle is one query of each kind and one run of each slice query, in
    # a seeded order.  Whole cycles only, at least three, so every run
    # weighs the operations equally.  The rate takes each operation's median
    # time over the cycles: that drops, operation by operation, a run slowed
    # by a neighbour on the host or a query whose seeded parameters read the
    # most
    ops = [None] * len(KINDS) + list(SLICE_GROUP)
    mix, rng = QueryMix(ctx.spec, ctx.seed), np.random.default_rng(ctx.seed + 11)
    waits, done, last, by_op = [], [], {}, {}
    cycles = timed_ops(ctx.seconds, CYCLE_S)
    for _ in range(cycles):
        for i in rng.permutation(len(ops)):
            if ops[i] is None:
                q = mix.next()
                with tr.span("op.query"):
                    elapsed, columns, rows = run_query(ctx, client, q)
                done.append((q, columns, rows))
                by_op.setdefault(q["kind"], []).append(elapsed)
            else:
                with tr.span("op.etl"):
                    t_op = time.perf_counter()
                    last[ops[i]] = run_registry_query(ctx, registry, ops[i], corpus)
                    elapsed = time.perf_counter() - t_op
                by_op.setdefault(ops[i], []).append(elapsed)
            waits.append(elapsed)
    ctx.notes["op_waits_s"] = by_op

    with tr.span("check"):
        ctx.attempted += 1 + len(waits)
        problems = checks.verify_store(store, exp, ctx.spec)
        if problems:
            ctx.fail("store: " + "; ".join(problems))
        check_queries(ctx, store, done)
        # a slice query whose result is wrong fails each of its runs
        for problem in check_slice(entry.oracle_sql(), corpus, last):
            for _ in range(cycles):
                ctx.fail(problem)
    return Result(setup_s, waits, len(ops) / sum(percentile(v, 50) for v in by_op.values()))


WORKLOADS = {
    "ingest_backfill": ingest_backfill,
    "dashboard": dashboard,
}
