"""Per-layer metrics, derived from a traced run's spans.

A layer the workload does not exercise reports 0 (for example the client
layer on ``ingest_backfill``).  Only the workload's own operations count:
warm-up work and the two-source check are left out."""

from __future__ import annotations

import datetime as dt
import os
import statistics

import checks
from spans import Span, Tracer
from workloads import KINDS, SLICE, SLICE_GROUP, Ctx, percentile

#: name -> unit, in the order BENCHMARK.json lists them
UNITS = {
    "session.start_s": "s",
    "gen.points": "count",
    "ingest.start_s": "s",
    "ingest.batches": "count",
    "ingest.batch_p50_s": "s",
    "ingest.batch_p90_s": "s",
    "ingest.add_batch_s": "s",
    "ingest.planning_s": "s",
    "ingest.offsets_s": "s",
    "ingest.commit_s": "s",
    "ingest.points_in": "count",
    "ingest.kept_ratio": "ratio",
    "ingest.jobs_per_batch": "count",
    "store.files": "count",
    "store.small_files": "count",
    "store.bytes_per_point": "B",
    "store.log_batches": "count",
    "client.plan_s": "s",
    "client.exec_s": "s",
    "client.files_read": "count",
    "client.files_in_range": "count",
    "client.rows_read_per_row_returned": "ratio",
    "client.rollup_hit_ratio": "ratio",
    "client.jobs_per_query": "count",
    "client.raw_field_p50_s": "s",
    "client.all_fields_p50_s": "s",
    "client.window_agg_p50_s": "s",
    "client.day_rollup_p50_s": "s",
    "client.historical_p50_s": "s",
    "rollup.refresh_s": "s",
    **{f"etl.{g}_s": "s" for g in SLICE},
    "etl.build_s": "s",
    "etl.exec_s": "s",
    "etl.jobs_per_query": "count",
    "etl.tasks_per_query": "count",
    **{f"etl.q.{q}_s": "s" for q in SLICE_GROUP},
    "spark.jobs": "count",
    "spark.tasks": "count",
    "trace.spans": "count",
    "trace.overhead_s": "s",
    # the end-to-end figures that carry no bound, as the traced run saw them
    "run.wait_p50_s": "s",
    "run.wait_p90_s": "s",
    "run.peak_rss_mb": "MB",
}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _files_in_range(files: list[str], start: dt.datetime, end: dt.datetime) -> int:
    """Store files in date partitions that overlap ``[start, end)``: what a
    scan pruned on the ``date`` partition would read."""
    lo, hi = start.date().isoformat(), (end - dt.timedelta(microseconds=1)).date().isoformat()
    n = 0
    for f in files:
        part = next((p for p in f.split(os.sep) if p.startswith("date=")), None)
        if part and lo <= part.removeprefix("date=") <= hi:
            n += 1
    return n


def per_layer(ctx: Ctx, tracer: Tracer, totals: dict, store: str | None) -> dict[str, float]:
    by = tracer.named
    spans = {s.id: s for s in tracer.spans}

    def under(s: Span, name: str) -> bool:
        while s.parent is not None:
            s = spans[s.parent]
            if s.name == name:
                return True
        return False

    m = {k: 0.0 for k in UNITS if not k.startswith("run.")}
    m["session.start_s"] = _median([s.duration for s in by("session.start")])
    m["gen.points"] = ctx.notes.get("gen_points", 0)

    def ms(s: Span, *phases: str) -> float:
        return sum(s.attrs.get(f"ms_{p}", 0) for p in phases) / 1000.0

    def own(s: Span) -> bool:
        """Ingest the workload is measured on: the timed drains of
        ``ingest_backfill``, the store build of ``dashboard``."""
        return under(s, "op.drain") or under(s, "store.build")

    batches = [s for s in by("ingest.batch") if s.attrs["rows"] > 0 and own(s)]
    if batches:
        rows = sum(s.attrs["rows"] for s in batches)
        m.update({
            "ingest.start_s": _median([s.duration for s in by("ingest.start") if own(s)]),
            "ingest.batches": len(batches),
            "ingest.batch_p50_s": percentile([s.duration for s in batches], 50),
            "ingest.batch_p90_s": percentile([s.duration for s in batches], 90),
            "ingest.add_batch_s": _median([ms(s, "addBatch") for s in batches]),
            "ingest.planning_s": _median([ms(s, "queryPlanning") for s in batches]),
            "ingest.offsets_s": _median([ms(s, "latestOffset", "getBatch", "walCommit") for s in batches]),
            "ingest.commit_s": _median([ms(s, "commitOffsets") for s in batches]),
            "ingest.points_in": rows,
            "ingest.kept_ratio": 1 - sum(s.attrs["empty_rows"] or 0 for s in batches) / rows,
            "ingest.jobs_per_batch": sum(s.attrs["jobs"] for s in batches) / len(batches),
        })

    health = by("store.health")
    if health:
        a = health[-1].attrs
        m.update({
            "store.files": a["files"],
            "store.small_files": a["small_files"],
            "store.bytes_per_point": a["bytes_per_point"],
            "store.log_batches": a["log_batches"],
        })

    queries = [s for s in by("client.query") if under(s, "op.query")]
    if queries:
        ids = {s.id for s in queries}
        raw = [s for s in queries if not s.attrs["rollup"]]
        files = checks.committed_files(store) if store else []
        day = [s for s in queries if s.attrs["kind"] == "day_rollup"]
        m.update({
            "client.plan_s": _median([s.duration for s in by("client.plan") if s.parent in ids]),
            "client.exec_s": _median([s.duration for s in by("client.exec") if s.parent in ids]),
            "client.files_read": statistics.mean(s.attrs["files_read"] for s in raw) if raw else 0,
            "client.files_in_range": statistics.mean(
                _files_in_range(
                    files,
                    dt.datetime.fromisoformat(s.attrs["start"]),
                    dt.datetime.fromisoformat(s.attrs["end"]),
                )
                for s in raw
            ) if raw else 0,
            "client.rows_read_per_row_returned": sum(s.attrs["rows_scanned"] for s in queries)
            / max(1, sum(s.attrs["rows_returned"] for s in queries)),
            "client.rollup_hit_ratio": sum(s.attrs["rollup"] for s in day) / len(day) if day else 0,
            "client.jobs_per_query": statistics.mean(s.attrs["jobs"] for s in queries),
        })
        for kind in KINDS:
            m[f"client.{kind}_p50_s"] = _median(
                [s.duration for s in queries if s.attrs["kind"] == kind]
            )
    m["rollup.refresh_s"] = _median([s.duration for s in by("rollup.refresh")])

    etl = [s for s in by("etl.query") if under(s, "op.etl")]
    if etl:
        ids = {s.id for s in etl}
        per_query = {
            q: _median([s.duration for s in etl if s.attrs["query"] == q]) for q in SLICE_GROUP
        }
        m.update({f"etl.q.{q}_s": t for q, t in per_query.items()})
        m.update({f"etl.{g}_s": sum(per_query[q] for q in qs) for g, qs in SLICE.items()})
        m.update({
            "etl.build_s": _median([s.duration for s in by("etl.build") if s.parent in ids]),
            "etl.exec_s": _median([s.duration for s in by("etl.exec") if s.parent in ids]),
            "etl.jobs_per_query": statistics.mean(s.attrs["jobs"] for s in etl),
            "etl.tasks_per_query": statistics.mean(s.attrs["tasks"] for s in etl),
        })
    m["spark.jobs"] = totals["jobs"]
    m["spark.tasks"] = totals["tasks"]
    m["trace.spans"] = len(tracer.spans)
    m["trace.overhead_s"] = tracer.overhead_s
    return m
