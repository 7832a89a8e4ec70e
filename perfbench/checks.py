"""Correctness checks, run outside the timed regions.

The store a streaming sink writes is only what its ``_spark_metadata`` log
says was committed; files outside the log (an aborted batch) are not part of
it.  Every check here therefore reads the committed file list from that log
and recomputes the expected answer with DuckDB over those files.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os

import duckdb

from gen import END, Expected, LoadSpec

EPOCH = dt.datetime(1970, 1, 1)


def _read_log(log_dir: str) -> dict[int, list[dict]]:
    """batch id -> entries of a Spark metadata log (sink or file source);
    a ``N.compact`` file holds the entries of every batch up to ``N``."""
    out: dict[int, list[dict]] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        stem = name.removesuffix(".compact")
        if not stem.isdigit():
            continue
        with open(os.path.join(log_dir, name)) as fh:
            lines = fh.read().splitlines()[1:]  # first line is the version
        out[int(stem)] = [json.loads(line) for line in lines if line.strip()]
    return out


def _path(uri: str) -> str:
    return uri.removeprefix("file://").removeprefix("file:")


def committed_files(store: str) -> list[str]:
    entries: dict[str, str] = {}
    for _, batch in sorted(_read_log(os.path.join(store, "_spark_metadata")).items()):
        for e in batch:
            entries[_path(e["path"])] = e.get("action", "add")
    return sorted(p for p, a in entries.items() if a == "add")


def sink_batches(store: str) -> int:
    log = _read_log(os.path.join(store, "_spark_metadata"))
    return max(log) + 1 if log else 0


def points_view(files: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if files:
        con.read_parquet(files, hive_partitioning=False).create_view("pts")
    return con


def verify_store(store: str, exp: Expected, spec: LoadSpec) -> list[str]:
    """Problems with a store that should hold exactly ``exp``: point count,
    per-measurement counts and sums (each landed point stored exactly once),
    stamped null times and merged instance tags."""
    files = committed_files(store)
    if not files:
        return ["store has no committed files"]
    con = points_view(files)
    problems = []
    # no generated time lies after END: a later one was stamped at ingest
    n, untagged, unstamped, stamped = con.execute(
        "SELECT count(*), "
        "count(*) FILTER (WHERE map_extract(tags, 'observatory')[1] IS DISTINCT FROM 'lco' "
        "  OR map_extract(tags, 'source')[1] IS DISTINCT FROM 'file_replay'), "
        "count(*) FILTER (WHERE time IS NULL), count(*) FILTER (WHERE time > ?) FROM pts",
        [END],
    ).fetchone()
    if n != exp.stored:
        problems.append(f"stored {n} points, expected {exp.stored}")
    if untagged:
        problems.append(f"{untagged} points without merged instance tags")
    if unstamped or stamped != exp.null_time:
        problems.append(f"{stamped} points stamped at ingest, {unstamped} left null; "
                        f"{exp.null_time} landed with a null time")
    got = {
        m: (c, s)
        for m, c, s in con.execute(
            "SELECT measurement, count(*), sum(map_extract(fields, 'f0')[1]) "
            "FROM pts GROUP BY 1"
        ).fetchall()
    }
    for m, (c, s) in exp.per_measurement.items():
        gc, gs = got.get(m, (0, 0.0))
        if gc != c or not math.isclose(gs or 0.0, s, rel_tol=1e-9, abs_tol=1e-6):
            problems.append(f"{m}: stored ({gc}, {gs}), expected ({c}, {s})")
    con.close()
    return problems


# -- client query reference answers ---------------------------------------------


def _us(t: dt.datetime) -> int:
    return round((t - EPOCH).total_seconds() * 1_000_000)


def reference(con, q: dict, fields: list[str]) -> tuple[list[str], list[tuple]]:
    """DuckDB answer for one client query (as built by ``workloads.QueryMix``):
    (column names, rows), time as epoch microseconds."""
    rng = "measurement = ? AND time >= ? AND time < ?"
    args = [q["measurement"], q["start"], q["end"]]
    if q.get("aggregate_window"):
        every, fn = q["aggregate_window"]
        agg = {"avg": "avg", "max": "max", "count": "count"}[fn]
        rows = con.execute(
            f"SELECT (epoch_us(time) // 1000000 // {every}) * {every} * 1000000 AS t, "
            f"{agg}(map_extract(fields, ?)[1]) AS v FROM pts WHERE {rng} "
            "AND map_extract(fields, ?)[1] IS NOT NULL GROUP BY 1",
            [q["field"], *args, q["field"]],
        ).fetchall()
        return ["time", q["field"]], rows
    if q.get("field"):
        rows = con.execute(
            f"SELECT epoch_us(time), map_extract(fields, ?)[1] FROM pts WHERE {rng} "
            "AND map_extract(fields, ?)[1] IS NOT NULL",
            [q["field"], *args, q["field"]],
        ).fetchall()
        return ["time", q["field"]], rows
    cols = ", ".join(f"map_extract(fields, '{f}')[1]" for f in fields)
    rows = con.execute(
        f"SELECT epoch_us(time), {cols} FROM pts WHERE {rng} AND cardinality(fields) > 0",
        args,
    ).fetchall()
    return ["time", *fields], rows


def canon_rows(columns: list[str], rows, want: list[str]) -> list[tuple]:
    """Rows reordered to ``want`` columns, times as epoch µs, sorted."""
    idx = [columns.index(c) for c in want]
    out = []
    for r in rows:
        vals = [r[i] for i in idx]
        if isinstance(vals[0], dt.datetime):
            vals[0] = _us(vals[0])
        out.append(tuple(vals))
    return sorted(out, key=lambda r: r[0])


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )
