"""Seeded load generators.

Writes parquet files that the engine then reads; the engine never sees the
generator, only the files.

**Telemetry points** (``cerebro_spark.schema.POINT_SCHEMA`` layout), landed
for the ``file_replay`` source.  The shape follows the deployments the repo
documents (SURVEY.md §6, FIXTURES.md F1):

- 21 sources, the largest deployed profile (~17 tron actors + 4 auxiliary
  sources).  Cadences are uneven: source 0 is the hot one and reports every
  1 s (the fastest documented source cadence), sources 1-16 every 30 s (the
  typical deployed ``delay``) and the 4 auxiliary sources every 60 s (the
  LCO API poll);
- 10 measurements.  Source ``d`` reports measurement ``d % 10``, so each
  measurement comes from 2-3 sources; with the ``ccd`` tag (2 values) that
  makes ~5 tag combinations per measurement;
- each measurement has its own fixed set of 1-20 numeric fields
  (``FIELD_COUNTS``);
- the span is ``days`` days ending at ``END``; one landed file per (source,
  day);
- planted shares: points with a null ``time`` (the engine stamps them),
  points with no fields (the engine drops them), and late points whose time
  lies one to five days before the day of the file that carries them, so
  they land in older date partitions.

Times are unique per measurement: each source has its own 20 ms slot within
the second (``< 10 ms`` jitter), and late points sit half a second off that
grid.  The client's pivot on ``time`` therefore never merges two points and
results can be compared row for row.  The generator also returns what the
checks need: the expected stored point count and per-measurement sums.

**Events corpus** for the operator slice: one ``events.parquet`` table in the
layout of the repo's driver test data (TESTDATA.md), seeded the same way.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: end of the generated span, and "now" for the dashboard's relative
#: ranges; it lies in the past so that a time the engine stamps at ingest
#: (wall clock) is later than every generated time
END = dt.datetime(2024, 1, 31)
DAY_S = 86400
MEASUREMENTS = (
    "thermistors", "pressure", "temperature", "weather", "seeing",
    "ieb", "tcc", "apogee", "boss", "ecp",
)
#: numeric fields per point of each measurement (FIXTURES.md F1: 1-20)
FIELD_COUNTS = (8, 1, 2, 12, 4, 20, 16, 6, 10, 3)
MAX_FIELDS = max(FIELD_COUNTS)

ARROW_SCHEMA = pa.schema(
    [
        pa.field("measurement", pa.string(), nullable=False),
        pa.field("tags", pa.map_(pa.string(), pa.string())),
        pa.field("fields", pa.map_(pa.string(), pa.float64())),
        pa.field("fields_str", pa.map_(pa.string(), pa.string())),
        pa.field("fields_bool", pa.map_(pa.string(), pa.bool_())),
        pa.field("time", pa.timestamp("us")),
        pa.field("bucket", pa.string()),
    ]
)


@dataclass(frozen=True)
class LoadSpec:
    sources: int = 21
    #: the hot source's cadence, the others', and how many of the last
    #: sources are auxiliary (slower) ones
    hot_cadence_s: int = 1
    cadence_s: int = 30
    aux_sources: int = 4
    aux_cadence_s: int = 60
    measurements: int = 10
    ccd_card: int = 2
    days: int = 1
    #: hours of points in the ``ingest_backfill`` backlog: the last ones of
    #: the span, as after an outage of that length
    backlog_h: int = 24
    null_time_share: float = 0.005
    empty_share: float = 0.005
    late_share: float = 0.01

    def cadence(self, d: int) -> int:
        if d == 0:
            return self.hot_cadence_s
        return self.aux_cadence_s if d >= self.sources - self.aux_sources else self.cadence_s

    def measurement_names(self) -> list[str]:
        return list(MEASUREMENTS[: self.measurements])

    def field_names(self, measurement: str) -> list[str]:
        return [f"f{i}" for i in range(FIELD_COUNTS[MEASUREMENTS.index(measurement)])]

    def points_per_day(self) -> int:
        return sum(DAY_S // self.cadence(d) for d in range(self.sources))


@dataclass
class Points:
    """One generated point set, columnar (numpy), before it is cut into
    files.  ``time_us`` is the data time; ``null_time`` marks points whose
    stored ``time`` is written as null; ``empty`` marks points written with
    no fields; ``values`` has ``MAX_FIELDS`` columns, of which a point
    carries the first ``FIELD_COUNTS[meas]``."""

    device: np.ndarray
    meas: np.ndarray
    ccd: np.ndarray
    time_us: np.ndarray
    values: np.ndarray  # (n, MAX_FIELDS)
    null_time: np.ndarray
    empty: np.ndarray
    file_key: np.ndarray  # which landing file carries the point

    def __len__(self) -> int:
        return len(self.time_us)

    def take(self, idx: np.ndarray) -> Points:
        return Points(*(getattr(self, f)[idx] for f in Points.__dataclass_fields__))


@dataclass
class Expected:
    """What a correct ingest of a set of landed files must store."""

    landed: int = 0
    empty: int = 0
    null_time: int = 0
    #: measurement -> (stored points, sum of field f0 over them)
    per_measurement: dict[str, tuple[int, float]] = field(default_factory=dict)

    @property
    def stored(self) -> int:
        return self.landed - self.empty

    def add(self, pts: Points, spec: LoadSpec) -> None:
        self.landed += len(pts)
        self.empty += int(pts.empty.sum())
        self.null_time += int((pts.null_time & ~pts.empty).sum())
        keep = ~pts.empty
        for m, name in enumerate(spec.measurement_names()):
            sel = keep & (pts.meas == m)
            n, s = self.per_measurement.get(name, (0, 0.0))
            self.per_measurement[name] = (
                n + int(sel.sum()),
                s + float(pts.values[sel, 0].sum()),
            )


def _end_us() -> int:
    return int((END - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def generate(spec: LoadSpec, seed: int, t0_s: float, t1_s: float) -> Points:
    """All points whose tick falls in ``[END - t0_s, END - t1_s)`` (seconds
    before ``END``, ``t0_s > t1_s``), with planted nulls, empties and late
    points.  ``file_key`` is the (source, day index) landing file of each
    point, day index counted from the start of the span."""
    rng = np.random.default_rng(seed)
    end_us = _end_us()
    span_start_us = end_us - spec.days * DAY_S * 1_000_000
    cols: dict[str, list[np.ndarray]] = {k: [] for k in Points.__dataclass_fields__}
    for d in range(spec.sources):
        cadence = spec.cadence(d)
        first = int(np.ceil((spec.days * DAY_S - t0_s) / cadence))
        last = int(np.ceil((spec.days * DAY_S - t1_s) / cadence))
        ticks = np.arange(first, last, dtype=np.int64)
        n = len(ticks)
        # each source has its own 20 ms slot in the second, < 10 ms jitter:
        # sources sharing a measurement never share a timestamp
        offset_us = d * 20_000 + rng.integers(0, 10_000, n)
        time_us = span_start_us + ticks * cadence * 1_000_000 + offset_us
        day = (ticks * cadence) // DAY_S
        late = rng.random(n) < spec.late_share
        # a late point keeps its file (the day it arrived) but carries a
        # time 1-5 days earlier, shifted half a second off the slot grid
        back_days = rng.integers(1, 6, n)
        time_us = np.where(
            late, time_us - back_days * DAY_S * 1_000_000 + 7_500_000, time_us
        )
        cols["device"].append(np.full(n, d, dtype=np.int64))
        cols["meas"].append(np.full(n, d % spec.measurements, dtype=np.int64))
        cols["ccd"].append(rng.integers(0, spec.ccd_card, n))
        cols["time_us"].append(time_us)
        cols["values"].append(
            np.round(rng.normal(10.0 * (d + 1), 3.0, (n, MAX_FIELDS)), 4)
        )
        cols["null_time"].append(rng.random(n) < spec.null_time_share)
        cols["empty"].append(rng.random(n) < spec.empty_share)
        cols["file_key"].append(d * (spec.days + 1) + day)
    return Points(*(np.concatenate(cols[k]) for k in Points.__dataclass_fields__))


def to_table(pts: Points, spec: LoadSpec) -> pa.Table:
    n = len(pts)
    meas_names = np.array(spec.measurement_names(), dtype=object)
    counts = np.where(pts.empty, 0, np.array(FIELD_COUNTS)[pts.meas])
    carried = np.arange(MAX_FIELDS) < counts[:, None]  # (n, MAX_FIELDS)
    offsets = np.concatenate([[0], counts.cumsum()]).astype(np.int32)
    names = np.array([f"f{i}" for i in range(MAX_FIELDS)], dtype=object)
    keys = pa.array(np.broadcast_to(names, (n, MAX_FIELDS))[carried])
    fields = pa.MapArray.from_arrays(pa.array(offsets), keys, pa.array(pts.values[carried]))
    tag_keys = pa.array(np.tile(np.array(["device", "ccd"], dtype=object), n))
    tag_vals = np.empty(2 * n, dtype=object)
    tag_vals[0::2] = np.char.add("dev", pts.device.astype(str))
    tag_vals[1::2] = np.char.add("r", pts.ccd.astype(str))
    tags = pa.MapArray.from_arrays(
        pa.array(np.arange(0, 2 * n + 1, 2, dtype=np.int32)),
        tag_keys,
        pa.array(tag_vals),
    )
    time = pa.array(pts.time_us, pa.timestamp("us"), mask=pts.null_time)
    return pa.Table.from_arrays(
        [
            pa.array(meas_names[pts.meas]),
            tags,
            fields,
            pa.nulls(n, ARROW_SCHEMA.field("fields_str").type),
            pa.nulls(n, ARROW_SCHEMA.field("fields_bool").type),
            time,
            pa.nulls(n, pa.string()),
        ],
        schema=ARROW_SCHEMA,
    )


def write_files(pts: Points, spec: LoadSpec, directory: str) -> None:
    """Cut ``pts`` into one parquet file per landing-file key."""
    os.makedirs(directory, exist_ok=True)
    order = np.argsort(pts.file_key, kind="stable")
    keys, starts = np.unique(pts.file_key[order], return_index=True)
    bounds = list(starts) + [len(order)]
    for i, key in enumerate(keys):
        chunk = pts.take(order[bounds[i] : bounds[i + 1]])
        pq.write_table(to_table(chunk, spec), os.path.join(directory, f"part-{int(key):05d}.parquet"))


def land_backlog(spec: LoadSpec, seed: int, directory: str, span_s: int | None = None) -> Expected:
    """Land the last ``span_s`` seconds of the span (default: all ``days``
    days), one file per (source, day)."""
    pts = generate(spec, seed, span_s or spec.days * DAY_S, 0)
    write_files(pts, spec, directory)
    exp = Expected()
    exp.add(pts, spec)
    return exp


# -- events corpus ---------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def write_events(rows: int, seed: int, directory: str) -> None:
    """``events.parquet`` in the driver test-data layout: ``event_id`` in time
    order, distinct ``ts`` over January 2024, ~67 events per user, five event
    types, a two-decimal ``value`` and a small JSON ``props``."""
    rng = np.random.default_rng(seed)
    start_us = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts = start_us + np.sort(rng.choice(30 * DAY_S * 1_000_000, rows, replace=False))
    types = np.array(EVENT_TYPES, dtype=object)
    table = pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, rows // 67), rows, dtype=np.int64)),
        "event_type": pa.array(types[rng.integers(0, len(types), rows)]),
        "value": pa.array(np.round(rng.gamma(2.0, 25.0, rows), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
    })
    os.makedirs(directory, exist_ok=True)
    pq.write_table(table, os.path.join(directory, "events.parquet"))
