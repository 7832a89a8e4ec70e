"""Control plane: YAML config + profiles loader and the query runner
(SURVEY §2.5 C1-C4 parity).

Reference semantics reproduced:
- C2 `Cerebellum` config parsing (`/root/reference/cerebro/cerebro.py:137-219`):
  ``sources``/``observers`` maps keyed by name with a ``type`` selecting the
  implementation; **profiles** name subsets of sources
  (`cerebro.py:167-205`); env-var interpolation in the YAML
  (``${VAR}`` — reference `read_yaml_file`); source filter by name
  (`cerebro.py:208-211`).
- C1 `SourceList` start/stop/restart → `IngestRunner` over Spark's
  `StreamingQueryManager` (per-query start with timeout supervision).
- C3 status surface (`cerebro.py:430-460`) → `IngestRunner.status()`.

The registry maps source ``type`` strings to builder callables
(S18 parity — `source.py:232-244`), where a builder returns a streaming
DataFrame of canonical points.
"""

from __future__ import annotations

import contextvars
import logging
import os
import re
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_ENV_RE = re.compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)\}")


def _interp(value: Any) -> Any:
    """Recursive ${ENV_VAR} interpolation (C2)."""
    if isinstance(value, str):
        return _ENV_RE.sub(lambda m: os.environ.get(m.group(1), ""), value)
    if isinstance(value, dict):
        return {k: _interp(v) for k, v in value.items()}
    if isinstance(value, list):
        return [_interp(v) for v in value]
    return value


def load_config(path_or_dict: str | dict) -> dict:
    """Load YAML (or accept a dict) with env interpolation.

    YAML parsing is dependency-gated: PyYAML if present, else a JSON fallback
    (configs in tests are dicts/JSON; a production deploy has PyYAML)."""
    if isinstance(path_or_dict, dict):
        return _interp(path_or_dict)
    with open(path_or_dict) as fh:
        text = fh.read()
    try:
        import yaml  # type: ignore

        data = yaml.safe_load(text)
    except ImportError:
        import json

        data = json.loads(text)
    return _interp(data)


def resolve_profile(
    config: dict,
    profile: str | None = None,
    sources: list[str] | None = None,
) -> dict:
    """Resolve a profile/source-filter into concrete source configs
    (C2 — `cerebro.py:167-211`).

    Returns ``{source_name: params}`` for the selected sources.  ``sources``
    (explicit name list) takes precedence over ``profile``; a missing name
    raises (matching the reference's KeyError behavior).
    """
    all_sources: dict = config.get("sources", {})

    def pick(name: str):
        if name not in all_sources:
            raise KeyError(
                f"unknown source {name!r}; configured sources: "
                f"{sorted(all_sources)}"
            )
        return all_sources[name]

    if sources:
        return {n: pick(n) for n in sources}
    if profile:
        profiles = config.get("profiles", {})
        if profile not in profiles:
            raise KeyError(
                f"unknown profile {profile!r}; configured profiles: "
                f"{sorted(profiles)}"
            )
        return {n: pick(n) for n in profiles[profile]}
    return dict(all_sources)


#: source-type registry (S18): type string → builder(spark, name, **params)
SOURCE_REGISTRY: dict[str, Callable[..., DataFrame]] = {}


def register_source(type_name: str):
    def deco(fn: Callable[..., DataFrame]):
        SOURCE_REGISTRY[type_name] = fn
        return fn

    return deco


@register_source("file_replay")
def _file_replay(spark: SparkSession, name: str, **params) -> DataFrame:
    from cerebro_spark.streaming.ingest import replay_file_stream

    return replay_file_stream(
        spark,
        params["path"],
        fmt=params.get("format", "parquet"),
        max_files_per_trigger=params.get("max_files_per_trigger"),
    )


@register_source("rate")
def _rate(spark: SparkSession, name: str, **params) -> DataFrame:
    """Rate source mapped into canonical points — the poll-cadence stand-in
    (`trigger`-driven synthetic telemetry for soak tests)."""
    from pyspark.sql import functions as F

    rows = params.get("rows_per_second", 1)
    df = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows)
        .load()
    )
    return df.select(
        F.lit(params.get("measurement", name)).alias("measurement"),
        F.create_map(F.lit("source"), F.lit(name)).alias("tags"),
        F.create_map(F.lit("value"), F.col("value").cast("double")).alias("fields"),
        F.lit(None).cast("map<string,string>").alias("fields_str"),
        F.lit(None).cast("map<string,boolean>").alias("fields_bool"),
        F.col("timestamp").alias("time"),
        F.lit(params.get("bucket")).alias("bucket"),
    )


#: live AMQP pump threads keyed by (runner namespace, source name):
#: (thread, stop_event).  The namespace (the owning IngestRunner's
#: checkpoint root — unique per runner by construction, since two runners
#: sharing a checkpoint root would corrupt each other's streaming state
#: anyway) keeps two runners in one process that both declare a source
#: named e.g. ``bus1`` from stomping each other's pump.
_PUMP_THREADS: dict[tuple[str, str], tuple[Any, Any]] = {}

#: set by IngestRunner._build around builder calls so side transports key
#: themselves per-runner; "" = builder called directly (no runner).
_PUMP_NAMESPACE = contextvars.ContextVar("cerebro_pump_namespace", default="")


def _stop_pump(namespace: str, name: str) -> None:
    pump = _PUMP_THREADS.pop((namespace, name), None)
    if pump is not None:
        pump[1].set()


@register_source("amqp")
def _amqp(spark: SparkSession, name: str, **params) -> DataFrame:
    """S5 native transport, config-driven: a background pump thread drains
    the RabbitMQ queue into ``spool_dir`` every ``pump_interval`` seconds
    (``bus.amqp_to_spool`` — dependency-free 0-9-1 client, ack after the
    atomic spool write), and the streaming query is the file bus over that
    spool mapped to canonical points.  Broker errors back off with the C5
    reconnect policy and never kill the pump (keep-running posture); the
    pump stops with the source (``IngestRunner.stop``/``restart``).

    params: ``host``/``queue``/``spool_dir`` required; ``port``,
    ``user``/``username`` (``user`` is the reference AMQPSource key —
    both accepted), ``password``, ``vhost``, ``ssl`` (amqps; default off —
    cleartext, loopback/trusted networks only), ``declare``,
    ``exchange``/``exchange_type``/``binding_key`` (bind the queue to an
    exchange topology, the reference's consumer shape), ``pump_interval``
    (default 5 s), ``max_messages_per_pump`` (default 1000),
    ``mode`` ("get" = Basic.Get poll, the default; "consume" =
    Basic.Consume push with prefetch-bounded flow for higher-rate queues)
    + ``idle_timeout`` (consume-mode batch silence cutoff, default 1 s),
    ``groupers``, ``keywords`` optional.
    """
    import threading

    from cerebro_spark.sources.bus import (
        amqp_to_spool,
        bus_messages_to_points,
        read_bus_stream,
    )

    # fail at start(), not inside the retry loop: a missing required param
    # or a malformed numeric is a permanent config error, and the pump's
    # keep-running posture would otherwise silently back off on it forever
    missing = [k for k in ("host", "queue", "spool_dir") if k not in params]
    if missing:
        raise KeyError(
            f"amqp source {name!r}: missing required params {missing}"
        )
    spool = params["spool_dir"]
    os.makedirs(spool, exist_ok=True)
    amqp_cfg = {
        k: params[k]
        for k in ("host", "port", "username", "password", "vhost", "queue",
                  "declare", "ssl", "exchange", "exchange_type",
                  "binding_key", "mode", "idle_timeout")
        if k in params
    }
    if "user" in params:  # reference AMQPSource config key (C2 parity)
        amqp_cfg.setdefault("username", params["user"])
    try:
        interval = float(params.get("pump_interval", 5.0))
        amqp_cfg["port"] = int(amqp_cfg.get("port", 5672))
        max_msgs = int(params.get("max_messages_per_pump", 1000))
        amqp_cfg["idle_timeout"] = float(amqp_cfg.get("idle_timeout", 1.0))
    except (TypeError, ValueError) as exc:
        raise ValueError(
            f"amqp source {name!r}: non-numeric port/pump_interval/"
            f"max_messages_per_pump/idle_timeout: {exc}"
        ) from exc
    if amqp_cfg.get("mode", "get") not in ("get", "consume"):
        raise ValueError(
            f"amqp source {name!r}: mode must be 'get' or 'consume', "
            f"got {amqp_cfg['mode']!r}"
        )
    stop = threading.Event()
    log = logging.getLogger("cerebro_spark.amqp")

    def pump() -> None:
        from cerebro_spark.sources.amqp_client import AMQPClient
        from cerebro_spark.sources.poll import ExponentialBackoff

        backoff = ExponentialBackoff()
        conn = None  # persistent across cycles; re-dialed after errors
        while not stop.is_set():
            try:
                if conn is None:
                    conn = AMQPClient(
                        amqp_cfg["host"],
                        port=amqp_cfg["port"],
                        username=amqp_cfg.get("username", "guest"),
                        password=amqp_cfg.get("password", "guest"),
                        vhost=amqp_cfg.get("vhost", "/"),
                        ssl=amqp_cfg.get("ssl", False),
                    )
                    conn.connect()
                amqp_to_spool(
                    spool, amqp_cfg, max_messages=max_msgs, client=conn
                )
                backoff.reset()
                delay = interval
            except Exception as exc:  # noqa: BLE001 — C5: log-and-retry
                if conn is not None:
                    conn._teardown()
                conn = None
                delay = backoff.next_delay()
                # one WARNING per failed cycle; the growing backoff makes
                # this self-rate-limiting (a permanent error logs at the
                # max-backoff cadence, not in a tight loop)
                log.warning(
                    "amqp source %r: pump cycle failed (%s: %s); "
                    "retrying in %.1f s",
                    name, type(exc).__name__, exc, delay,
                )
            stop.wait(delay)
        if conn is not None:
            conn.close()

    namespace = _PUMP_NAMESPACE.get()
    _stop_pump(namespace, name)
    thread = threading.Thread(target=pump, daemon=True, name=f"amqp-pump-{name}")
    thread.start()
    _PUMP_THREADS[(namespace, name)] = (thread, stop)

    messages = read_bus_stream(spark, spool_dir=spool)
    return bus_messages_to_points(
        messages,
        groupers=params.get("groupers"),
        keywords=params.get("keywords"),
    )


# The ingest child session's conf.  Spark charges each scanned file its size
# plus ``openCostInBytes`` when packing files into tasks; its 4 MiB default
# assumes flat files, while opening a landed point file costs about the
# decode of 25 KB of map rows (3 ms at 8 MB/s per core, 4-core host).  At
# 4 MiB perfbench's 21 landed files were packed by count, and the task with
# the 1 MB hot file wrote 81% of the rows at 2 cores; at 32 KiB, 66%.
INGEST_CONF = {"spark.sql.files.openCostInBytes": str(32 * 1024)}


class IngestRunner:
    """C1/C3 parity: named streaming queries with status / stop / restart.

    One runner per engine instance; each configured source becomes one
    streaming query writing to the point store (per-source trigger cadence =
    the reference's per-source poll delay).  The queries run in the
    caller's ``"ingest"`` ``child_session`` with ``INGEST_CONF``.
    """

    def __init__(
        self,
        spark: SparkSession,
        config: dict,
        store_path: str,
        checkpoint_root: str,
        profile: str | None = None,
        sources: list[str] | None = None,
    ):
        self.spark = spark
        self.config = load_config(config)
        self.store_path = store_path
        self.checkpoint_root = checkpoint_root
        self.selected = resolve_profile(self.config, profile, sources)
        self._queries: dict[str, Any] = {}

    def _build(self, name: str):
        from cerebro_spark.session import child_session
        from cerebro_spark.streaming.ingest import run_ingest

        spark = child_session(self.spark, "ingest", INGEST_CONF)
        params = dict(self.selected[name])
        type_name = params.pop("type")
        builder = SOURCE_REGISTRY[type_name]
        tags = params.pop("tags", {})
        bucket = params.pop("bucket", None) or self.config.get(
            "default_bucket", "default"
        )
        delay = params.pop("delay", None)
        token = _PUMP_NAMESPACE.set(self.checkpoint_root)
        try:
            source_df = builder(spark, name, **params)
            tags = {"source": type_name, **self.config.get("tags", {}), **tags}
            try:
                return run_ingest(
                    spark,
                    source_df,
                    sink_path=self.store_path,
                    checkpoint=os.path.join(self.checkpoint_root, name),
                    instance_tags=tags,
                    default_bucket=bucket,
                    processing_time=f"{delay} seconds" if delay else None,
                    available_now=delay is None,
                    query_name=f"cerebro-{name}",
                )
            except Exception:
                # a builder may have spawned a side transport (amqp pump
                # thread); if the query itself fails to start, stop it — it
                # is keyed in _PUMP_THREADS but would never be reachable
                # through stop() because the source never lands in
                # self._queries
                _stop_pump(self.checkpoint_root, name)
                raise
        finally:
            _PUMP_NAMESPACE.reset(token)

    def start(self, names: list[str] | None = None) -> None:
        for name in names or list(self.selected):
            if name not in self._queries:
                self._queries[name] = self._build(name)

    def status(self) -> dict[str, bool]:
        """Per-source running flag (C3 — `cerebro.py:430-460`)."""
        return {n: q.isActive for n, q in self._queries.items()}

    def metrics(self) -> dict[str, dict]:
        """Per-source throughput from the engine's own progress events
        (rows/sec, batch duration, watermark) — the observability surface
        the reference lacks entirely (its sources log errors but expose no
        rates)."""
        out: dict[str, dict] = {}
        for n, q in self._queries.items():
            p = q.lastProgress
            observed = ((p or {}).get("observedMetrics") or {}).get(
                "ingest_quality"
            )
            pump = _PUMP_THREADS.get((self.checkpoint_root, n))
            out[n] = {
                "active": q.isActive,
                # side-transport health (amqp pump thread); None = this
                # source has no side transport.  Errors inside the pump are
                # logged (cerebro_spark.amqp) — a dead thread here means the
                # whole loop crashed, which the keep-running posture forbids
                "pump_alive": pump[0].is_alive() if pump else None,
                "quality": observed,
                "input_rows_per_sec": (p or {}).get("inputRowsPerSecond"),
                "processed_rows_per_sec": (p or {}).get(
                    "processedRowsPerSecond"
                ),
                "batch_duration_ms": ((p or {}).get("durationMs") or {}).get(
                    "triggerExecution"
                ),
                "num_input_rows": (p or {}).get("numInputRows"),
                "watermark": ((p or {}).get("eventTime") or {}).get(
                    "watermark"
                ),
            }
        return out

    def stop(self, name: str | None = None) -> None:
        for n, q in list(self._queries.items()):
            if name is None or n == name:
                q.stop()
                del self._queries[n]
                # side transport (amqp): stop this RUNNER's pump only —
                # the key carries the runner namespace
                _stop_pump(self.checkpoint_root, n)

    def restart(self, name: str) -> None:
        """C3 ``restart <source>``."""
        self.stop(name)
        self._queries[name] = self._build(name)

    def await_all(self, timeout: float | None = None) -> None:
        for q in self._queries.values():
            q.awaitTermination(timeout)


@register_source("poll")
def _poll(spark: SparkSession, name: str, **params) -> DataFrame:
    """Custom polling connector (S2) as a config-declared source: registers
    the `cerebro_poll` Python DataSource and passes params through as reader
    options (``poll_fn`` selects the registered poll function)."""
    from cerebro_spark.sources.poll import PollDataSource

    spark.dataSource.register(PollDataSource)
    reader = spark.readStream.format("cerebro_poll")
    for k, v in params.items():
        reader = reader.option(k, str(v))
    return reader.load()
