"""Sinks (SURVEY §2.2): parquet/Delta point store, multi-sink fan-out, and the
InfluxDB writer (feature-flagged — no server or client lib in CI).

Exactly-once: the parquet sink + checkpoint gives idempotent replay — an
upgrade over the reference, which logs-and-drops on write error
(`/root/reference/cerebro/observer.py:126-130`).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cerebro_spark.operators.util import small_df


def _read_marker(spark, path: str, *, absent_on_empty: bool = False):
    """Read a small marker parquet directory, returning ``None`` ONLY when
    it genuinely does not exist (``PATH_NOT_FOUND``) — every other failure
    (corrupt footer, permission, transient FS error) PROPAGATES so the
    micro-batch fails and foreachBatch retries it.

    The fail-soft alternative (bare ``except Exception`` → "first batch /
    no compaction yet") fail-OPENS on a transient read error: the batch
    would skip the near-dup probe entirely (dups stream into the survivor
    set) or re-probe a compaction-folded batch against its own folded
    fingerprints and drop its docs.  Retrying is always the safe move.

    ``absent_on_empty`` additionally maps ``UNABLE_TO_INFER_SCHEMA`` (the
    directory exists but holds no data files) to absent — correct ONLY for
    markers written LAST in their batch (a crash mid-first-batch leaves a
    torn params dir; the replay overwrites it), never for markers whose
    presence gates a destructive skip (``compacted_through``)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        get_cond = getattr(e, "getCondition", None) or getattr(
            e, "getErrorClass", None
        )
        cls = (get_cond() if get_cond else None) or ""
        msg = str(e)
        if "PATH_NOT_FOUND" in cls or "PATH_NOT_FOUND" in msg:
            return None
        if absent_on_empty and (
            "UNABLE_TO_INFER_SCHEMA" in cls or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return None
        raise


def _probe_roots(index_path: str, root: str, fact_dir: str) -> "list[str]":
    """Every index root the sink's probe must consult: the CURRENT
    generation plus any older generation / legacy flat tree still on disk.

    Why: between an online compaction's pointer flip and its
    reconciliation pass, a batch published to the OLD root may not yet be
    visible in the new one — probing only the new root would let that
    batch's near-dups slip through (the control-run divergence the
    concurrent pytest pins).  Old roots are read-only history, so probing
    them too makes the sink's dedup EXACTLY sequential at all times;
    duplicate matches across roots collapse in the probe's DISTINCT.
    ``prune_index_generations`` deletes the history (reconciliation made
    the current generation self-contained) and restores single-root
    probes."""
    import os
    import re

    if root == index_path:  # legacy flat layout, no history possible
        return [root]
    roots = [root]
    cur = int(re.match(r".*g=(\d+)$", root).group(1))
    for d in sorted(os.listdir(index_path)):
        m = re.match(r"g=(\d+)$", d)
        if (
            m
            and int(m.group(1)) < cur
            and os.path.isdir(os.path.join(index_path, d, "params"))
        ):
            roots.append(os.path.join(index_path, d))
    if os.path.isdir(os.path.join(index_path, fact_dir)):
        roots.append(index_path)  # pre-generation flat tree, not yet pruned
    return roots


def _mark_inflight(index_path: str, batch_id: int) -> None:
    """Drop a `.inflight/{batch}` marker so the online compactor can wait
    for every batch that resolved the PREVIOUS generation to finish before
    reconciling (the marker spans resolve -> post-append migration)."""
    import os

    d = os.path.join(index_path, ".inflight")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, str(batch_id)), "w") as f:
        f.write("1")


def _clear_inflight(index_path: str, batch_id: int) -> None:
    import contextlib
    import os

    with contextlib.suppress(OSError):
        os.remove(os.path.join(index_path, ".inflight", str(batch_id)))


def parquet_point_sink(batch_df: DataFrame, path: str) -> None:
    """Batch write of canonical points, partitioned by bucket/date — the
    queryable store behind `plans.client.CerebroClient`."""
    (
        batch_df.withColumn("date", F.to_date("time"))
        .write.mode("append")
        .partitionBy("bucket", "date")
        .parquet(path)
    )


def fan_out_sink(
    sinks: dict[str, Callable[[DataFrame, int], None]],
) -> Callable[[DataFrame, int], None]:
    """K4 — one ``foreachBatch`` function writing each micro-batch to every
    registered sink (the Rx Subject fan-out analog, reference
    `cerebro.py:245`; `observer.py:56-60`).  The batch is cached once so N
    sinks don't recompute the lineage N times."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for sink_fn in sinks.values():
                sink_fn(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return write


def points_to_line_protocol_dicts(rows) -> list[dict]:
    """Canonical point rows → influx write dicts (the contract shape the
    reference writes: measurement/tags/fields/time — `tools.py:394-399`).
    Pure function so the contract is testable without a server."""
    out = []
    for row in rows:
        fields: dict = {}
        for m in ("fields", "fields_str", "fields_bool"):
            v = row[m] if m in row.__fields__ else None
            if v:
                fields.update(v)
        point = {
            "measurement": row["measurement"],
            "tags": dict(row["tags"] or {}),
            "fields": fields,
        }
        if row["time"] is not None:
            point["time"] = row["time"]
        out.append(point)
    return out


def influxdb_writer(
    url: str,
    org: str,
    bucket_default: str,
    token_env: str = "INFLUXDB_V2_TOKEN",
    batch_points: int = 1000,
) -> Callable[[DataFrame, int], None]:
    """K2/K3 — foreachBatch sink writing points to InfluxDB v2.

    Mirrors the reference observer: token from env (`observer.py:101-105`),
    per-batch bucket routing with default (`observer.py:122-124`), batched
    writes of ``batch_points`` (`tools.py:354,402-411`).  Uses
    ``foreachPartition`` so executors write in parallel; the client import is
    inside the executor function and the sink degrades to a clear error when
    the optional dependency is missing (CI runs without it).
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        def write_partition(rows) -> None:
            import os

            try:
                from influxdb_client import InfluxDBClient  # type: ignore
            except ImportError as exc:  # pragma: no cover - optional dep
                raise RuntimeError(
                    "influxdb-client not installed; influxdb_writer is "
                    "feature-flagged off in this environment"
                ) from exc

            token = os.environ.get(token_env, "")
            with InfluxDBClient(url=url, token=token, org=org) as client:
                api = client.write_api()
                buf: dict[str, list[dict]] = {}
                for row in rows:
                    bucket = row["bucket"] or bucket_default
                    buf.setdefault(bucket, []).append(row)
                    if len(buf[bucket]) >= batch_points:
                        api.write(
                            bucket=bucket,
                            record=points_to_line_protocol_dicts(buf.pop(bucket)),
                        )
                for bucket, rows_left in buf.items():
                    api.write(
                        bucket=bucket,
                        record=points_to_line_protocol_dicts(rows_left),
                    )

        batch_df.foreachPartition(write_partition)

    return write


def to_line_protocol(df: DataFrame, precision: str = "us") -> DataFrame:
    """Serialize canonical points to InfluxDB line protocol strings
    (``measurement,tag=v field=v ts`` — the text form of the reference's
    write payload).  Pure column expressions; escaping per the line-protocol
    spec (commas/spaces/equals in measurement/tags, quotes in string fields).

    Returns a single-column ``line`` DataFrame suitable for any text sink.
    """
    esc_m = lambda c: F.regexp_replace(F.regexp_replace(c, r"([,\s])", r"\\$1"), "", "")
    esc_kv = lambda c: F.regexp_replace(c, r"([,=\s])", r"\\$1")

    tag_part = F.concat_ws(
        ",",
        F.transform(
            F.map_entries(F.coalesce(F.col("tags"), F.create_map())),
            lambda e: F.concat(esc_kv(e.key), F.lit("="), esc_kv(e.value)),
        ),
    )
    num_fields = F.transform(
        F.map_entries(F.coalesce(F.col("fields"), F.create_map())),
        lambda e: F.concat(esc_kv(e.key), F.lit("="), e.value.cast("string")),
    )
    str_fields = F.transform(
        F.map_entries(F.coalesce(F.col("fields_str"), F.create_map())),
        lambda e: F.concat(
            esc_kv(e.key),
            F.lit('="'),
            F.regexp_replace(e.value, '"', '\\\\"'),
            F.lit('"'),
        ),
    )
    bool_fields = F.transform(
        F.map_entries(F.coalesce(F.col("fields_bool"), F.create_map())),
        lambda e: F.concat(
            esc_kv(e.key), F.lit("="), F.when(e.value, "true").otherwise("false")
        ),
    )
    field_part = F.concat_ws(
        ",", F.flatten(F.array(num_fields, str_fields, bool_fields))
    )
    assert precision in ("us", "ns")
    ts = F.unix_micros(F.col("time"))
    if precision == "ns":
        ts = ts * 1000
    line = F.concat(
        esc_m(F.col("measurement")),
        F.when(tag_part != "", F.concat(F.lit(","), tag_part)).otherwise(F.lit("")),
        F.lit(" "),
        field_part,
        F.when(
            F.col("time").isNotNull(), F.concat(F.lit(" "), ts.cast("string"))
        ).otherwise(F.lit("")),
    )
    return df.filter(field_part != "").select(line.alias("line"))


def idempotent_parquet_sink(path: str):
    """foreachBatch sink writing each micro-batch to ``path/batch_id=N`` with
    dynamic overwrite — a retried batch replaces its own output instead of
    appending duplicates.  checkpoint + idempotent writes = exactly-once
    (the upgrade over the reference's log-and-drop error handling,
    `observer.py:126-130`)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("date", F.to_date("time"))
            .write.mode("overwrite")
            .parquet(f"{path}/batch_id={batch_id}")
        )

    return write


def keyed_upsert_sink(
    path: str,
    key_cols: list[str],
    ts_col: str = "time",
    n_buckets: int = 64,
):
    """CDC-style merge into a keyed parquet store WITHOUT a transactional
    table format: rows are hash-bucketed by key into ``__bucket`` partitions;
    each micro-batch rewrites ONLY the buckets it touches (read-modify-write
    + dynamic partition overwrite), keeping the latest ``ts_col`` row per key
    (batch rows win ties — an upsert, not append).

    Scale shape: I/O per batch is proportional to the touched buckets, not
    the store (``n_buckets`` bounds rewrite amplification — a batch updating
    K keys rewrites ≤ min(K, n_buckets) partitions), and SHUFFLE per batch
    stays cheap: only rows whose key appears in the batch enter the
    latest-version window (broadcast semi/anti key split — no store-sized
    sort); rewritten rows take one sort-free hash repartition that doubles
    as inline per-bucket compaction (one file per bucket per merge).  On a real deployment
    with Delta/Iceberg available, MERGE INTO replaces this sink 1:1 — the
    bucketing column doubles as the table's cluster key.  Retried batches
    converge to the same store state (last-writer-ties-to-batch), so the
    sink composes with checkpointed exactly-once.

    Reference analog: the upgrade over the reference's append-only InfluxDB
    writes (`observer.py:95-130`), which delegate upsert semantics to the
    TSDB's (measurement, tags, time) last-write-wins.
    """
    import os

    from pyspark.sql import Window

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bucket = F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")
        incoming = batch_df.withColumn("__bucket", bucket)
        touched = [
            r["__bucket"]
            for r in incoming.select("__bucket").distinct().collect()
        ]
        if not touched:
            return
        # dedup the batch itself to its latest row per key (a window over
        # BATCH rows only — micro-batch-sized, not store-sized).  Same-key
        # same-ts rows (coarse-timestamp CDC emits these) break ties by a
        # hash of the whole row, NOT partition order: a checkpoint-recovery
        # replay may split files differently, and retry convergence demands
        # the same winner both times.
        row_tie = F.xxhash64(*[F.col(c) for c in batch_df.columns]).desc()
        wb = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).desc(), row_tie)
        b = (
            incoming.withColumn("__rn", F.row_number().over(wb))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("__from_batch", F.lit(1))
        )
        if os.path.isdir(path):
            existing = spark.read.parquet(path).filter(
                F.col("__bucket").isin(touched)
            )
            # Only rows whose key appears in the batch need the versus-batch
            # comparison; everything else in the touched buckets passes
            # through scan→write with NO shuffle.  The batch key set is
            # micro-batch-sized → broadcast semi/anti joins.
            keys = F.broadcast(b.select(*key_cols).distinct())
            e_rest = existing.join(keys, key_cols, "left_anti")
            e_hit = existing.join(keys, key_cols, "left_semi").withColumn(
                "__from_batch", F.lit(0)
            )
            wk = Window.partitionBy(*key_cols).orderBy(
                F.col(ts_col).desc(), F.col("__from_batch").desc(), row_tie
            )
            winner = (
                e_hit.unionByName(b)
                .withColumn("__rn", F.row_number().over(wk))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__from_batch")
            )
            latest = e_rest.unionByName(winner)
        else:
            latest = b.drop("__from_batch")
        # one file per touched bucket: without this, every merge leaves
        # task-count files per bucket and the store degrades into the
        # small-file regime (store_health's flag) — the repartition is a
        # shuffle of REWRITTEN rows only and doubles as inline compaction.
        latest = latest.repartition(len(touched), F.col("__bucket"))
        latest.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("__bucket").parquet(path)

    return write


def neardup_filter_sink(
    index_path: str,
    out_path: str,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    grow_index: bool = True,
):
    """Online near-duplicate filter for a document ingest stream: each
    micro-batch is (1) exact-deduped within itself (content digest,
    min-id survivor), (2) probed against the persisted MinHash-LSH index
    (``dedup.build_lsh_index`` layout) and stripped of docs whose estimated
    Jaccard vs ANY indexed doc reaches ``threshold``, (3) appended to
    ``out_path``, and (4, ``grow_index``) its survivors' signatures and
    band buckets are appended to the index — so batch N+1 dedups against
    everything batches 1..N kept, with NO re-shingling of the corpus.

    Scale shape per batch: the batch side is broadcast into the bucket
    probe (the index fact side is read band-partition-pruned), signature
    verification joins only the collision set, and the index grows
    append-only (band-partitioned parquet — compaction is the store's
    normal small-file maintenance).  State lives entirely in the index
    directory, not executor memory, so the stream restarts cheaply and the
    filter's memory is O(batch), never O(corpus).

    The training-data twin of ``streaming_dedup`` (exact, watermark-bounded
    state): THIS filter is approximate, unbounded-horizon, and shares its
    index with batch pipelines (``query_lsh_index`` online lookups see the
    streamed docs immediately).

    Intra-batch semantics (CONTRACT, not an accident of the replay guard):
    within one micro-batch only EXACT duplicates (content digest) are
    collapsed; two near-duplicate docs arriving in the same batch BOTH
    survive and both enter the index.  The probe deliberately sees only
    prior batches — that is what makes at-least-once replay converge (a
    replayed batch can never be dropped by its own fingerprints) — so
    intra-batch near-dedup belongs to the batch pair operators
    (``dedup.minhash_lsh_pairs``), not this sink.  Pinned by
    ``test_neardup_filter_across_batches`` (doc 7).

    Replay contract: every write lands in a per-batch ``__batch=N``
    directory (output, signatures, band buckets) overwritten on replay, and
    the params marker is written LAST on the first batch — so at-least-once
    foreachBatch retries converge to the same store/index state.  The sink
    therefore OWNS its index layout (``buckets/__batch=N/band=M``): point it
    at a fresh directory, not at a ``build_lsh_index`` index (whose
    ``buckets/band=M`` layout has a different partition depth — mixing the
    two fails loudly at read time with conflicting directory structures).

    ONLINE compaction (``compact_neardup_index_online``) may run while the
    stream is live — generation pointer resolved once per batch, mid-batch
    flips self-migrate, and the probe consults every still-on-disk root
    during the transition window (the ``media_neardup_filter_sink``
    contract, shared machinery).
    """
    from cerebro_spark.operators.dedup import (
        band_buckets,
        minhash_signatures,
        query_lsh_index,
    )

    rows = num_hashes // bands

    def write(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        from cerebro_spark.operators.util import (
            resolve_index_root,
            write_batch_dir,
        )

        spark = batch_df.sparkSession
        # resolve the generation ONCE: probe, ct check, and appends all use
        # one consistent root even if the online compactor flips mid-batch
        # (the post-append migration loop below handles the flip)
        root = resolve_index_root(index_path)
        _mark_inflight(index_path, batch_id)
        try:
            # a batch already folded into a compacted __batch=0 generation
            # is fully committed — a replay must be a FULL no-op: the fold
            # collapsed its own entries into __batch=0 < N, so re-probing
            # would see them (the before_batch guard can no longer exclude
            # them) and wrongly drop its docs.  Fail-CLOSED marker read.
            ct_df = _read_marker(spark, f"{root}/compacted_through")
            if ct_df is not None:
                if batch_id <= ct_df.collect()[0]["through_batch"]:
                    return
            # (1) intra-batch exact dedup, deterministic min-id survivor
            w_digest = F.md5(F.col(content_col))
            batch = (
                batch_df.withColumn("__d", w_digest)
                .withColumn(
                    "__rn",
                    F.row_number().over(
                        Window.partitionBy("__d").orderBy(id_col)
                    ),
                )
                .filter(F.col("__rn") == 1)
                .drop("__d", "__rn")
            )
            # fail-CLOSED marker read: only a genuinely absent params dir
            # means "first batch"; a transient read error propagates and the
            # batch retries instead of silently skipping the probe
            params_df = _read_marker(
                spark, f"{root}/params", absent_on_empty=True
            )
            have_index = params_df is not None and bool(params_df.head(1))
            if have_index:
                # (2) strip near-dups of already-kept docs — probing EVERY
                # still-on-disk root (current generation + unpruned
                # history) so a compaction transition window never hides a
                # recent batch from the probe (see _probe_roots)
                from cerebro_spark.operators.dedup import _query_lsh_root

                matches = None
                for pr in _probe_roots(index_path, root, "buckets"):
                    m_ = _query_lsh_root(
                        spark, pr, batch,
                        content_col=content_col, id_col=id_col,
                        n=n, num_hashes=num_hashes, bands=bands,
                        threshold=threshold,
                        # replay guard: probe the exact index state the
                        # first run saw — this batch's own entries (incl.
                        # an intra-batch near-dup partner) never drop its
                        # docs on retry (the media twin's __batch < N rule)
                        before_batch=batch_id,
                    ).select(F.col("probe_id").alias(id_col))
                    matches = (
                        m_ if matches is None else matches.unionByName(m_)
                    )
                matches = matches.distinct()
                kept = batch.join(matches, id_col, "left_anti")
            else:
                kept = batch
            kept = kept.persist()
            try:
                # (3) emit survivors into a per-batch directory: an
                # at-least-once foreachBatch REPLAY overwrites the same
                # directory instead of appending duplicates (the replayed
                # docs would NOT be caught by the probe — a doc is never a
                # near-dup of itself, query_lsh_index excludes
                # id == probe_id).  Same replay-idempotent layout as
                # idempotent_parquet_sink.
                kept.write.mode("overwrite").parquet(
                    f"{out_path}/__batch={batch_id}"
                )
                if not grow_index:
                    return
                # (4) extend the index with the survivors — per-batch dirs
                # published ATOMICALLY (write_batch_dir: hidden temp +
                # rename; presence implies completeness, so a replay or a
                # concurrent compactor reconciliation simply skips a batch
                # someone already published — facts are deterministic).
                # Folded batches already full-no-op'd at batch start.
                sig = minhash_signatures(
                    kept, content_col, id_col, n, num_hashes
                ).persist()

                def publish(to_root: str) -> None:
                    # the two per-batch dirs are independent (both derive
                    # from the persisted sig frame, land in distinct paths,
                    # and each publishes atomically) — run them as two
                    # concurrent driver-thread jobs so the second write's
                    # tasks back-fill the first's tail (guide §2.6) instead
                    # of paying two sequential job round-trips per batch
                    from concurrent.futures import ThreadPoolExecutor

                    with ThreadPoolExecutor(max_workers=2) as pool:
                        fa = pool.submit(
                            write_batch_dir,
                            sig,
                            f"{to_root}/signatures/__batch={batch_id}",
                        )
                        fb = pool.submit(
                            write_batch_dir,
                            band_buckets(sig, bands, rows).repartition(
                                bands, "band"
                            ),
                            f"{to_root}/buckets/__batch={batch_id}",
                            partition_by="band",
                        )
                        fa.result()
                        fb.result()

                publish(root)
                # params marker LAST: its presence implies signatures +
                # buckets exist, so a crash mid-first-batch leaves
                # have_index=False and the replay rebuilds the same dirs
                if not have_index:
                    small_df(
                        spark,
                        [(n, num_hashes, bands)],
                        "n int, num_hashes int, bands int",
                    ).write.mode("overwrite").parquet(f"{root}/params")
                # post-append migration: if the online compactor flipped
                # the generation while this batch ran, republish into the
                # new generation (skip-if-exists makes repeats cheap) so
                # the flip can never lose this batch's facts — unless the
                # fold already absorbed it (batch_id <= new ct)
                new_root = resolve_index_root(index_path)
                while new_root != root:
                    root = new_root
                    ct_df = _read_marker(spark, f"{root}/compacted_through")
                    ct = (
                        -1 if ct_df is None
                        else ct_df.collect()[0]["through_batch"]
                    )
                    if batch_id <= ct:
                        break
                    publish(root)
                    new_root = resolve_index_root(index_path)
                sig.unpersist()
            finally:
                kept.unpersist()
        finally:
            _clear_inflight(index_path, batch_id)

    return write


def media_neardup_filter_sink(
    index_path: str,
    out_path: str,
    fingerprint: "Callable[[DataFrame], DataFrame] | None" = None,
    content_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
    blocks: int = 4,
    max_hamming: int = 3,
    grow_index: bool = True,
):
    """Online PERCEPTUAL near-duplicate filter for a media ingest stream —
    the modality-agnostic twin of ``neardup_filter_sink`` (MinHash/text):
    each micro-batch is (1) exact-deduped within itself (payload digest,
    min-id survivor), (2) fingerprinted with the stateless ``fingerprint``
    stage (default ``byte_dhash_df``; pass ``image_dhash_df`` /
    ``audio_fingerprint_df``-shaped callables for binary payloads — the
    callable must return ``(id, dhash)``), (3) probed against the persisted
    pigeonhole Hamming index and stripped of docs within ``max_hamming`` of
    ANY prior survivor, (4) appended to ``out_path``, and (5, ``grow_index``)
    its survivors' fingerprints and band segments appended to the index —
    so batch N+1 dedups against everything batches 1..N kept, with NO
    re-fingerprinting of the corpus.

    Scale shape per batch: the batch side is broadcast into the band probe
    (the index fact side is read blk-partition-pruned and only colliding
    (blk, seg) buckets are touched), and the index grows append-only
    (band-partitioned parquet).  State lives in the index directory, not
    executor memory — O(batch) memory, O(colliding buckets) index I/O.

    Fail-soft composition: a row whose fingerprint is NULL (corrupt /
    undecodable media under the fingerprint stage's ``on_error='null'``)
    passes the filter UNINDEXED — it is kept (quarantine-and-count is the
    downstream's call), but can never absorb future near-dups.

    Intra-batch semantics (CONTRACT, not an accident of the replay guard):
    within one micro-batch only EXACT duplicates (payload digest) are
    collapsed; two PERCEPTUAL near-dup payloads arriving in the same batch
    BOTH survive and both enter the index.  The probe deliberately sees
    only ``__batch < N`` — that is what makes at-least-once replay converge
    (a replayed batch can never be dropped by its own fingerprints) — so
    intra-batch perceptual dedup belongs to the batch pair operators
    (``multimodal.hamming_hash_pairs``), not this sink.  Pinned by
    ``test_media_sink_replay_idempotent_with_intra_batch_neardups``.

    Replay contract (at-least-once foreachBatch): every write lands in a
    per-batch ``__batch=N`` directory overwritten on replay, the params
    marker is written LAST on the first batch, and — the part the layout
    exists for — the probe reads ONLY ``__batch < N`` index partitions, so
    a replayed batch probes the exact index state its first run saw (its
    own just-appended fingerprints can never drop its own docs on retry).
    The sink therefore OWNS its index layout (``bands/__batch=N/blk=M``);
    pointing it at a ``build_hamming_index`` store (``bands/blk=M``, no
    batch depth) fails loudly at read time, and vice versa.
    ``query_hamming_index`` CAN read this sink's index (the extra
    ``__batch`` partition column is ignored by the probe join), so batch
    pipelines see streamed survivors immediately.

    ONLINE compaction (``compact_media_index_online``) may run while the
    stream is live: the index root then carries a ``GENERATION`` pointer,
    the sink resolves it once per batch, republishes into the new
    generation if a flip lands mid-batch, and probes every still-on-disk
    root during the transition window (``_probe_roots``) so dedup stays
    exactly sequential throughout."""
    from cerebro_spark.operators.multimodal import (
        _check_pigeonhole_recall,
        _hash_bands,
        byte_dhash_df,
    )

    _check_pigeonhole_recall(max_hamming, blocks, False)
    if fingerprint is None:
        def fingerprint(d: DataFrame) -> DataFrame:
            return byte_dhash_df(d, content_col=content_col, id_col=id_col)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        from cerebro_spark.operators.util import (
            resolve_index_root,
            write_batch_dir,
        )

        # resolve the generation ONCE per batch: ct check, probe, and
        # appends use one consistent root; the post-append migration loop
        # handles an online compactor flipping mid-batch
        root = resolve_index_root(index_path)
        _mark_inflight(index_path, batch_id)
        try:
            # a batch already folded into the compacted __batch=0
            # generation is fully committed — a replay must be a NO-OP:
            # re-probing would see the batch's OWN folded fingerprints
            # (0 < N) and wrongly drop its docs, and re-appending bands
            # would duplicate index facts.  Fail-CLOSED: only true absence
            # reads as "no compaction yet"
            ct_df = _read_marker(spark, f"{root}/compacted_through")
            if ct_df is not None:
                ct = ct_df.collect()[0]["through_batch"]
                if batch_id <= ct:
                    return
            # (1) intra-batch exact dedup, deterministic min-id survivor
            batch = (
                batch_df.withColumn("__d", F.md5(F.col(content_col)))
                .withColumn(
                    "__rn",
                    F.row_number().over(
                        Window.partitionBy("__d").orderBy(id_col)
                    ),
                )
                .filter(F.col("__rn") == 1)
                .drop("__d", "__rn")
            )
            # (2) stateless fingerprints for the whole batch
            fps = fingerprint(batch).select("id", "dhash").persist()
            try:
                # fail-CLOSED params read: only a genuinely absent marker
                # means "first batch, no index yet" — a transient read
                # error propagates (fail-open would skip the Hamming probe
                # and stream near-dups into the survivor set)
                params_df = _read_marker(
                    spark, f"{root}/params", absent_on_empty=True
                )
                have_index = params_df is not None
                if have_index:
                    p = params_df.first()
                    if (p["bits"], p["blocks"]) != (bits, blocks):
                        raise ValueError(
                            f"index at {index_path} was built with "
                            f"bits={p['bits']}, blocks={p['blocks']}; sink "
                            f"configured bits={bits}, blocks={blocks}"
                        )
                if have_index:
                    # (3) probe ONLY prior batches' partitions (a replay of
                    # batch N must see the index state its first run saw),
                    # across EVERY still-on-disk root — a compaction
                    # transition window never hides a recent batch from
                    # the probe (see _probe_roots)
                    pseg = _hash_bands(
                        fps.filter(F.col("dhash").isNotNull()),
                        "dhash", "id", bits, blocks,
                    ).select(
                        F.col("id").alias("probe_id"), F.col("h").alias("ph"),
                        "blk", "seg",
                    )
                    matched = None
                    for pr in _probe_roots(index_path, root, "bands"):
                        bands = spark.read.parquet(f"{pr}/bands").filter(
                            F.col("__batch") < batch_id
                        )
                        m_ = (
                            bands.join(F.broadcast(pseg), ["blk", "seg"])
                            .filter(
                                F.bit_count(F.expr("h ^ ph")) <= max_hamming
                            )
                            .select(F.col("probe_id").alias(id_col))
                        )
                        matched = (
                            m_ if matched is None
                            else matched.unionByName(m_)
                        )
                    matched = matched.distinct()
                    kept = batch.join(matched, id_col, "left_anti")
                else:
                    kept = batch
                kept = kept.persist()
                try:
                    # (4) per-batch survivor directory: replay overwrites
                    kept.write.mode("overwrite").parquet(
                        f"{out_path}/__batch={batch_id}"
                    )
                    if not grow_index:
                        return
                    # (5) survivors' fingerprints + band segments —
                    # published ATOMICALLY per batch (write_batch_dir:
                    # hidden temp + rename; presence implies completeness,
                    # so replays and the compactor's reconciliation skip a
                    # batch someone already published)
                    kfps = fps.join(
                        kept.select(F.col(id_col).alias("id")),
                        "id",
                        "left_semi",
                    ).filter(F.col("dhash").isNotNull()).persist()

                    def publish(to_root: str) -> None:
                        # independent per-batch dirs from the persisted
                        # kfps frame — two concurrent driver-thread jobs
                        # (guide §2.6), same as the text sink's publish
                        from concurrent.futures import ThreadPoolExecutor

                        with ThreadPoolExecutor(max_workers=2) as pool:
                            fa = pool.submit(
                                write_batch_dir,
                                kfps,
                                f"{to_root}/fps/__batch={batch_id}",
                            )
                            fb = pool.submit(
                                write_batch_dir,
                                _hash_bands(
                                    kfps, "dhash", "id", bits, blocks
                                ).repartition(blocks, "blk"),
                                f"{to_root}/bands/__batch={batch_id}",
                                partition_by="blk",
                            )
                            fa.result()
                            fb.result()

                    publish(root)
                    # params marker LAST: its presence implies bands exist,
                    # so a crash mid-first-batch replays as "no index yet"
                    if not have_index:
                        small_df(
                            spark, [(bits, blocks)], "bits int, blocks int"
                        ).write.mode("overwrite").parquet(f"{root}/params")
                    # post-append migration: a generation flip mid-batch
                    # can never lose this batch — republish into the new
                    # root unless the fold already absorbed it
                    new_root = resolve_index_root(index_path)
                    while new_root != root:
                        root = new_root
                        ct_df = _read_marker(
                            spark, f"{root}/compacted_through"
                        )
                        ct = (
                            -1 if ct_df is None
                            else ct_df.collect()[0]["through_batch"]
                        )
                        if batch_id <= ct:
                            break
                        publish(root)
                        new_root = resolve_index_root(index_path)
                    kfps.unpersist()
                finally:
                    kept.unpersist()
            finally:
                fps.unpersist()
        finally:
            _clear_inflight(index_path, batch_id)

    return write


# ---------------------------------------------------------------------------
# ONLINE index compaction (r11): generation-pointer layout — compact WHILE
# the ingest stream keeps running, no maintenance window
# ---------------------------------------------------------------------------

def _list_batches(fact_dir: str) -> "set[int]":
    import os
    import re

    if not os.path.isdir(fact_dir):
        return set()
    return {
        int(m.group(1))
        for d in os.listdir(fact_dir)
        for m in [re.match(r"__batch=(\d+)$", d)]
        if m
    }


def _wait_inflight(index_path: str, timeout: float) -> "list[str]":
    """Block until every sink batch that resolved the PREVIOUS generation
    has finished its post-append migration check (the `.inflight` markers
    drain).  Returns the markers still present at timeout — stale markers
    from a crashed sink process; reconciliation proceeds anyway (the
    crashed batch replays from its checkpoint and self-migrates)."""
    import os
    import time

    d = os.path.join(index_path, ".inflight")
    deadline = time.time() + timeout
    while time.time() < deadline:
        if not os.path.isdir(d) or not os.listdir(d):
            return []
        time.sleep(0.1)
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def _publish_copy(src: str, dest: str) -> None:
    """Reconciliation copy with the same atomic-publish contract as
    ``util.write_batch_dir``: copy to a hidden temp sibling, rename into
    place, discard if someone (a replaying/migrating sink) won the race —
    contents are deterministic, so the winner's copy is equivalent."""
    import os
    import shutil
    import uuid

    if os.path.exists(dest):
        return
    parent, name = os.path.split(dest.rstrip("/"))
    os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(parent, f".tmp-{name}-{uuid.uuid4().hex[:8]}")
    shutil.copytree(src, tmp)
    try:
        os.rename(tmp, dest)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def _compact_index_online(
    spark,
    index_path: str,
    fact_dirs: "dict[str, tuple[list[str], str | None, int]]",
    inflight_timeout: float,
    prune_old: bool,
) -> int:
    """Shared generation-fold machinery: fold the CURRENT generation's
    per-batch fact dirs into ``g=N+1/__batch=0``, flip the pointer
    atomically, wait for in-flight batches to drain, then reconcile any
    batch dirs that landed in the old generation after the fold listing.

    ``fact_dirs`` maps fact-dir name -> (dedup key columns, partition
    column or None, target partition/file count).  Returns the new
    generation number.

    Why no batch can be lost (the correctness argument, each case by the
    order of events around the pointer flip at time T):
    - batch folded (listed before the fold read): in ``__batch=0``, and
      its replay is a no-op via ``compacted_through``;
    - batch whose post-append migration check ran AFTER T: it sees the new
      generation and republishes itself (atomic skip-if-exists);
    - batch whose check ran BEFORE T: its appends completed before the
      check, hence before T, hence before the post-drain reconciliation
      listing — which copies it over.
    Concurrent publishers of the same batch dir are safe by construction:
    every publish is hidden-temp + atomic rename, facts are deterministic,
    exactly one rename wins."""
    import os
    import shutil

    from cerebro_spark.operators.util import (
        flip_index_generation,
        read_index_generation,
        resolve_index_root,
    )

    root = resolve_index_root(index_path)
    gen = read_index_generation(index_path) or 0
    new_root = os.path.join(index_path, f"g={gen + 1}")
    shutil.rmtree(new_root, ignore_errors=True)  # stale failed attempt

    # snapshot the fold set FIRST, then read exactly those dirs — a batch
    # publishing between listing and read must NOT silently enter the fold
    # (its replay guard depends on compacted_through covering it).
    # Fold ONLY batches complete in EVERY fact dir and below the first
    # PARTIAL batch (published in some dirs, crashed before the rest):
    # folding a partial batch one-sided while compacted_through covers it
    # would no-op its replay and lose the missing facts forever — leaving
    # it above the fold point lets the checkpoint replay republish it and
    # the reconciliation pass carry what did land.
    per_dir = {
        name: _list_batches(f"{root}/{name}") for name in fact_dirs
    }
    complete = set.intersection(*per_dir.values())
    partial = set.union(*per_dir.values()) - complete
    if partial:
        cutoff = min(partial)
        folded = {b for b in complete if b < cutoff}
    else:
        folded = complete
    if not folded:
        raise ValueError(
            f"nothing safely foldable under {root} "
            f"(complete={sorted(complete)}, partial={sorted(partial)})"
        )
    max_batch = max(folded)
    for name, (keys, part_col, n_out) in fact_dirs.items():
        batches = sorted(_list_batches(f"{root}/{name}") & folded)
        # explicit batch paths (NOT the parent dir): a batch publishing
        # between the fold listing and this read must not silently enter
        # the fold — compacted_through has to cover everything folded.
        # basePath keeps partition discovery consistent across the paths.
        df = (
            spark.read.option("basePath", f"{root}/{name}")
            .parquet(*[f"{root}/{name}/__batch={b}" for b in batches])
            .drop("__batch")
            .dropDuplicates(keys)
        )
        w = (
            df.repartition(n_out, part_col)
            if part_col
            else df.repartition(n_out)
        ).write.mode("overwrite")
        if part_col:
            w = w.partitionBy(part_col)
        w.parquet(f"{new_root}/{name}/__batch=0")
    spark.read.parquet(f"{root}/params").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{new_root}/params")
    small_df(
        spark, [(max_batch,)], "through_batch long"
    ).write.mode("overwrite").parquet(f"{new_root}/compacted_through")

    flip_index_generation(index_path, gen + 1)
    _wait_inflight(index_path, inflight_timeout)
    # reconcile: batches that landed in the OLD root after the fold
    # listing and whose sink saw the old pointer (completed before the
    # flip) — anything later self-migrates
    for name in fact_dirs:
        for b in sorted(_list_batches(f"{root}/{name}") - folded):
            _publish_copy(
                f"{root}/{name}/__batch={b}",
                f"{new_root}/{name}/__batch={b}",
            )
    if prune_old:
        prune_index_generations(index_path)
    return gen + 1


def compact_neardup_index_online(
    spark,
    index_path: str,
    target_files: int = 8,
    inflight_timeout: float = 120.0,
    prune_old: bool = False,
):
    """ONLINE compaction for a ``neardup_filter_sink`` index: fold every
    per-batch directory into one consolidated generation and flip the
    ``GENERATION`` pointer — the stream KEEPS RUNNING.  Probe
    results are unchanged: readers resolve the pointer per operation, the
    fold preserves the fact set (deduplicated), and the three-case
    argument in ``_compact_index_online`` shows no concurrent batch can be
    lost.  Old generations are kept unless ``prune_old`` (prune from a
    quiet moment: a probe that resolved the old root mid-prune fails and
    retries).  LOCAL filesystem paths (POSIX rename); on an object store,
    generations are plain prefixes and the pointer file is the swap."""
    n_bands = int(
        spark.read.parquet(
            f"{_resolve(index_path)}/params"
        ).collect()[0]["bands"]
    )
    return _compact_index_online(
        spark,
        index_path,
        {
            "signatures": (["id"], None, target_files),
            "buckets": (["id", "band", "bucket"], "band", n_bands),
        },
        inflight_timeout,
        prune_old,
    )


def compact_media_index_online(
    spark,
    index_path: str,
    target_files: int = 8,
    inflight_timeout: float = 120.0,
    prune_old: bool = False,
):
    """ONLINE compaction for a ``media_neardup_filter_sink`` index — the
    media twin of ``compact_neardup_index_online`` (same generation-pointer
    protocol, same no-lost-batch argument)."""
    n_blocks = int(
        spark.read.parquet(
            f"{_resolve(index_path)}/params"
        ).collect()[0]["blocks"]
    )
    return _compact_index_online(
        spark,
        index_path,
        {
            "fps": (["id"], None, target_files),
            "bands": (["id", "blk", "seg"], "blk", n_blocks),
        },
        inflight_timeout,
        prune_old,
    )


def _resolve(index_path: str) -> str:
    from cerebro_spark.operators.util import resolve_index_root

    return resolve_index_root(index_path)


def prune_index_generations(index_path: str) -> "list[str]":
    """Remove every generation tree older than the current pointer (and the
    legacy flat fact dirs if the store has been folded into generations).
    Run from a quiet moment: a reader that resolved an old root before the
    prune fails loudly mid-read and retries against the current pointer —
    nothing is silently wrong, but the retry is avoidable by pruning when
    no probes are in flight.  Returns the removed paths."""
    import os
    import re
    import shutil

    from cerebro_spark.operators.util import read_index_generation

    gen = read_index_generation(index_path)
    if gen is None:
        return []
    removed = []
    for d in os.listdir(index_path):
        m = re.match(r"g=(\d+)$", d)
        if m and int(m.group(1)) < gen:
            shutil.rmtree(os.path.join(index_path, d))
            removed.append(os.path.join(index_path, d))
    for legacy in (
        "signatures", "buckets", "fps", "bands", "params",
        "compacted_through",
    ):
        p = os.path.join(index_path, legacy)
        if os.path.isdir(p):
            shutil.rmtree(p)
            removed.append(p)
    return removed
