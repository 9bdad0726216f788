"""Structured Streaming variants of the engine's windowed/stateful
operators (SURVEY.md §2.9 lists streaming as absent in the reference —
this is the scale-path extension, §7 phase 4).

Batch/stream parity: each streaming op has the same semantics as a
batch op in this repo, so correctness is asserted as
``stream(availableNow) == batch`` in tests/test_streaming.py.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.window import Window

from the_framework_for_clustering_time_series_data_spark.functions.plan_tools import stage_checkpoint
from the_framework_for_clustering_time_series_data_spark.operators import dedup
from the_framework_for_clustering_time_series_data_spark.operators.cluster import (
    deterministic_lloyd_assign,
    md5_lloyd,
)
from the_framework_for_clustering_time_series_data_spark.operators.similarity import (
    _ivf_probe_scored,
    _r6_corpus,
    assign_cells_frozen,
    sq8_encode,
    sq8_rank,
    sq8_scales,
)


def windowed_value_stats(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Sliding event-time window stats (A1 over time windows): count,
    min, max, mean, RMS per (event_type, window).

    Works identically on a batch DataFrame (no watermark applied) and a
    streaming one (watermark bounds state; late rows beyond it drop).
    """
    if events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    v = F.col(value_col)
    return (
        events.groupBy(F.window(ts_col, window, slide).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min(v), 6).alias("v_min"),
            F.round(F.max(v), 6).alias("v_max"),
            F.round(F.avg(v), 6).alias("v_mean"),
            F.round(F.sqrt(F.avg(v * v)), 6).alias("v_rms"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "v_min",
            "v_max",
            "v_mean",
            "v_rms",
        )
    )


def running_series_stats(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    key_col: str = "user_id",
    timeout_minutes: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-series running (count, mean, M2) — Welford's online variance —
    emitting the cumulative stats after every micro-batch.

    This is the pattern the reference's global-normalization stage
    needs in a streaming deployment: incremental moments instead of a
    full re-scan (app.py:187-192 recomputes from scratch each call).
    """

    def update(key, pdfs, state):
        moments, row = _welford_fold(
            key[0], state.get if state.exists else None, pdfs, value_col
        )
        state.update(moments)
        yield row

    return (
        events.select(F.col(key_col).cast("long").alias("_k"), F.col(value_col))
        .groupBy("_k")
        .applyInPandasWithState(
            update,
            outputStructType=_MOMENTS_OUT,
            stateStructType=_MOMENTS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_MOMENTS_OUT = "series_id long, n long, mean double, var_pop double"
_MOMENTS_STATE = "n long, mean double, m2 double"


def _welford_fold(sid, moments, pdfs, value_col: str):
    """The running-moments fold both stateful APIs share
    (:func:`running_series_stats`, :func:`running_series_stats_tws`):
    fold every value of ``pdfs`` into the (n, mean, M2) ``moments``
    (None = a new series) with Welford's update, and return the new
    moments with the one output row (rounded mean and population
    variance)."""
    n, mean, m2 = moments or (0, 0.0, 0.0)
    for pdf in pdfs:
        for v in pdf[value_col].astype(float):
            n += 1
            d = v - mean
            mean += d / n
            m2 += d * (v - mean)
    row = pd.DataFrame(
        [
            {
                "series_id": sid,
                "n": n,
                "mean": round(mean, 6),
                "var_pop": round(m2 / n, 6) if n else 0.0,
            }
        ]
    )
    return (n, mean, m2), row


def read_events_stream(spark, source_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over parquet event files (one file per
    micro-batch by default) with the same schema normalization as the
    batch ``events`` source (ns timestamps → µs)."""
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(source_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    if isinstance(schema["ts"].dataType, LongType):
        # driver-testdata layout: TIMESTAMP(NANOS) read as long
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        # native parquet timestamp[us] layout (TIMESTAMP_NTZ on read)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def streaming_dedup(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact deduplication: at-most-once per key within the
    watermark horizon (``dropDuplicatesWithinWatermark`` keeps state
    bounded — the batch analogue is operators.dedup.exact_dedup).
    On a batch frame this degrades to plain dropDuplicates."""
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(key_cols)
        )
    return events.dropDuplicates(list(key_cols))


def streaming_sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming gap-based sessionization via ``session_window`` — the
    event-time twin of operators.joins.sessionize (same gap semantics;
    window closes when no event arrives within ``gap``). State is
    bounded by the watermark; output rows are (key, session start/end,
    n_events, value_sum)."""
    if events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    return (
        events.groupBy(F.session_window(ts_col, gap).alias("sw"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(value_col), 6).alias("value_sum"),
        )
        .select(
            F.col(key_col),
            F.col("sw.start").cast("long").alias("sess_start"),
            F.col("sw.end").cast("long").alias("sess_end"),
            "n_events",
            "value_sum",
        )
    )


def stream_stream_attribution_join(
    views: DataFrame,
    purchases: DataFrame,
    within: str = "6 hours",
    watermark: str = "12 hours",
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked stream-stream INTERVAL join: each purchase matches
    the same user's views from the preceding ``within`` window — the
    classic attribution join.

    Both sides carry a watermark and the join condition bounds
    purchase.ts to [view.ts, view.ts + within], so Spark can expire
    view state older than watermark + within and purchase state older
    than watermark — state stays bounded no matter how long the
    streams run (an unbounded-time equi-join would grow state
    forever). On batch frames the same plan is a plain interval join,
    which is how the DuckDB oracle checks it (st_stream_stream_join).
    """
    v = views.select(
        F.col(key_col).alias("v_user"),
        F.col(ts_col).alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = purchases.select(
        F.col(key_col).alias("p_user"),
        F.col(ts_col).alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    if views.isStreaming:
        v = v.withWatermark("view_ts", watermark)
    if purchases.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    joined = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {within}")),
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        F.col("view_ts").cast("long").alias("view_ts"),
        F.col("purchase_ts").cast("long").alias("purchase_ts"),
        F.round("purchase_value", 6).alias("purchase_value"),
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
) -> DataFrame:
    """Stream-static join: enrich a stream with a (small) static
    dimension. The static side broadcasts per micro-batch; no state.
    This is the 100 TB pattern for attaching user/document metadata to
    an event stream without a stateful stream-stream join."""
    return stream.join(F.broadcast(dim), on, "left")


def streaming_bucket_rollup(
    events: DataFrame,
    bucket: str = "1 hour",
    watermark: str = "2 hours",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming twin of operators/resample.bucket_rollup: per-series
    tumbling time-bucket aggregates (count/avg/min/max) maintained
    incrementally. On a stream the watermark bounds state to (open
    buckets × active series) and finalizes buckets once event time
    passes bucket end + watermark — the continuous materialization of
    the hypertable rollup. Runs identically on a batch frame (no
    watermark) for parity testing.
    """
    if events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    v = F.col(value_col)
    return (
        events.groupBy(
            F.col(key_col).alias("series_id"),
            F.window(ts_col, bucket).alias("win"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg(v), 6).alias("v_avg"),
            F.round(F.min(v), 6).alias("v_min"),
            F.round(F.max(v), 6).alias("v_max"),
        )
        .select(
            "series_id",
            F.col("win.start").alias("bucket"),
            "n_events",
            "v_avg",
            "v_min",
            "v_max",
        )
    )


def streaming_anomaly_zscore(
    events: DataFrame,
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    key_col: str = "user_id",
    threshold: float = 3.0,
    min_n: int = 10,
) -> DataFrame:
    """Online per-series anomaly detection via applyInPandasWithState:
    each event is scored against the running Welford mean/variance of
    its series HISTORY (prequential — the state excludes the current
    event when scoring it, then absorbs it), and emitted only when
    |z| > threshold after a ``min_n`` burn-in.

    The batch twin is ts_anomaly_prequential (an UNBOUNDED-PRECEDING-
    to-1-PRECEDING window) — tests/test_streaming.py holds the two to
    the same flag set. State is three scalars per series, constant in
    stream length; within a micro-batch rows are sorted by (ts, id) so
    replay order matches the batch twin's window order."""
    out_schema = "series_id long, event_id long, value double, z double"

    def update(key, pdfs, state):
        (sid,) = key
        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        pdf = pd.concat(list(pdfs))
        if len(pdf):
            pdf = pdf.sort_values([ts_col, id_col])
            rows = []
            for eid, v in zip(pdf[id_col], pdf[value_col].astype(float)):
                if n >= min_n:
                    var = m2 / n
                    if var > 0:
                        z = (v - mean) / var**0.5
                        if abs(z) > threshold:
                            rows.append(
                                {
                                    "series_id": sid,
                                    "event_id": int(eid),
                                    "value": round(v, 6),
                                    "z": round(z, 6),
                                }
                            )
                n += 1
                d = v - mean
                mean += d / n
                m2 += d * (v - mean)
            if rows:
                yield pd.DataFrame(rows)
        state.update((n, mean, m2))

    return (
        events.select(
            F.col(key_col).cast("long").alias("_k"),
            F.col(ts_col),
            F.col(id_col),
            F.col(value_col),
        )
        .groupBy("_k")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=_MOMENTS_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_series_stats_tws(
    events: DataFrame,
    value_col: str = "value",
    key_col: str = "user_id",
) -> DataFrame:
    """Per-series running moments on the ``transformWithStateInPandas``
    API (Spark 4's arbitrary-stateful successor to
    applyInPandasWithState, used by ``running_series_stats`` above):
    identical Welford semantics, but state lives in a typed, named
    ValueState slot managed by the StateStore — composable with
    ListState/MapState, TTL, and timers in bigger operators, and
    portable to the RocksDB state backend at fleet scale. Kept as the
    modern twin so both stateful APIs stay covered; parity across
    micro-batches is asserted in tests/test_streaming.py (skipped
    where the ``protobuf`` package — the TWS state-server wire
    protocol's dependency — is unavailable, as in this container). The
    arithmetic is :func:`_welford_fold`, the same fold the
    applyInPandasWithState form runs."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningMoments(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("moments", _MOMENTS_STATE)

        def handleInputRows(self, key, rows, timerValues):
            moments, row = _welford_fold(
                key[0],
                self._state.get() if self._state.exists() else None,
                rows,
                value_col,
            )
            self._state.update(moments)
            yield row

        def close(self) -> None:
            pass

    return (
        events.select(F.col(key_col).cast("long").alias("_k"), F.col(value_col))
        .groupBy("_k")
        .transformWithStateInPandas(
            statefulProcessor=RunningMoments(),
            outputStructType=_MOMENTS_OUT,
            outputMode="Update",
            timeMode="None",
        )
    )


def write_stream_upsert_partitioned(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_col: str = "event_date",
):
    """foreachBatch sink: idempotent upsert of each micro-batch into a
    (batch_id, date)-partitioned parquet layout — the standard
    "streaming into a batch-queryable table" pattern when no
    transactional table format is available. Idempotence comes from
    dynamic partition overwrite keyed by the BATCH id: a replayed
    batch (restart between sink write and checkpoint commit) rewrites
    exactly its own partition with the same rows instead of appending
    duplicates, and never touches other batches' partitions — date
    alone would not give this, because consecutive micro-batches share
    dates and would clobber each other. At fleet scale this is the
    micro-batch → lakehouse compaction boundary (compact_parquet
    folds the batch level away later); with Delta/Iceberg the body
    becomes a MERGE on the natural key and the rest stands."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .withColumn(partition_col, F.to_date(F.col("ts")))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id", partition_col)
            .parquet(path)
        )

    return _start_batches(df, upsert, checkpoint)


# ---------------------------------------------------------------------------
# The snapshot-and-delta store. Every foreachBatch maintainer, reader,
# compaction and rebuild below keeps its state in one on-disk layout,
# and only these helpers (and the crash-safe swap helpers further down)
# spell it out:
#   - a batch-id-versioned snapshot chain ``{prefix}_v{b}``: batch b reads
#     version b and overwrites version b+1, so a batch replayed after a
#     restart-before-checkpoint-commit rewrites exactly its own output
#     from its unchanged input (MERGE idempotence without a
#     transactional table format);
#   - the ANN indexes' hive-style ``delta=N`` dirs under one base
#     (``cells`` or ``codes``), written by batch N-1, read as one
#     partitioned scan;
#   - parquet's ``_SUCCESS`` marker, committed last, as the only
#     completeness gate: a dir without it is mid-write or crashed.
# ---------------------------------------------------------------------------


def _start_batches(df: DataFrame, fn, checkpoint: str):
    """Start ``fn(batch_df, batch_id)`` as an availableNow foreachBatch
    sink over ``df``. The query carries ``fn`` as ``_batch_fn`` so a
    test can replay a batch by hand (the restart-between-write-and-
    checkpoint-commit case)."""
    q = (
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q._batch_fn = fn
    return q


def _read_version(sp, root, prefix: str, batch_id: int, seed) -> DataFrame:
    """Batch ``batch_id``'s input snapshot ``{prefix}_v{batch_id}``.
    First writes ``{prefix}_v0`` from ``seed`` (a DataFrame, or the DDL
    schema of an empty one) unless a COMPLETE one exists — gated on
    ``_SUCCESS``, not on the dir: a crash while seeding leaves a
    committer ``_temporary`` dir with no marker, and an ``exists()``
    gate would read that schema-less dir on every restart
    (UNABLE_TO_INFER_SCHEMA) instead of seeding again."""
    v0 = Path(root) / f"{prefix}_v0"
    if not (v0 / "_SUCCESS").exists():
        if not isinstance(seed, DataFrame):
            seed = sp.createDataFrame([], seed)
        seed.write.mode("overwrite").parquet(str(v0))
    return sp.read.parquet(str(Path(root) / f"{prefix}_v{batch_id}"))


def _write_version(df: DataFrame, root, prefix: str, batch_id: int) -> None:
    """Batch ``batch_id``'s output snapshot: (over)write
    ``{prefix}_v{batch_id + 1}``."""
    df.write.mode("overwrite").parquet(str(Path(root) / f"{prefix}_v{batch_id + 1}"))


def _latest_version(directory, prefix: str) -> int:
    """Highest complete (``_SUCCESS``-gated) ``{prefix}_v{b}``: a
    version mid-write (a running stream, or a crash before the marker)
    is never served."""
    versions = [
        int(p.name.rsplit("_v", 1)[1])
        for p in Path(directory).glob(f"{prefix}_v*")
        if (p / "_SUCCESS").exists()
    ]
    if not versions:
        raise FileNotFoundError(
            f"no complete {prefix}_v* snapshot (with _SUCCESS) under {directory}"
        )
    return max(versions)


def _read_latest(spark, directory, prefix: str) -> DataFrame:
    """The latest complete snapshot (:func:`_latest_version`)."""
    v = _latest_version(directory, prefix)
    return spark.read.parquet(str(Path(directory) / f"{prefix}_v{v}"))


def _hive_int(p) -> int:
    """The integer value of a hive-style ``key=N`` dir."""
    return int(p.name.split("=", 1)[1])


def _complete_deltas(base) -> list:
    """Every complete (``_SUCCESS``-gated) ``delta=N`` dir under
    ``base``, sorted by N."""
    return sorted(
        (p for p in Path(base).glob("delta=*") if (p / "_SUCCESS").exists()),
        key=_hive_int,
    )


def _require_deltas(base) -> list:
    """:func:`_complete_deltas`, raising FileNotFoundError when no
    delta under ``base`` is complete."""
    deltas = _complete_deltas(base)
    if not deltas:
        raise FileNotFoundError(
            f"no complete delta=* snapshot (with _SUCCESS) under {base}"
        )
    return deltas


def _read_complete_deltas(spark, base) -> DataFrame:
    """Every complete delta under ``base`` as ONE basePath-anchored
    scan, so ``delta`` and ``cell`` read as partition columns and
    partition pruning holds (a delta mid-rewrite is skipped until its
    marker lands — read-committed serving)."""
    deltas = _require_deltas(base)
    return spark.read.option("basePath", str(base)).parquet(
        *[str(p) for p in deltas]
    )


def streaming_countmin_sketch(
    events: DataFrame, key_col: str = "user_id"
) -> DataFrame:
    """Streaming twin of d3_countmin_heavy_hitters' build pass: the
    4×64 count-min counter table maintained incrementally as a
    streaming aggregation. The state is the sketch itself — a CONSTANT
    256 rows however many distinct keys stream through, which is the
    whole point: per-key running counts grow state with cardinality,
    the sketch never does, so this is the frequency summary that
    survives an unbounded keyspace. Emit in complete/update mode and
    answer point-frequency queries by probing min-over-rows against
    the latest counters (operators/sketch.cms_bucket). Runs
    identically on a batch frame for parity testing — the sketch is
    mergeable, so micro-batch accumulation and the one-pass batch
    aggregate produce the same counters."""
    from the_framework_for_clustering_time_series_data_spark.operators.sketch import cms_sketch

    return cms_sketch(events, key_col)


def streaming_hll_registers(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Streaming twin of d2b_hll_md5's build pass: the ≤256-row HLL
    register table per group maintained incrementally as a streaming
    max-aggregation. Same bounded-state story as the count-min twin —
    per-key distinct tracking grows state with cardinality, the
    register table never does — and because register-wise max is
    associative and idempotent (the d2c merge proof), micro-batch
    accumulation equals the one-pass batch sketch EXACTLY, late or
    re-delivered rows included. Emit in complete/update mode; estimate
    cardinality by folding the latest registers through
    sketch.hll_sketch_agg + hll_estimate_sql. Runs identically on a
    batch frame for parity testing."""
    from the_framework_for_clustering_time_series_data_spark.operators.sketch import hll_registers

    return hll_registers(events, F.col(key_col).cast("string"))


def streaming_psi_bin_counts(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming twin of dq_psi_value_drift's BUILD pass (round-8
    verdict ask #7 — the last DQ gate without a streaming form): the
    bounded (event_type, bin) → (na, nb) count table maintained
    incrementally as a watermark-bounded streaming aggregation. Counts
    are associative and mergeable and the key space is FIXED (types ×
    10 clamped bins), so state never grows with volume — the d3/HLL
    bounded-state pattern — and micro-batch accumulation equals the
    one-pass batch counts exactly. State boundedness comes SOLELY
    from that fixed key space: in complete output mode Spark ignores
    watermarks for aggregations (late rows are always folded in), so
    the watermark below only matters if a consumer emits in update
    mode, where it additionally bounds how late an event may still
    update its bins (round-8 advice correction). Emit in
    complete/update mode; fold a snapshot through
    stats.psi_from_bin_counts (the SAME fold the batch plan uses) for
    the live PSI. Runs identically on a batch frame for parity
    testing."""
    from the_framework_for_clustering_time_series_data_spark.operators.stats import psi_bin_counts

    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return psi_bin_counts(src)


def streaming_scd2_compact(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    bucket: float = 50.0,
) -> DataFrame:
    """Incremental SCD Type-2 build with no-op compaction — the
    streaming twin of plans.cdc_plans.cdc_scd2_compact: each purchase
    event is a state transition (state = value bucket); transitions
    equal to the key's current state are dropped (CDC compaction), the
    rest are emitted as new dimension versions the sink upserts
    (closing the previous version's interval is the upsert sink's
    MERGE, write_stream_upsert_partitioned-style).

    State per key is TWO scalars (current tier, version counter) —
    constant in stream length, the property that lets a 100 TB/day
    changelog compact continuously instead of re-windowing history.
    Within a micro-batch rows replay in (ts, id) order; across batches
    the file source must deliver time-ordered files (the
    ordered_stream_dir contract, as for streaming_anomaly_zscore).
    """
    out_schema = "user_id long, version int, tier int, valid_from timestamp"
    state_schema = "tier long, version long"
    NO_TIER = -(1 << 31)

    def update(key, pdfs, state):
        (uid,) = key
        tier, version = state.get if state.exists else (NO_TIER, 0)
        pdf = pd.concat(list(pdfs))
        if len(pdf):
            pdf = pdf.sort_values([ts_col, id_col])
            rows = []
            for ts, v in zip(pdf[ts_col], pdf[value_col].astype(float)):
                t = int(v // bucket)
                if t != tier:
                    version += 1
                    tier = t
                    rows.append(
                        {
                            "user_id": int(uid),
                            "version": version,
                            "tier": t,
                            "valid_from": ts,
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)
        state.update((tier, version))

    return (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col(key_col).cast("long").alias("_k"),
            F.col(ts_col),
            F.col(id_col),
            F.col(value_col),
        )
        .groupBy("_k")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_merge_apply(
    events: DataFrame,
    base: DataFrame,
    target_dir: str,
    checkpoint: str,
):
    """foreachBatch MERGE-upsert twin of plans.cdc_plans.cdc_merge_apply
    (round-7 streaming-depth ask): the same CDC feed derivation
    (purchase = upsert, error = delete, key = user_id*11+3), applied
    incrementally into a keyed parquet TARGET instead of one batch
    full-outer join. Each micro-batch is deduplicated to
    latest-op-per-key (the same (ts, event_id) tie-break as the batch
    plan — without it a multi-row batch makes MERGE nondeterministic),
    then merged: matched updates, not-matched inserts, and SOFT deletes.

    Deletes are tombstones, not row drops, for a semantic reason: the
    batch plan is latest-op-wins over the WHOLE feed, so a key that is
    deleted and later updated must resurface with its ORIGINAL base
    name — a hard delete forgets it, a tombstone revives it. This is
    the standard lakehouse MERGE posture for the same reason.

    Exactly-once across restarts comes from BATCH-ID-VERSIONED target
    snapshots (:func:`_read_version` / :func:`_write_version`): batch b
    reads ``target_v{b}`` and (over)writes ``target_v{b+1}``
    (``target_v0`` is the seeded base dimension), so
    a batch replayed after a restart-before-checkpoint-commit rewrites
    exactly its own output version deterministically from its
    unchanged input version — the no-transactional-format equivalent
    of MERGE idempotence (write_stream_upsert_partitioned's argument,
    keyed by version instead of partition). With Delta/Iceberg the
    body becomes MERGE INTO and the versioning is the table format's.

    At fleet scale: the per-batch shuffle is one full-outer join of
    the (tiny, deduped) batch against the keyed target — a base
    bucketed on the key makes the exchange free, and micro-batch
    snapshots compact away at the maintenance boundary
    (compact_parquet). Read the serving state with
    :func:`read_merge_target`.
    """
    feed = events.where(
        (F.col("ts") >= F.lit("2024-01-25").cast("timestamp"))
        & F.col("event_type").isin("purchase", "error")
    ).select(
        (F.col("user_id") * 11 + 3).alias("key"),
        "ts",
        "event_id",
        (F.col("event_type") == "error").alias("is_delete"),
        F.round(F.col("value") * 10, 2).alias("new_bal"),
    )

    seed = base.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.round(F.col("c_acctbal"), 6).alias("acctbal"),
        F.lit(True).alias("orig"),
        F.lit(False).alias("touched"),
        F.lit(False).alias("is_deleted"),
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("key").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("key", "is_delete", "new_bal")
        )
        cur = _read_version(batch_df.sparkSession, target_dir, "target", batch_id, seed)
        merged = cur.join(
            latest, cur["custkey"] == latest["key"], "full_outer"
        ).select(
            F.coalesce("custkey", "key").alias("custkey"),
            F.coalesce(
                "name",
                F.concat(F.lit("Customer#new#"), F.col("key").cast("string")),
            ).alias("name"),
            F.round(F.coalesce("new_bal", "acctbal"), 6).alias("acctbal"),
            F.coalesce("orig", F.lit(False)).alias("orig"),
            (F.coalesce("touched", F.lit(False)) | F.col("key").isNotNull()).alias(
                "touched"
            ),
            F.when(F.col("key").isNotNull(), F.col("is_delete"))
            .otherwise(F.coalesce("is_deleted", F.lit(False)))
            .alias("is_deleted"),
        )
        _write_version(merged, target_dir, "target", batch_id)

    return _start_batches(feed, merge, checkpoint)


def streaming_simhash_dedup(
    docs: DataFrame,
    index_dir: str,
    checkpoint: str,
    max_hamming: int = 3,
    bits: int = 64,
    hash_family: str = "xxhash64",
):
    """Near-duplicate dedup ON INGEST — the dedup family's streaming
    form (round-8 extension): each micro-batch of documents is
    SimHash-fingerprinted (operators/dedup.simhash, the batch kernel),
    banded-joined against the fingerprints of everything ingested so
    far PLUS its own smaller-id rows (``dedup.hamming_pairs``, the
    pigeonhole band layout dedup.simhash_pairs uses: candidates come
    from an equi-join, never all-pairs), verified
    with ``bit_count(xor) ≤ max_hamming``, and appended to the state
    with its verdict: ``near_dup_of`` = the smallest earlier doc_id
    within the Hamming radius, −1 when novel.

    State = the cumulative (doc_id, simhash, near_dup_of) table in the
    batch-id-versioned snapshot chain streaming_merge_apply uses
    (:func:`_read_version` / :func:`_write_version`: batch b reads
    ``state_v{b}``, overwrites ``state_v{b+1}``). Read verdicts with
    :func:`read_simhash_dedup`.

    Verdicts equal the batch form (min smaller-id match over ALL
    pairs) when documents ingest in doc_id order — the natural
    dedup-on-ingest contract: each document is judged against the
    corpus as of its arrival. One difference: ``simhash_pairs`` skips
    band buckets with more than 1,000 members, and the stream does
    not, so a pair found only through such a bucket is a stream
    verdict the batch form lacks. At fleet scale the per-batch cost is
    one fingerprint pass over the batch + a banded join whose left
    side prunes to the batch's band values (the index never
    self-joins)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = _read_version(
            batch_df.sparkSession, index_dir, "state", batch_id,
            "id long, simhash long, near_dup_of long",
        )
        # new_fp feeds THREE plans per batch (pool/a-side, b-side
        # bands, new_rows): persist so the SimHash explode+groupBy
        # fingerprint aggregate runs once per batch, not ~3x (the
        # multi-consumer discipline; round-8 advice). persist — not
        # localCheckpoint — because the batch fn can then UNPERSIST
        # deterministically below; per-batch checkpoint blocks would
        # otherwise accumulate on executors until driver GC happens to
        # run ContextCleaner (round-9 review finding).
        new_fp = dedup.simhash(
            batch_df, bits=bits, hash_family=hash_family
        ).persist()
        pool = cur.select("id", "simhash").unionByName(new_fp)
        matches = (
            dedup.hamming_pairs(
                pool, new_fp, id_col="id", lanes=("simhash",),
                bands=max_hamming + 1, max_hamming=max_hamming, bits=bits,
            )
            .groupBy(F.col("id_b").alias("id"))
            .agg(F.min("id_a").alias("near_dup_of"))
        )
        new_rows = new_fp.join(matches, "id", "left").select(
            "id",
            "simhash",
            F.coalesce("near_dup_of", F.lit(-1)).alias("near_dup_of"),
        )
        _write_version(cur.unionByName(new_rows), index_dir, "state", batch_id)
        # all three consumers are done — reclaim the batch's blocks now
        new_fp.unpersist()

    return _start_batches(docs, apply_batch, checkpoint)


def read_simhash_dedup(spark, index_dir: str) -> DataFrame:
    """Serving-state reader for :func:`streaming_simhash_dedup`: the
    latest complete (``_SUCCESS``-gated) state version —
    ``(id, simhash, near_dup_of)`` for every ingested document."""
    return _read_latest(spark, index_dir, "state")


def streaming_mv_daily_maintainer(
    events: DataFrame, target_dir: str, checkpoint: str
):
    """foreachBatch incremental maintainer for mv_incremental_rollup's
    daily partials (round-8 verdict ask #8): each micro-batch computes
    its own (series, day) partials (plans.event_plans.mv_daily_partials
    — the SAME kernel the batch plan uses) and merges them into the
    stored partial table with the associative merge
    (merge_daily_partials: cent-sums add, counts add, min/max
    compose), so the maintained view always equals the batch rebuild
    over whatever has arrived — a day's rows arriving across several
    micro-batches fold in losslessly.

    Exactly-once across restarts is streaming_merge_apply's
    batch-id-versioned snapshot chain (:func:`_read_version` /
    :func:`_write_version`: batch b reads ``partials_v{b}`` and
    (over)writes ``partials_v{b+1}``; v0 is the empty table). Read the
    serving state with
    :func:`read_mv_rollup` (latest ``_SUCCESS``-gated version, folded
    through the batch plan's mv_merge_partials).

    At fleet scale the per-batch cost is one micro-batch aggregate +
    one merge keyed on (series, day) — the stored partials stay
    day-partitionable and snapshots compact at the maintenance
    boundary; with Delta/Iceberg the merge becomes MERGE INTO."""
    from the_framework_for_clustering_time_series_data_spark.plans.event_plans import (
        merge_daily_partials,
        mv_daily_partials,
    )

    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        cur = _read_version(
            batch_df.sparkSession, target_dir, "partials", batch_id,
            "series_id long, day timestamp, s decimal(38,0), "
            "n long, mn long, mx long",
        )
        merged = merge_daily_partials(cur.unionByName(mv_daily_partials(batch_df)))
        _write_version(merged, target_dir, "partials", batch_id)

    return _start_batches(events, maintain, checkpoint)


def _load_centroids(spark, index_dir: str) -> tuple[list[list[float]], list[int]]:
    """Read the frozen quantizer metadata as (centers, cell_ids),
    sorted by cell — the one definition the maintainer, the probe, and
    the tests share (hoisted round 9)."""
    crows = sorted(
        spark.read.parquet(f"{index_dir}/centroids").collect(),
        key=lambda r: r["cell"],
    )
    return [list(r["center"]) for r in crows], [int(r["cell"]) for r in crows]


def ivf_maintain_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    n_cells: int = 8,
    lloyd_rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One IVF maintenance step (the foreachBatch kernel of
    :func:`streaming_ivf_index_maintainer`, module-level so
    tools/measure_ivf_serve.py can time per-batch maintain cost
    against the full rebuild): freeze-or-load the quantizer, assign
    the batch to cells, write the hive-style delta and the versioned
    per-cell count metadata. Deterministic per (batch contents,
    batch_id) — a replay rewrites identical output."""
    sp = batch_df.sparkSession
    root = Path(index_dir)
    _heal(index_dir)  # complete a crashed recenter/compaction swap first
    # the batch feeds two plans on batch 0 (quantizer train + assign
    # write) and the foreachBatch frame re-scans its source files per
    # action: persist so each batch's files are read ONCE (the simhash
    # kernel's multi-consumer discipline; round-11 throughput
    # measurement caught the 2-3× numInputRows inflation)
    batch_df = batch_df.persist()
    try:
        cdir = root / "centroids"
        if not (cdir / "_SUCCESS").exists():
            _, cdf = deterministic_lloyd_assign(
                batch_df.select(
                    F.col(id_col).alias("nbr_id"),
                    F.col(vec_col).cast("array<double>").alias("v"),
                ),
                n_cells,
                id_col="nbr_id",
                vec_col="v",
                lloyd_rounds=lloyd_rounds,
            )
            cdf.select(
                F.col("cell").cast("int").alias("cell"),
                F.col("cvec").alias("center"),
            ).coalesce(1).write.mode("overwrite").parquet(str(cdir))
        centers, cell_ids = _load_centroids(sp, index_dir)
        assigned = assign_cells_frozen(
            batch_df, centers, cell_ids=cell_ids, id_col=id_col, vec_col=vec_col
        )
        # repartition("cell") first: one task (→ one file) per cell, not
        # (tasks × cells) small files per delta — the delta-layout
        # small-file tax the serving scan otherwise accumulates
        assigned.repartition("cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(str(root / "cells" / f"delta={batch_id + 1}"))
        cur = _read_version(sp, index_dir, "meta", batch_id, "cell int, n long")
        part = assigned.groupBy("cell").agg(F.count("*").alias("n"))
        _write_version(
            cur.unionByName(part)
            .groupBy("cell")
            .agg(F.sum("n").cast("long").alias("n"))
            .coalesce(1),
            index_dir, "meta", batch_id,
        )
    finally:
        # unpersist on EVERY exit — a raising batch (dim-mismatch
        # freeze, transient write failure) must not leak cached
        # blocks into a long-lived maintainer session
        batch_df.unpersist()


def streaming_ivf_index_maintainer(
    vectors: DataFrame,
    index_dir: str,
    checkpoint: str,
    n_cells: int = 8,
    lloyd_rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming ANN ingest (round-9 verdict ask #5 — the ANN family's
    one missing form): maintain a persisted IVF index incrementally as
    vectors arrive, instead of rebuilding it per snapshot.

    Per micro-batch:

    - batch 0 trains the DETERMINISTIC coarse quantizer
      (cluster.deterministic_lloyd_assign — md5-seeded, so a replay of
      batch 0 after a restart retrains bit-identically) and freezes it
      as ``<index_dir>/centroids``: the quantizer is index METADATA;
      re-training it is a rebuild event, not maintenance;
    - every batch assigns its vectors to their frozen nearest cell
      (similarity.assign_cells_frozen — a pure per-row expression, no
      shuffle) and writes them as a cell-partitioned DELTA
      ``cells/delta={batch_id + 1}`` (hive-style, so all deltas read
      as one partitioned table) — O(batch) work, never O(index): the
      property that makes maintenance beat the 7-10 s full rebuild;
    - centroid metadata refresh: per-cell vector counts merge into the
      batch-id-versioned ``meta_v{b}`` chain (the
      streaming_mv_daily_maintainer snapshot discipline), giving the
      drift signal a re-centering policy watches.

    Exactly-once across restarts: deltas and meta are keyed by
    batch_id, so a batch replayed after a restart-before-checkpoint-
    commit deterministically REWRITES its own delta/meta version —
    no duplicate vectors, held to the batch rebuild by
    tests/test_streaming.py's restart-parity test. Serve with
    :func:`streaming_ivf_probe`; compact deltas at the maintenance
    boundary with :func:`compact_ivf_stream_index` (delta count grows
    with batches, not data — the standard LSM-ish trade)."""
    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        ivf_maintain_batch(
            batch_df,
            batch_id,
            index_dir,
            n_cells=n_cells,
            lloyd_rounds=lloyd_rounds,
            id_col=id_col,
            vec_col=vec_col,
        )

    return _start_batches(vectors, maintain, checkpoint)


def read_ivf_stream_index(spark, index_dir: str) -> DataFrame:
    """Serving-state reader for :func:`streaming_ivf_index_maintainer`:
    every complete (``_SUCCESS``-gated) delta read as ONE
    (delta, cell)-partitioned scan under the shared ``cells`` base —
    shaped like build_ivf_index_deterministic's ``cells`` table plus
    the ``delta`` lineage column. A crashed swap is completed first
    (:func:`_heal`) — the index is readable at every crash point."""
    _heal(index_dir)
    return _read_complete_deltas(spark, Path(index_dir) / "cells")


def _replay_guard(checkpoint: str | None, top: int, action: str) -> None:
    """Refuse a fold/rebuild of a stream index whose checkpoint commits
    log is not caught up to the top delta: a maintainer stopped in the
    restart-before-checkpoint-commit window would replay its last batch
    afterwards and mode("overwrite") the folded delta — which now holds
    EVERY vector — down to just that batch's rows. Shared by
    compaction and the drift-driven requantize/recenter rebuilds."""
    if checkpoint is None:
        return
    commits = Path(checkpoint) / "commits"
    committed = [
        int(p.name) for p in commits.iterdir() if p.name.isdigit()
    ] if commits.exists() else []
    # delta=N was written by batch N-1; that batch must be committed
    if not committed or max(committed) < top - 1:
        raise ValueError(
            f"refusing to {action}: checkpoint commits log is at batch "
            f"{max(committed) if committed else None} but the top delta "
            f"{top} needs batch {top - 1} committed — a restarted "
            "maintainer would replay it and overwrite the fold"
        )


def _fold_file(src, dst) -> None:
    """The zero-copy fold primitive behind cold-cell reuse
    (:func:`ivf_recenter_partial`): hard-link on a POSIX-local
    filesystem — the fast path, no data IO at all — with a byte-copy
    fallback where links don't exist (object stores, cross-device
    staging: an S3A/HDFS-hosted index root has no hard links, and a
    100 TB deployment's index lives exactly there). Either way the
    source file is left intact until phase 2 of the swap, preserving
    the two-phase contract. The round-11 verdict's portability seam:
    the ALGORITHM (never rewrite the cold majority) is
    mechanism-independent; only this primitive is filesystem-aware.
    Local delta discovery still walks ``Path.glob`` — the documented
    local-mode contract; a DFS deployment fronts the index root with a
    mounted/fuse path or swaps this module's path layer wholesale."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _index_base_name(index_dir) -> str:
    """The delta base this index actually owns ('cells' for IVF,
    'codes' for SQ8) — heal sites must derive it from the LAYOUT, not
    from which maintenance op the operator happened to call: healing a
    crashed cells-compaction with base_name='codes' finds nothing to
    swap, falls through to the marker unlink, and permanently hides
    the folded rows (round-11 review finding)."""
    root = Path(index_dir)
    if (root / "cells").exists():
        return "cells"
    if (root / "codes").exists():
        return "codes"
    raise FileNotFoundError(
        f"{index_dir} has neither a cells (IVF) nor codes (SQ8) base"
    )


# ---------------------------------------------------------------------------
# Crash-safe two-phase swaps. Compaction and the drift-driven rebuilds
# stage their output beside the index (phase 1), atomically write a
# commit marker holding the top delta they fold (``_compact_commit`` /
# ``_requant_commit``: the commit point), then swap (phase 2). Every
# phase-2 step is idempotent, so any crash past the marker is completed
# by the next entry point that touches the index (:func:`_heal`).
# ---------------------------------------------------------------------------


def _commit_marker(root: Path, name: str, top: int) -> None:
    """Atomically write the commit marker ``name`` holding ``top``."""
    tmp = root / f"{name}.tmp"
    tmp.write_text(str(top))
    os.replace(tmp, root / name)


def _swap_fold(base: Path, staged: Path, top: int) -> None:
    """Phase 2's one data step, shared by compaction and the rebuilds:
    move the staged fold INSIDE ``base`` as ``_fold_{top}`` (a name the
    ``delta=*`` glob ignores), then — only while that fold dir exists —
    delete every delta ≤ top and rename the fold to ``delta={top}``.
    Idempotent at every crash point (round-10 fix): the deletes never
    run without the fold there to replace them, and a finished swap
    (nothing staged, no fold) is a no-op."""
    fold = base / f"_fold_{top}"
    if staged.exists():
        staged.rename(fold)
    if fold.exists():
        for p in base.glob("delta=*"):
            if _hive_int(p) <= top:
                shutil.rmtree(p)
        fold.rename(base / f"delta={top}")


def _compact_finish(index_dir) -> None:
    """Complete a committed compaction (phase 2): swap the staged fold
    in as ``delta={top}`` under the base the LAYOUT owns, then clear the
    marker."""
    root = Path(index_dir)
    marker = root / "_compact_commit"
    base = root / _index_base_name(index_dir)
    _swap_fold(base, root / "_compact_tmp", int(marker.read_text()))
    marker.unlink()


def _requant_finish(index_dir: str) -> None:
    """Complete a committed requantize/recenter swap (phase 2): install
    the staged quantizer metadata (scales/centroids), swap the staged
    fold into its base (:func:`_swap_fold`) and install the staged meta
    as ``meta_v{top}``. Each staged child is moved only while it
    exists, so a re-run after a crash at any point is safe. (Order is
    not load-bearing: the marker gates every reader, so no reader sees
    new codes with old scales/centroids.)"""
    root = Path(index_dir)
    marker = root / "_requant_commit"
    staged = root / "_requant_tmp"
    top = int(marker.read_text())
    for child in ("scales", "centroids"):
        if (staged / child).exists():
            shutil.rmtree(root / child, ignore_errors=True)
            (staged / child).rename(root / child)
    for base_name in ("codes", "cells"):
        _swap_fold(root / base_name, staged / base_name, top)
    if (staged / "meta").exists():
        mdest = root / f"meta_v{top}"
        shutil.rmtree(mdest, ignore_errors=True)
        (staged / "meta").rename(mdest)
    shutil.rmtree(staged, ignore_errors=True)
    marker.unlink()


def _heal(index_dir) -> None:
    """Complete any crashed swap before an index is read, probed,
    maintained, compacted or rebuilt: requantize/recenter first, then
    compaction. Both orders of hazard are real — a rebuild or a fold
    over a mid-phase-2 swap would see a PARTIAL delta union (the other
    swap's fold sits staged as ``_fold_{top}``, which the delta glob
    ignores) and install a quantizer or fold built from a partial
    corpus. The compaction base comes from the layout
    (:func:`_index_base_name`), never from the calling op, so a
    wrong-kind call still heals without hiding the fold."""
    root = Path(index_dir)
    if (root / "_requant_commit").exists():
        _requant_finish(index_dir)
    if (root / "_compact_commit").exists():
        _compact_finish(index_dir)


def compact_ivf_stream_index(
    spark, index_dir: str, checkpoint: str | None = None
) -> int:
    """Maintenance-boundary compaction for
    :func:`streaming_ivf_index_maintainer`: fold every complete delta
    into ONE cell-partitioned delta (the LSM compaction step — delta
    COUNT grows with batches, not data, and each probe scans the delta
    union, so periodic folding reclaims the per-delta scan tax
    measured in BASELINE.md: 2.13 s over 4 deltas vs 1.67 s
    monolithic). Runs OFFLINE at the maintenance boundary (stream
    stopped — the same contract compact_parquet documents).

    Safety (both round-9 review findings):

    - **replay guard**: when ``checkpoint`` is given, folding requires
      the checkpoint's commits log to be CAUGHT UP (last committed
      batch == top delta's batch). Without it, a maintainer stopped in
      the restart-before-checkpoint-commit window would replay its
      last batch after compaction and mode("overwrite") the fold —
      which now holds EVERY vector — down to just that batch's rows.
      Pass the stream's checkpoint dir whenever one exists.
    - **crash safety**: two-phase swap. Phase 1 stages the fold
      OUTSIDE the cells root (the writers.py nested-path rule) and
      atomically writes a ``_compact_commit`` marker; phase 2
      (:func:`_swap_fold`) deletes the folded deltas and renames the
      stage in. A crash before the marker leaves the index untouched
      (the orphan stage is overwritten next run); a crash after it is
      completed IDEMPOTENTLY by the next compact (or read) via
      :func:`_heal` — the index is never left unreadable.

    Returns the number of deltas folded."""
    return _compact_stream_deltas(
        spark, index_dir, "cells", checkpoint, partition_by="cell"
    )


def _compact_stream_deltas(
    spark,
    index_dir: str,
    base_name: str,
    checkpoint: str | None,
    partition_by: str | None = None,
) -> int:
    """The shared maintenance-boundary compaction kernel (replay guard
    + two-phase crash-safe swap, see :func:`compact_ivf_stream_index`
    for the full safety argument) over any delta-structured stream
    index: IVF folds ``cells`` partitioned by ``cell``; SQ8 folds the
    flat ``codes`` table."""
    root = Path(index_dir)
    _heal(index_dir)
    # Kind guard (round-11 advice): a wrong-kind compaction call (e.g.
    # compact_sq8_stream_index on an IVF dir) used to fall through to
    # an empty foreign-base glob and silently return 0 — masking
    # operator error where requantize/recenter raise. Validate against
    # the base the layout owns, exactly as those ops do; a dir with
    # neither base isn't an index yet (nothing to compact, not a kind
    # mismatch) and keeps the benign 0 return.
    if (root / "cells").exists() or (root / "codes").exists():
        owned = _index_base_name(index_dir)
        if base_name != owned:
            raise ValueError(
                f"{index_dir} owns '{owned}' deltas, not '{base_name}' — "
                f"call the matching compact_*_stream_index op"
            )
    base = root / base_name
    deltas = _complete_deltas(base)
    if len(deltas) <= 1:
        return len(deltas)
    top = _hive_int(deltas[-1])
    _replay_guard(checkpoint, top, "compact")
    staged = root / "_compact_tmp"
    shutil.rmtree(staged, ignore_errors=True)
    df = _read_complete_deltas(spark, base).drop("delta")
    if partition_by:
        # one task → one file per partition value: compaction exists to
        # reclaim the delta small-file tax, so the fold itself must not
        # re-fragment the layout
        df = df.repartition(partition_by)
    fold = df.write.mode("overwrite")
    if partition_by:
        fold = fold.partitionBy(partition_by)
    fold.parquet(str(staged))
    _commit_marker(root, "_compact_commit", top)
    _compact_finish(index_dir)
    return len(deltas)


def compact_sq8_stream_index(
    spark, index_dir: str, checkpoint: str | None = None
) -> int:
    """Maintenance-boundary compaction for
    :func:`streaming_sq8_index_maintainer`: fold every complete codes
    delta into one (probe-identical before/after — the fold is a pure
    row reunion of (nbr_id, q8, v, clipped)), through the same kernel
    as the IVF form (:func:`compact_ivf_stream_index`'s replay guard
    and two-phase swap; a crashed swap is completed by the next
    compact, read or probe via :func:`_heal`). Returns the number of
    deltas folded."""
    return _compact_stream_deltas(spark, index_dir, "codes", checkpoint)


def ann_index_drift(spark, index_dir: str) -> dict:
    """Read a stream index's VERSIONED drift metadata and return the
    statistics a rebuild policy acts on — the missing half of the
    round-9 maintainers, which emitted the metadata but had nothing
    reading it (round-9 verdict ask #4).

    - SQ8 (``scales`` present): cumulative (n, clipped) from the latest
      ``meta_v{b}`` → ``clip_rate`` = clipped / (n·dim). A rising clip
      rate means the frozen scales no longer cover the distribution.
    - IVF (``centroids`` present): per-cell counts → ``cell_skew`` =
      max(n) / mean(n) over the quantizer's cells (absent cells count
      0). A hot cell means the frozen quantizer no longer balances the
      distribution — probes over the hot cell degrade toward brute
      force.

    Pure metadata read: one ≤cells-row parquet + one scales/centroids
    head — O(index metadata), never O(index)."""
    root = Path(index_dir)
    v = _latest_version(index_dir, "meta")
    meta = spark.read.parquet(str(root / f"meta_v{v}"))
    if (root / "scales" / "_SUCCESS").exists():
        srow = spark.read.parquet(str(root / "scales")).head()
        dim = int(srow["dim"]) if "dim" in srow.asDict() else len(srow["s"])
        rows = meta.collect()
        if rows:
            n, clipped = int(rows[0]["n"] or 0), int(rows[0]["clipped"] or 0)
        else:
            # A maintainer crashed between the scales freeze and the
            # meta_v1 commit: the latest COMPLETE meta is the zero-row
            # meta_v0. Nothing has been ingested against the frozen
            # scales yet, so there is nothing to have clipped — report
            # (n=0, clipped=0), i.e. clip_rate 0.0 / no rebuild.
            n, clipped = 0, 0
        rate = clipped / (n * dim) if n else 0.0
        return {
            "kind": "sq8", "meta_version": v, "n": n, "clipped": clipped,
            "dim": dim, "clip_rate": rate,
        }
    if (root / "centroids" / "_SUCCESS").exists():
        n_cells = spark.read.parquet(str(root / "centroids")).count()
        rows = {int(r["cell"]): int(r["n"]) for r in meta.collect()}
        total = sum(rows.values())
        mean = total / n_cells if n_cells else 0.0
        mx = max(rows.values(), default=0)
        return {
            "kind": "ivf", "meta_version": v, "n": total,
            "n_cells": int(n_cells), "max_cell": mx,
            "cell_skew": (mx / mean) if mean else 0.0,
        }
    raise FileNotFoundError(
        f"{index_dir} has neither scales (SQ8) nor centroids (IVF) metadata"
    )


# kind → (the drift statistic its policy thresholds, the replay-guard verb)
_DRIFT_POLICY = {"sq8": ("clip_rate", "requantize"), "ivf": ("cell_skew", "recenter")}


def _drift_rebuild(spark, index_dir, kind, limit, force, checkpoint, build) -> bool:
    """The one prologue and commit of the drift-driven rebuilds
    (:func:`sq8_requantize`, :func:`ivf_recenter`,
    :func:`ivf_recenter_partial`): heal any crashed swap, read the
    drift, refuse a wrong-kind index, decline at or below ``limit``
    unless ``force``, replay-guard the top delta, and reset the
    ``_requant_tmp`` stage. ``build(drift, union, deltas, staged)`` then
    fills the stage — the new quantizer metadata, the fold under the
    base's name, ``meta`` — from the complete delta ``union`` (and, for
    file-level reuse, the delta dirs); phase 1 commits the
    ``_requant_commit`` marker and :func:`_requant_finish` swaps.
    Returns True iff the rebuild fired."""
    _heal(index_dir)
    drift = ann_index_drift(spark, index_dir)
    stat, action = _DRIFT_POLICY[kind]
    if drift["kind"] != kind:
        raise ValueError(f"{index_dir} is not an {kind.upper()} index: {drift['kind']}")
    if not force and drift[stat] <= limit:
        return False
    root = Path(index_dir)
    base = root / _index_base_name(index_dir)
    deltas = _require_deltas(base)
    top = _hive_int(deltas[-1])
    _replay_guard(checkpoint, top, action)
    staged = root / "_requant_tmp"
    shutil.rmtree(staged, ignore_errors=True)
    build(drift, _read_complete_deltas(spark, base), deltas, staged)
    _commit_marker(root, "_requant_commit", top)
    _requant_finish(index_dir)
    return True


def sq8_requantize(
    spark,
    index_dir: str,
    checkpoint: str | None = None,
    max_clip_rate: float = 0.005,
    force: bool = False,
) -> bool:
    """Drift-DRIVEN SQ8 re-quantization (round-9 verdict ask #4 — the
    operator that ACTS on the maintainer's clip metadata): read the
    latest versioned (n, clipped) counts; if the cumulative clip rate
    exceeds ``max_clip_rate`` (or ``force``), rebuild the index —
    re-derive the per-dim scales over the FULL corpus (one distributed
    pass over the delta union; SQ8's operational edge: no codebook to
    retrain), re-encode every vector, fold into one delta, and reset
    the clip metadata. Decision, replay guard and the crash-safe
    two-phase swap (scales+codes+meta staged, ``_requant_commit``, an
    idempotent :func:`_requant_finish` also completed by the next
    reader) are :func:`_drift_rebuild`'s. Runs OFFLINE at the
    maintenance boundary (stream stopped), like compaction.

    After the rebuild the frozen scales ARE the corpus's maxima again:
    nothing clips, and probes are exactly the one-pass batch build's
    (the sim_sq8_requantize registry oracle). Returns True iff the
    rebuild fired.

    .. warning:: **Pass ``checkpoint`` whenever the index has a live
       maintainer.** ``checkpoint=None`` makes the replay guard a
       no-op, and the hazard is WORSE than compaction's: after the
       fold, ``delta={top}`` is the ONLY copy of the corpus, so a
       restarted maintainer replaying batch top-1 would
       mode("overwrite") the entire index down to that one batch's
       rows — total silent loss. ``None`` is only safe for a
       scratch/batch-built index with no streaming checkpoint (the
       sim_sq8_requantize registry plan's posture)."""

    def build(drift, union, deltas, staged):
        dim = drift["dim"]
        corpus = union.select("nbr_id", "v")
        new_scales = sq8_scales(corpus).withColumn("dim", F.lit(dim))
        srow = new_scales.head()
        if srow is None or srow["s"] is None or len(srow["s"]) != dim:
            raise ValueError(
                f"requantize derived {None if srow is None else srow['s']} "
                f"scales; expected dim={dim} — index state is corrupt"
            )
        new_scales.coalesce(1).write.mode("overwrite").parquet(str(staged / "scales"))
        frozen = spark.read.parquet(str(staged / "scales"))
        sq8_encode(corpus, frozen, dim, with_clip_count=True).write.mode(
            "overwrite"
        ).parquet(str(staged / "codes"))
        (
            spark.read.parquet(str(staged / "codes"))
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("clipped").cast("long").alias("clipped"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(staged / "meta"))
        )

    return _drift_rebuild(spark, index_dir, "sq8", max_clip_rate, force, checkpoint, build)


def ivf_recenter(
    spark,
    index_dir: str,
    checkpoint: str | None = None,
    max_cell_skew: float = 4.0,
    n_cells: int | None = None,
    lloyd_rounds: int = 2,
    force: bool = False,
) -> bool:
    """Drift-driven IVF re-centering — the coarse-quantizer sibling of
    :func:`sq8_requantize`: read the latest versioned per-cell counts;
    if max(n)/mean(n) exceeds ``max_cell_skew`` (or ``force``), retrain
    the DETERMINISTIC quantizer (cluster.deterministic_lloyd_assign —
    md5-seeded, replayable) over the full delta union, re-assign every
    vector, and swap centroids+cells+meta through
    :func:`_drift_rebuild` (replay guard, crash-safe two-phase commit).
    The retrained index is bit-identical to a from-scratch
    deterministic batch build over the same corpus (the
    sim_ivf_recenter registry oracle). Returns True iff the rebuild
    fired.

    .. warning:: **Pass ``checkpoint`` whenever the index has a live
       maintainer** — ``checkpoint=None`` disables the replay guard,
       and after the fold ``delta={top}`` is the ONLY copy of the
       corpus, so a replayed last batch would overwrite the entire
       index down to that batch's rows (see :func:`sq8_requantize`'s
       warning; the scratch-index registry plan is the only safe
       ``None`` caller)."""

    def build(drift, union, deltas, staged):
        k = n_cells if n_cells is not None else drift["n_cells"]
        assign, cdf = deterministic_lloyd_assign(
            union.select("nbr_id", "v"), k, id_col="nbr_id", vec_col="v",
            lloyd_rounds=lloyd_rounds,
        )
        cdf.select(
            F.col("cell").cast("int").alias("cell"), F.col("cvec").alias("center")
        ).coalesce(1).write.mode("overwrite").parquet(str(staged / "centroids"))
        (
            assign.select(F.col("id").alias("nbr_id"), "v", "cell")
            .repartition("cell")  # one file per cell (delta small-file fix)
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(str(staged / "cells"))
        )
        (
            spark.read.option("basePath", str(staged / "cells"))
            .parquet(str(staged / "cells"))
            .groupBy("cell")
            .agg(F.count("*").cast("long").alias("n"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(staged / "meta"))
        )

    return _drift_rebuild(spark, index_dir, "ivf", max_cell_skew, force, checkpoint, build)


def ivf_recenter_partial(
    spark,
    index_dir: str,
    checkpoint: str | None = None,
    max_cell_skew: float = 4.0,
    lloyd_rounds: int = 2,
    force: bool = False,
) -> bool:
    """INCREMENTAL drift-driven IVF re-centering (round-10 verdict ask
    #6): where :func:`ivf_recenter` retrains the full quantizer and
    re-assigns EVERY vector (two broadcast argmin rounds over the
    whole corpus — 32.2 s at sf10), this splits only the cells the
    drift metadata names HOT and folds every other cell through
    UNCHANGED (their rows and centroids are copied, never recomputed —
    the only full-corpus cost left is the fold's one IO pass).

    Policy (exact integer arithmetic, replayed verbatim by the DuckDB
    oracle): hot = cells with ``n_c · n_cells · 5 > 6 · total`` (i.e.
    >1.2× the mean); when no cell clears it, the single argmax cell
    (ties → lowest id) — a rebuild that fires must always improve the
    worst cell. Each hot cell c splits into
    ``k_c = ceil(n_c · n_cells / total)`` sub-cells with the same
    md5-Lloyd as the full retrain (``cluster.md5_lloyd`` keyed by hot
    cell; parity disciplines there), RESTRICTED to the cell's own
    members: seeds = the k_c smallest-md5(id) members of the cell,
    argmin ties to the lower sub-cell. Sub-cells take fresh ids above
    the current max, ordered by (hot cell id, sub index), so cold cell
    ids — and their dynamic-partition-pruned layouts — never move.

    Decision, replay guard and crash-safe two-phase swap are
    :func:`_drift_rebuild`'s, as for the full form (and the same loud
    ``checkpoint=None`` hazard: see :func:`sq8_requantize`'s warning).
    Returns True iff it fired."""
    root = Path(index_dir)

    def build(drift, union, deltas, staged):
        cent = spark.read.parquet(str(root / "centroids"))
        cent_ids = sorted(int(r["cell"]) for r in cent.collect())
        n_cells = len(cent_ids)
        # per-cell counts come from the maintainer's VERSIONED metadata —
        # ≤n_cells rows, never a corpus scan (they equal the delta union's
        # counts by the maintainer's determinism, which the registry
        # oracle's replay asserts)
        counts = {
            int(r["cell"]): int(r["n"])
            for r in _read_latest(spark, index_dir, "meta").collect()
        }
        total = sum(counts.values())
        hot = sorted(
            c for c, n in counts.items() if n * n_cells * 5 > 6 * total
        )
        fallback = not hot
        if fallback:
            mx = max(counts.values())
            hot = [min(c for c, n in counts.items() if n == mx)]
        # Policy-cleared cells have n·k/total > 1.2, so their ceil is ≥ 2
        # by construction. The argmax FALLBACK can land on a perfectly
        # balanced cell where ceil == 1 — a pure renumber that rewrites
        # the worst cell without reducing skew; clamp it to 2 so a rebuild
        # that fires always splits (round-11 advice; mirrored verbatim in
        # _ivf_partial_oracle_sql's hot CTE).
        kc = {
            c: max(2, -(-(counts[c] * n_cells) // total)) if fallback
            else -(-(counts[c] * n_cells) // total)
            for c in hot
        }
        base_id = max(cent_ids) + 1
        new_id = {}
        off = base_id
        for c in hot:  # ordered by cell id — the oracle's cumsum order
            for j in range(kc[c]):
                new_id[(c, j)] = off + j
            off += kc[c]

        hot_lit = [int(c) for c in hot]
        kc_df = F.broadcast(
            spark.createDataFrame(
                [(c, kc[c]) for c in hot], "cell int, kc int"
            )
        )
        # hm is hot-cell members ONLY; the literal isin filter statically
        # prunes the hive (delta, cell) layout, so the cold majority is
        # never even SCANNED — it folds through below as hard links
        hm = (
            union.select("nbr_id", "v", "cell")
            .where(F.col("cell").isin(hot_lit))
            .join(kc_df, "cell")
            .transform(stage_checkpoint, eager=True)
        )
        # per-hot-cell md5 seeds: the kc smallest-md5(id) members, ranked
        # within their cell (key "hot"; the kernel's cell is the sub-cell)
        w_seed = Window.partitionBy("cell").orderBy(
            F.md5(F.col("nbr_id").cast("string")), "nbr_id"
        )
        seeds = (
            hm.withColumn("_rn", F.row_number().over(w_seed))
            .where(F.col("_rn") <= F.col("kc"))
            .select(
                F.col("cell").alias("hot"),
                (F.col("_rn") - 1).alias("cell"),
                F.col("v").alias("cvec"),
            )
        )
        a2, cdf = md5_lloyd(
            hm.select(F.col("cell").alias("hot"), F.col("nbr_id").alias("id"), "v"),
            seeds,
            keys=("hot",),
            rounds=lloyd_rounds,
        )
        # two consumers (the staged write + the sub-cell meta counts):
        # materialize once or the hot Lloyd assign runs twice
        a2 = a2.transform(stage_checkpoint, eager=True)

        ren = F.broadcast(
            spark.createDataFrame(
                [(c, j, nid) for (c, j), nid in new_id.items()],
                "hot int, cell int, ncell int",
            )
        )
        new_cent = (
            cent.where(~F.col("cell").isin(hot_lit))
            .unionByName(
                cdf.join(ren, ["hot", "cell"]).select(
                    F.col("ncell").cast("int").alias("cell"),
                    F.col("cvec").alias("center"),
                )
            )
        )
        new_cent.coalesce(1).write.mode("overwrite").parquet(str(staged / "centroids"))
        # hot sub-cells are the ONLY rows Spark writes; cold cells fold
        # through via _fold_file — hard links locally, byte-copy where
        # links don't exist (object stores) — zero/minimal IO for the cold
        # majority, and the sources stay intact until phase 2 (the
        # two-phase swap's contract: phase 1 must not destroy anything)
        (
            a2.join(ren, ["hot", "cell"])
            .select(F.col("id").alias("nbr_id"), "v", F.col("ncell").alias("cell"))
            .repartition("cell")  # one file per cell (small-file fix)
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(str(staged / "cells"))
        )
        for d in deltas:
            for cdir in d.glob("cell=*"):
                if _hive_int(cdir) in kc:
                    continue  # hot cell — replaced by its sub-cells
                dest = staged / "cells" / cdir.name
                dest.mkdir(parents=True, exist_ok=True)
                for f in cdir.glob("*.parquet"):
                    _fold_file(f, dest / f"d{_hive_int(d)}_{f.name}")
        # the fold's _SUCCESS covers the linked tree too (written by the
        # hot-cell write above; the links land after it but before the
        # commit marker, which is the only gate readers honor)
        sub_counts = {
            (int(r["cell"])): int(r["n"])
            for r in a2.join(ren, ["hot", "cell"])
            .groupBy("ncell")
            .agg(F.count("*").alias("n"))
            .select(F.col("ncell").alias("cell"), "n")
            .collect()
        }
        meta_rows = [
            (int(c), int(n)) for c, n in counts.items() if c not in kc
        ] + sorted(sub_counts.items())
        (
            spark.createDataFrame(meta_rows, "cell int, n long")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(staged / "meta"))
        )

    return _drift_rebuild(spark, index_dir, "ivf", max_cell_skew, force, checkpoint, build)


def streaming_ivf_probe(
    spark, index_dir: str, queries: DataFrame, k: int = 5, nprobe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Probe the incrementally-maintained IVF index: frozen centroid
    metadata picks each query's nprobe cells, then the SAME
    _ivf_probe_scored tail every IVF variant uses scores only
    same-cell candidates across the delta union."""
    _heal(index_dir)  # never pair old centroids with new cells
    centers, cell_ids = _load_centroids(spark, index_dir)
    cells = read_ivf_stream_index(spark, index_dir)
    qs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    return _ivf_probe_scored(cells, qs, centers, k, nprobe, cell_ids=cell_ids)


def _validate_sq8_scales(scales: DataFrame, dim: int, index_dir: str) -> None:
    """Fail LOUDLY on a dim mismatch between the persisted SQ8 scales
    layout and the caller's ``dim`` argument: ``sq8_encode`` with a
    larger dim reads past the scales array and emits NULL code
    components, which silently empties every downstream probe (round-9
    advice). The scales frame is one metadata row — the head() is a
    kilobyte pull. Indexes frozen before the ``dim`` column existed
    validate on array length alone."""
    srow = scales.head()
    if srow is None or srow["s"] is None or len(srow["s"]) == 0:
        raise ValueError(
            f"SQ8 index at {index_dir} has empty/absent scales — the "
            "index was frozen from an empty corpus or is corrupt"
        )
    stored = srow["dim"] if "dim" in scales.columns else len(srow["s"])
    if len(srow["s"]) != dim or stored != dim:
        raise ValueError(
            f"SQ8 dim mismatch at {index_dir}: index layout is "
            f"dim={stored} (scales len {len(srow['s'])}) but caller "
            f"passed dim={dim} — encoding would produce NULL code "
            "components and silently degraded probes"
        )


def sq8_maintain_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One SQ8 maintenance step (the foreachBatch kernel of
    :func:`streaming_sq8_index_maintainer`): freeze-or-load the
    per-dim scales, encode the batch (saturating at ±127 for values
    beyond the frozen range — similarity.sq8_encode's clamp), write
    the codes delta and versioned (n, clipped) metadata. Deterministic
    per (batch contents, batch_id) — a replay rewrites identical
    output. ``clipped`` counts saturated components: SQ8's natural
    drift signal (a rising clip rate means the frozen scales no longer
    cover the distribution — a re-quantize/rebuild event, exactly the
    role per-cell counts play for the IVF maintainer)."""
    sp = batch_df.sparkSession
    root = Path(index_dir)
    _heal(index_dir)  # complete a crashed requantize/compaction swap first
    # 2-3 consumers per batch (empty-guard / scale freeze / encode
    # write) over a foreachBatch frame that re-scans its source files
    # per action: persist so each batch's files are read once (the
    # simhash kernel's discipline)
    corpus = _r6_corpus(batch_df, id_col, vec_col).persist()
    try:
        sdir = root / "scales"
        delta_dir = root / "codes" / f"delta={batch_id + 1}"
        if not (sdir / "_SUCCESS").exists() and corpus.isEmpty():
            # batch 0 (or any pre-freeze batch) is EMPTY: freezing now would
            # permanently poison the index with s=[] — every later batch
            # would encode all-NULL codes and probes would silently return
            # nothing (round-9 advice). Write the empty delta + rolled meta
            # so replay versioning stays contiguous, and let the first
            # NON-empty batch freeze the scales.
            empty = sp.createDataFrame([], corpus.schema).select(
                "nbr_id",
                F.lit(None).cast("array<bigint>").alias("q8"),
                "v",
                F.lit(0).cast("long").alias("clipped"),
            )
            empty.coalesce(1).write.mode("overwrite").parquet(str(delta_dir))
            part = sp.createDataFrame([(0, 0)], "n long, clipped long")
        else:
            if not (sdir / "_SUCCESS").exists():
                frozen = sq8_scales(corpus).withColumn("dim", F.lit(dim))
                srow = frozen.head()
                if srow is None or srow["s"] is None or len(srow["s"]) != dim:
                    got = None if srow is None or srow["s"] is None else len(srow["s"])
                    raise ValueError(
                        f"sq8 scale freeze derived {got} dims from batch {batch_id} "
                        f"but the index is declared dim={dim} — refusing to freeze "
                        "a layout that would encode NULL code components"
                    )
                frozen.coalesce(1).write.mode("overwrite").parquet(str(sdir))
            scales = sp.read.parquet(str(sdir))
            _validate_sq8_scales(scales, dim, index_dir)
            # ONE evaluation of the micro-batch: the per-row saturation count
            # rides along in the encoded delta (with_clip_count — |raw| > 127,
            # the actual clamp criterion), and the metadata fold aggregates
            # the just-written parquet instead of re-scanning the source
            # (review findings: double evaluation + |v| > s overcount)
            sq8_encode(corpus, scales, dim, with_clip_count=True).write.mode(
                "overwrite"
            ).parquet(str(delta_dir))
            part = sp.read.parquet(str(delta_dir)).agg(
                F.count("*").cast("long").alias("n"),
                F.sum("clipped").cast("long").alias("clipped"),
            )
        cur = _read_version(sp, index_dir, "meta", batch_id, "n long, clipped long")
        _write_version(
            cur.unionByName(part)
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.sum("clipped").cast("long").alias("clipped"),
            )
            .coalesce(1),
            index_dir, "meta", batch_id,
        )
    finally:
        # unpersist on EVERY exit — incl. the dim-mismatch freeze
        # ValueError
        corpus.unpersist()


def streaming_sq8_index_maintainer(
    vectors: DataFrame,
    index_dir: str,
    checkpoint: str,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming SQ8 ANN ingest — the scalar-quantization sibling of
    :func:`streaming_ivf_index_maintainer`, and the quantizer MOST
    suited to append-heavy ingest: encoding is a pure per-row
    expression against frozen per-dim scales (no training at all after
    batch 0, no codebook/centroid drift), so maintenance is exactly
    O(batch) with a constant-size metadata read.

    Per micro-batch: batch 0 derives the per-dim max-|v| scales and
    freezes them as ``<index_dir>/scales`` (index METADATA — the
    re-quantize decision belongs to a rebuild event, driven by the
    clip-rate signal below); every batch encodes with the frozen
    scales — values beyond the frozen range SATURATE at ±127, the
    defined SQ8 behavior — and writes ``codes/delta={batch_id + 1}``
    plus batch-id-versioned ``meta_v{b}`` carrying cumulative
    (n, clipped-component) counts. Exactly-once across restarts by the
    same delta/meta versioning argument as the IVF maintainer; probe
    parity vs the one-pass frozen-scale batch encode is held across a
    restart in tests/test_streaming.py. Serve with
    :func:`sq8_probe_stream_index`."""
    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        sq8_maintain_batch(
            batch_df, batch_id, index_dir, dim=dim,
            id_col=id_col, vec_col=vec_col,
        )

    return _start_batches(vectors, maintain, checkpoint)


def read_sq8_stream_index(spark, index_dir: str) -> DataFrame:
    """Serving-state reader for :func:`streaming_sq8_index_maintainer`:
    every complete (``_SUCCESS``-gated) codes delta read as one scan
    under the shared ``codes`` base — shaped like the persisted-PQ
    codes table: ``(nbr_id, q8, v)`` plus the ``delta`` lineage
    column. A crashed swap is completed first (:func:`_heal`) — the
    index is readable at every crash point."""
    _heal(index_dir)
    return _read_complete_deltas(spark, Path(index_dir) / "codes")


def sq8_probe_stream_index(
    spark, index_dir: str, queries: DataFrame, k: int = 5, rerank: int = 50,
    dim: int = 64, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Probe the incrementally-maintained SQ8 index: queries encode
    against the SAME frozen scales the deltas used, then the shared
    similarity.sq8_rank tail (int64 dot scan + bounded exact re-rank)
    runs over the delta union."""
    _heal(index_dir)  # never pair old scales with new codes
    scales = spark.read.parquet(f"{index_dir}/scales")
    _validate_sq8_scales(scales, dim, index_dir)
    codes = read_sq8_stream_index(spark, index_dir)
    qdf = _r6_corpus(queries, id_col, vec_col)
    qcodes = sq8_encode(qdf, scales, dim).select(
        F.col("nbr_id").alias("query_id"), F.col("q8").alias("qq8")
    )
    qs = qdf.select(F.col("nbr_id").alias("query_id"), F.col("v").alias("qv"))
    return sq8_rank(codes, qcodes, qs, k, rerank)


def read_mv_rollup(spark, target_dir: str) -> DataFrame:
    """Serving-state reader for :func:`streaming_mv_daily_maintainer`:
    fold the latest complete (``_SUCCESS``-gated) partial snapshot
    through the batch plan's mv_merge_partials — schema-identical to
    mv_incremental_rollup's output."""
    from the_framework_for_clustering_time_series_data_spark.plans.event_plans import mv_merge_partials

    return mv_merge_partials(_read_latest(spark, target_dir, "partials"))


def read_merge_target(spark, target_dir: str) -> DataFrame:
    """Serving-state reader for :func:`streaming_merge_apply`: the
    highest complete target version (:func:`_read_latest` — plain
    parquet overwrite is not atomic, so a running stream or a crash
    mid-write can leave a partial top directory), tombstones filtered,
    with the batch plan's ``action`` column reconstructed from
    provenance (never touched → kept; touched base row → updated;
    touched non-base row → inserted) so the final state is
    schema-comparable to cdc_merge_apply's output."""
    df = _read_latest(spark, target_dir, "target")
    return df.where(~F.col("is_deleted")).select(
        "custkey",
        "name",
        "acctbal",
        F.when(~F.col("touched"), F.lit("kept"))
        .when(F.col("orig"), F.lit("updated"))
        .otherwise(F.lit("inserted"))
        .alias("action"),
    )
