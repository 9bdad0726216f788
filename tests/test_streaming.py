"""Streaming ops: batch/stream parity via availableNow + memory sink,
and stateful operator correctness across micro-batches."""

from __future__ import annotations

import shutil
import tempfile
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def stream_dir(spark):
    """Split the sf0.001 events into several parquet files so the file
    stream produces multiple micro-batches."""
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table

    d = Path(tempfile.mkdtemp(prefix="the_framework_for_clustering_time_series_data_spark_stream_"))
    ev = load_table(spark, SF_SMALL, "events")
    ev.repartition(4).write.mode("overwrite").parquet(str(d / "events"))
    yield str(d / "events")
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, sdf, out_mode="complete"):
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(out_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_windowed_stats_stream_matches_batch(spark, stream_dir):
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import read_events_stream, windowed_value_stats

    batch_df = spark.read.parquet(stream_dir)
    expect = {
        tuple(r)
        for r in windowed_value_stats(batch_df).collect()
    }
    stream = read_events_stream(spark, stream_dir, max_files_per_trigger=2)
    got_df = _run_stream(spark, windowed_value_stats(stream), "complete")
    got = {tuple(r) for r in got_df.collect()}
    assert got == expect
    assert len(got) > 0


def test_running_stats_state_across_batches(spark, stream_dir):
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import read_events_stream, running_series_stats

    stream = read_events_stream(spark, stream_dir, max_files_per_trigger=1)
    out = _run_stream(spark, running_series_stats(stream), "update")
    # final state per series (last update row) must equal the batch moments
    from pyspark.sql.window import Window

    # memory sink appends updates; the final per-series emission is the
    # one with the largest n (cumulative count is monotonic)
    w = Window.partitionBy("series_id").orderBy(F.desc("n"))
    final = (
        out.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )
    batch_df = spark.read.parquet(stream_dir)
    expect = (
        batch_df.groupBy(F.col("user_id").alias("series_id"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 6).alias("mean"),
            F.round(F.var_pop("value"), 6).alias("var_pop"),
        )
    )
    diff = (
        final.alias("a")
        .join(expect.alias("b"), "series_id")
        .where(
            (F.col("a.n") != F.col("b.n"))
            | (F.abs(F.col("a.mean") - F.col("b.mean")) > 1e-6)
            | (F.abs(F.col("a.var_pop") - F.col("b.var_pop")) > 1e-6)
        )
    )
    assert final.count() == expect.count()
    assert diff.count() == 0
    # state really spanned multiple micro-batches: updates > series
    assert out.count() > final.count()


@pytest.fixture(scope="module")
def dup_stream_dir(spark):
    """Events written TWICE (8 files) so the stream carries exact
    duplicates across micro-batches."""
    import shutil as _sh
    import tempfile as _tf
    from pathlib import Path as _P

    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table

    d = _P(_tf.mkdtemp(prefix="the_framework_for_clustering_time_series_data_spark_dup_"))
    ev = load_table(spark, SF_SMALL, "events")
    ev.repartition(4).write.mode("overwrite").parquet(str(d / "events"))
    ev.repartition(4).write.mode("append").parquet(str(d / "events"))
    yield str(d / "events")
    _sh.rmtree(d, ignore_errors=True)


def test_streaming_dedup_drops_cross_batch_duplicates(spark, dup_stream_dir):
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import read_events_stream, streaming_dedup

    batch_df = spark.read.parquet(dup_stream_dir)
    n_distinct = batch_df.select("event_id").distinct().count()
    assert batch_df.count() == 2 * n_distinct  # fixture really duplicates

    stream = read_events_stream(spark, dup_stream_dir, max_files_per_trigger=3)
    out = _run_stream(spark, streaming_dedup(stream), "append")
    assert out.count() == n_distinct
    assert out.select("event_id").distinct().count() == n_distinct


def test_session_window_batch_matches_sessionize(spark, stream_dir):
    """session_window (streaming op, batch mode) must agree with the
    window-function sessionize on (key, n_events) multisets."""
    from the_framework_for_clustering_time_series_data_spark.operators.joins import session_stats
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import streaming_sessionize

    batch_df = spark.read.parquet(stream_dir)
    via_window = {
        (r["user_id"], r["n_events"], r["sess_start"])
        for r in session_stats(batch_df, ["user_id"], gap_seconds=1800).collect()
    }
    via_session_window = {
        (r["user_id"], r["n_events"], r["sess_start"])
        for r in streaming_sessionize(batch_df, gap="30 minutes").collect()
    }
    assert via_session_window == via_window


def test_streaming_sessionize_append_subset(spark, stream_dir):
    """Streaming sessions (append mode, watermark-finalized) are a
    subset of the batch sessions and nonempty."""
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import read_events_stream, streaming_sessionize

    batch_df = spark.read.parquet(stream_dir)
    batch = {
        (r["user_id"], r["sess_start"], r["n_events"])
        for r in streaming_sessionize(batch_df).collect()
    }
    stream = read_events_stream(spark, stream_dir, max_files_per_trigger=2)
    got_df = _run_stream(spark, streaming_sessionize(stream, watermark="0 seconds"), "append")
    got = {(r["user_id"], r["sess_start"], r["n_events"]) for r in got_df.collect()}
    assert got and got <= batch


def test_stream_static_enrich(spark, stream_dir):
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import read_events_stream, stream_static_enrich

    batch_df = spark.read.parquet(stream_dir)
    dim = batch_df.select("user_id").distinct().withColumn(
        "tier", (F.col("user_id") % 3).cast("int")
    )
    stream = read_events_stream(spark, stream_dir, max_files_per_trigger=2)
    out = _run_stream(
        spark,
        stream_static_enrich(stream.select("event_id", "user_id"), dim),
        "append",
    )
    assert out.count() == batch_df.count()
    assert out.where(F.col("tier").isNull()).count() == 0


def test_stream_parquet_sink_with_checkpoint(spark, stream_dir, tmp_path):
    """File sink + checkpoint: the durable streaming pattern (exactly-
    once per micro-batch via the checkpoint's write-ahead commit log)."""
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import read_events_stream

    out_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    stream = read_events_stream(spark, stream_dir, max_files_per_trigger=2)
    q = (
        stream.select("event_id", "user_id", "value")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.parquet(out_dir)
    assert back.count() == spark.read.parquet(stream_dir).count()
    # restart with the same checkpoint: no new data → no duplicates
    q2 = (
        read_events_stream(spark, stream_dir, max_files_per_trigger=2)
        .select("event_id", "user_id", "value")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == back.count()


def test_stream_stream_join_matches_batch(spark, stream_dir):
    """Watermarked stream-stream interval join (attribution) must emit
    exactly the batch interval-join result once both streams drain."""
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        read_events_stream,
        stream_stream_attribution_join,
    )

    batch = spark.read.parquet(stream_dir)
    expect = {
        tuple(r)
        for r in stream_stream_attribution_join(
            batch.where(F.col("event_type") == "view"),
            batch.where(F.col("event_type") == "purchase"),
        ).collect()
    }
    stream = read_events_stream(spark, stream_dir, max_files_per_trigger=2)
    got_df = _run_stream(
        spark,
        stream_stream_attribution_join(
            stream.where(F.col("event_type") == "view"),
            stream.where(F.col("event_type") == "purchase"),
        ),
        "append",
    )
    got = {tuple(r) for r in got_df.collect()}
    assert got == expect
    assert len(got) > 0


def test_streaming_bucket_rollup_matches_batch_and_resample(spark, stream_dir):
    from the_framework_for_clustering_time_series_data_spark.operators import resample
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import read_events_stream, streaming_bucket_rollup

    batch_df = spark.read.parquet(stream_dir)
    expect = {tuple(r) for r in streaming_bucket_rollup(batch_df).collect()}
    got = {
        tuple(r)
        for r in _run_stream(
            spark, streaming_bucket_rollup(read_events_stream(spark, stream_dir))
        ).collect()
    }
    assert got == expect
    # tumbling window(start) == date_trunc bucketing of the batch op
    roll = {
        (r["series_id"], r["bucket"], r["v_avg"])
        for r in resample.bucket_rollup(batch_df)
        .select("series_id", "bucket", F.round("v_avg", 6).alias("v_avg"))
        .collect()
    }
    assert {(r[0], r[1], r[3]) for r in expect} == roll


@pytest.fixture(scope="module")
def ordered_stream_dir(spark):
    """Events split into 4 files by TIME RANGE (written in order, so
    the file source replays them chronologically) — required by
    order-sensitive stateful ops."""
    from pyspark.sql.window import Window

    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table

    d = Path(tempfile.mkdtemp(prefix="the_framework_for_clustering_time_series_data_spark_ostream_"))
    ev = load_table(spark, SF_SMALL, "events").orderBy("ts")
    n = ev.count()
    rows_per = (n + 3) // 4
    ranked = ev.withColumn(
        "_rk", F.row_number().over(Window.orderBy("ts", "event_id"))
    )
    out = d / "events"
    out.mkdir(parents=True)
    for i in range(4):
        chunk = ranked.where(
            (F.col("_rk") > i * rows_per) & (F.col("_rk") <= (i + 1) * rows_per)
        ).drop("_rk")
        chunk.coalesce(1).write.mode("overwrite").parquet(str(d / f"tmp_{i}"))
        src = next((d / f"tmp_{i}").glob("part-*.parquet"))
        src.rename(out / f"chunk_{i}.parquet")
    yield str(out)
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_anomaly_matches_prequential_batch(spark, ordered_stream_dir):
    from the_framework_for_clustering_time_series_data_spark.plans.registry import QUERIES
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        read_events_stream,
        streaming_anomaly_zscore,
    )

    batch = QUERIES["ts_anomaly_prequential"](spark, SF_SMALL)
    expect = {(r.series_id, r.event_id): r.z for r in batch.collect()}

    stream = read_events_stream(spark, ordered_stream_dir, max_files_per_trigger=1)
    got_df = _run_stream(spark, streaming_anomaly_zscore(stream), "append")
    got = {(r.series_id, r.event_id): r.z for r in got_df.collect()}

    assert set(got) == set(expect)
    assert len(got) > 0
    for k in got:
        assert abs(got[k] - expect[k]) < 1e-5


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs the protobuf package "
    "(state-server wire protocol); not installed in this container",
)
def test_running_stats_tws_state_across_batches(spark, stream_dir):
    # transformWithStateInPandas twin must reproduce the same final
    # moments as the batch aggregate (and as the applyInPandasWithState
    # op it mirrors), with state spanning micro-batches
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        read_events_stream,
        running_series_stats_tws,
    )

    stream = read_events_stream(spark, stream_dir, max_files_per_trigger=1)
    out = _run_stream(spark, running_series_stats_tws(stream), "update")
    from pyspark.sql.window import Window

    w = Window.partitionBy("series_id").orderBy(F.desc("n"))
    final = (
        out.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )
    batch_df = spark.read.parquet(stream_dir)
    expect = batch_df.groupBy(F.col("user_id").alias("series_id")).agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 6).alias("mean"),
        F.round(F.var_pop("value"), 6).alias("var_pop"),
    )
    diff = (
        final.alias("a")
        .join(expect.alias("b"), "series_id")
        .where(
            (F.col("a.n") != F.col("b.n"))
            | (F.abs(F.col("a.mean") - F.col("b.mean")) > 1e-6)
            | (F.abs(F.col("a.var_pop") - F.col("b.var_pop")) > 1e-6)
        )
    )
    assert final.count() == expect.count()
    assert diff.count() == 0
    assert out.count() > final.count()


def test_checkpoint_recovery_exactly_once(spark, stream_dir, tmp_path):
    # Restart-from-checkpoint: run 1 ingests files 1-2 to a parquet
    # sink and stops; files 3-4 then land in the source dir; run 2
    # restarts with the SAME checkpoint and must ingest ONLY the new
    # files — every event appears exactly once across both runs even
    # though run 2's source listing still contains the old files.
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import read_events_stream

    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    parts = sorted(Path(stream_dir).glob("part-*"))
    assert len(parts) >= 4

    def run():
        stream = read_events_stream(spark, str(src), max_files_per_trigger=1)
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for p in parts[:2]:
        shutil.copy(p, src / p.name)
    run()
    n_first = spark.read.parquet(sink).count()
    for p in parts[2:]:
        shutil.copy(p, src / p.name)
    run()
    got = spark.read.parquet(sink)
    expect = spark.read.parquet(stream_dir)
    assert n_first == spark.read.parquet(*[str(src / p.name) for p in parts[:2]]).count()
    assert got.count() == expect.count()
    # no duplicates: event_id is unique in the source
    assert got.select("event_id").distinct().count() == expect.count()


def test_foreachbatch_upsert_partitioned(spark, stream_dir, tmp_path):
    # foreachBatch (batch_id, date)-partitioned overwrite sink: every
    # event lands exactly once across micro-batches, and REPLAYING a
    # batch (restart between sink write and checkpoint commit) leaves
    # the table unchanged — the idempotence property appends lack
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        read_events_stream,
        write_stream_upsert_partitioned,
    )

    sink = str(tmp_path / "table")
    stream = read_events_stream(spark, stream_dir, max_files_per_trigger=2)
    q = write_stream_upsert_partitioned(stream, sink, str(tmp_path / "ckpt"))
    upsert = q._batch_fn
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    total = spark.read.parquet(stream_dir).count()
    assert got.count() == total
    assert {"_batch_id", "event_date"} <= set(got.columns)
    n_batches = got.select("_batch_id").distinct().count()
    assert n_batches >= 2  # state really spanned micro-batches
    # replay batch 0 with identical content: counts must not change
    replay = spark.read.parquet(sink).where(F.col("_batch_id") == 0).drop(
        "_batch_id", "event_date"
    )
    upsert(replay, 0)
    again = spark.read.parquet(sink)
    assert again.count() == total
    assert again.select("event_id").distinct().count() == total


def test_watermark_advances_and_windows_finalize_once(spark, tmp_path):
    # In-order multi-batch stream: the event-time watermark must advance
    # with each batch's max event time minus the delay, and append-mode
    # window aggregation must emit each closed window EXACTLY once with
    # the full count — the finalization contract downstream batch tables
    # rely on. (Late-data drop timing is deliberately NOT asserted:
    # state eviction is lazy and engine-version-specific.)
    import os
    import time

    import pandas as pd

    from the_framework_for_clustering_time_series_data_spark.streaming.ops import windowed_value_stats

    src = tmp_path / "wm_src"
    src.mkdir()

    def mk(ids, tss, name, age):
        pdf = pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime(tss),
                "user_id": ids,
                "event_type": ["click"] * len(ids),
                "value": [float(i) for i in ids],
                "props": ["{}"] * len(ids),
            }
        )
        pdf.to_parquet(src / name, coerce_timestamps="us")
        now = time.time()
        os.utime(src / name, (now - age, now - age))

    mk([1, 2], ["2024-03-20 12:00:00", "2024-03-20 12:20:00"], "00_a.parquet", 90)
    mk([3], ["2024-03-20 12:40:00"], "01_b.parquet", 60)
    mk([4], ["2024-03-21 12:00:00"], "02_c.parquet", 30)  # closes Mar 20 windows
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        windowed_value_stats(stream)
        .writeStream.format("memory")
        .queryName("wm_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        marks = [
            p["eventTime"].get("watermark")
            for p in q.recentProgress
            if p["eventTime"].get("watermark")
        ]
    finally:
        q.stop()
    # watermark advanced monotonically and reached max(ts) - 2h
    assert marks == sorted(marks)
    assert marks[-1] == "2024-03-21T10:00:00.000Z"
    rows = spark.sql(
        "SELECT win_start, n FROM wm_sink ORDER BY win_start"
    ).collect()
    emitted = [(r["win_start"].isoformat(), r["n"]) for r in rows]
    # every Mar 20 sliding window closed exactly once, with ALL its
    # events (batches merged into state before finalization)
    assert emitted == [
        ("2024-03-20T11:30:00", 2),
        ("2024-03-20T12:00:00", 3),
        ("2024-03-20T12:30:00", 1),
    ]


def test_streaming_countmin_sketch_matches_batch(spark, stream_dir):
    """The count-min counters accumulated across micro-batches must
    equal the one-pass batch sketch exactly (mergeability), the state
    is the constant 256-row counter table, and probing the streamed
    counters yields estimates >= true counts (the CMS guarantee)."""
    from the_framework_for_clustering_time_series_data_spark.operators.sketch import (
        CMS_W,
        cms_bucket,
        cms_hash_dim,
    )
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        read_events_stream,
        streaming_countmin_sketch,
    )

    batch_df = spark.read.parquet(stream_dir)
    expect = {tuple(r) for r in streaming_countmin_sketch(batch_df).collect()}
    streamed = _run_stream(
        spark, streaming_countmin_sketch(read_events_stream(spark, stream_dir))
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == expect
    assert len(got) <= 4 * CMS_W  # fixed-size state, whatever the keyspace
    # probe: estimate = min over rows; never undercounts the truth
    truth = batch_df.groupBy("user_id").agg(F.count("*").alias("n_true"))
    probe = (
        truth.crossJoin(F.broadcast(cms_hash_dim(spark)))
        .select(
            "user_id",
            "n_true",
            F.col("i").alias("row_i"),
            cms_bucket(F.col("user_id"), F.col("a"), F.col("b")).alias("bucket"),
        )
        .join(streamed, ["row_i", "bucket"])
        .groupBy("user_id", "n_true")
        .agg(F.min("c").alias("n_est"))
    )
    bad = probe.where(F.col("n_est") < F.col("n_true")).count()
    assert bad == 0


def test_streaming_hll_registers_match_batch(spark, stream_dir):
    """HLL registers accumulated across micro-batches must equal the
    one-pass batch sketch exactly (register-wise max is associative +
    idempotent), the state is the bounded register table, and the
    estimate folded from the streamed registers lands inside the m=256
    HLL error band against the true distinct count."""
    from the_framework_for_clustering_time_series_data_spark.operators.sketch import (
        hll_estimate_sql,
        hll_sketch_agg,
    )
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        read_events_stream,
        streaming_hll_registers,
    )

    batch_df = spark.read.parquet(stream_dir)
    expect = {tuple(r) for r in streaming_hll_registers(batch_df).collect()}
    streamed = _run_stream(
        spark, streaming_hll_registers(read_events_stream(spark, stream_dir))
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == expect
    n_groups = batch_df.select("event_type").distinct().count()
    assert len(got) <= 256 * n_groups  # fixed-size state per group
    truth = {
        r["event_type"]: r["n"]
        for r in batch_df.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    est = {
        r["event_type"]: r["e"]
        for r in hll_sketch_agg(streamed)
        .withColumn("e", F.expr(hll_estimate_sql()))
        .collect()
    }
    assert est.keys() == truth.keys()
    for et, n in truth.items():
        assert abs(est[et] - n) <= max(3, 0.15 * n), f"{et}: {est[et]} vs {n}"


def test_streaming_scd2_matches_batch_build(spark, ordered_stream_dir):
    # incremental SCD2 with compaction == the batch cdc_scd2_compact
    # build on the same data: same transitions, same version numbers,
    # same valid_from stamps — state (2 scalars/key) survives batch
    # boundaries, no-op updates are dropped across them too
    from the_framework_for_clustering_time_series_data_spark.plans.registry import QUERIES
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        read_events_stream,
        streaming_scd2_compact,
    )

    batch = QUERIES["cdc_scd2_compact"](spark, SF_SMALL)
    expect = {
        (r.user_id, r.version, r.tier, r.valid_from) for r in batch.collect()
    }

    stream = read_events_stream(spark, ordered_stream_dir, max_files_per_trigger=1)
    got_df = _run_stream(spark, streaming_scd2_compact(stream), "append")
    got = {(r.user_id, r.version, r.tier, r.valid_from) for r in got_df.collect()}
    assert len(got) > 0
    assert got == expect


def test_streaming_merge_apply_matches_batch_across_restart(
    spark, ordered_stream_dir, tmp_path
):
    # foreachBatch MERGE-upsert == the batch cdc_merge_apply on the
    # same feed, ACROSS micro-batches and a mid-stream restart: run the
    # stream over the first half of the time-ordered files, stop, add
    # the rest, restart with the SAME checkpoint (only the new files
    # ingest), and the final target state — rows, balances, and the
    # kept/updated/inserted action provenance — must equal the batch
    # plan's output exactly. Soft-delete tombstones are what make the
    # delete-then-revive keys match (see streaming_merge_apply).
    import shutil
    from pathlib import Path

    from the_framework_for_clustering_time_series_data_spark.plans.registry import QUERIES
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        read_events_stream,
        read_merge_target,
        streaming_merge_apply,
    )

    expect = {tuple(r) for r in QUERIES["cdc_merge_apply"](spark, SF_SMALL).collect()}
    base = load_table(spark, SF_SMALL, "customer")

    src = tmp_path / "src"
    src.mkdir()
    chunks = sorted(Path(ordered_stream_dir).glob("chunk_*.parquet"))
    assert len(chunks) == 4
    for c in chunks[:2]:
        shutil.copy(c, src / c.name)

    tgt = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_merge_apply(
        read_events_stream(spark, str(src), max_files_per_trigger=1),
        base,
        tgt,
        ckpt,
    )
    q.awaitTermination(120)
    versions_run1 = len(list(Path(tgt).glob("target_v*")))
    assert versions_run1 >= 2  # seed + at least one applied batch

    for c in chunks[2:]:
        shutil.copy(c, src / c.name)
    q2 = streaming_merge_apply(
        read_events_stream(spark, str(src), max_files_per_trigger=1),
        base,
        tgt,
        ckpt,
    )
    q2.awaitTermination(120)
    # restart ingested ONLY the new files: exactly one new version per
    # new file beyond run 1's
    assert len(list(Path(tgt).glob("target_v*"))) == versions_run1 + 2

    got = {tuple(r) for r in read_merge_target(spark, tgt).collect()}
    assert len(got) > 0
    assert got == expect

    # idempotence: replaying the LAST batch (restart between sink
    # write and checkpoint commit) leaves the final state unchanged
    last_batch_id = len(list(Path(tgt).glob("target_v*"))) - 2
    feed_files = sorted(Path(src).glob("chunk_*.parquet"))
    replay = spark.read.parquet(str(feed_files[-1]))
    from pyspark.sql import functions as F2

    if "ts" in [f.name for f in replay.schema.fields]:
        from pyspark.sql.types import LongType

        if isinstance(replay.schema["ts"].dataType, LongType):
            replay = replay.withColumn(
                "ts", F2.timestamp_micros(F2.expr("ts div 1000"))
            )
    replay = replay.where(
        (F2.col("ts") >= F2.lit("2024-01-25").cast("timestamp"))
        & F2.col("event_type").isin("purchase", "error")
    ).select(
        (F2.col("user_id") * 11 + 3).alias("key"),
        "ts",
        "event_id",
        (F2.col("event_type") == "error").alias("is_delete"),
        F2.round(F2.col("value") * 10, 2).alias("new_bal"),
    )
    q2._batch_fn(replay, last_batch_id)
    again = {tuple(r) for r in read_merge_target(spark, tgt).collect()}
    assert again == expect


def test_streaming_psi_matches_batch(spark, stream_dir):
    """Round-8 ask #7: the PSI drift monitor's streaming form. Bin
    counts accumulated across micro-batches (bounded state: types × 10
    fixed bins, watermark-bounded lateness) must equal the one-pass
    batch counts exactly, and folding the streamed snapshot through
    the SHARED psi_from_bin_counts fold must reproduce the batch
    dq_psi_value_drift PSI values bit for bit."""
    from the_framework_for_clustering_time_series_data_spark.operators.stats import PSI_N_BINS, psi_from_bin_counts
    from the_framework_for_clustering_time_series_data_spark.plans.registry import QUERIES
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        read_events_stream,
        streaming_psi_bin_counts,
    )

    batch_df = spark.read.parquet(stream_dir)
    expect_counts = {
        tuple(r) for r in streaming_psi_bin_counts(batch_df).collect()
    }
    streamed = _run_stream(
        spark,
        streaming_psi_bin_counts(read_events_stream(spark, stream_dir)),
        "complete",
    )
    got_counts = {tuple(r) for r in streamed.collect()}
    assert got_counts == expect_counts
    n_types = batch_df.select("event_type").distinct().count()
    assert len(got_counts) <= n_types * PSI_N_BINS  # bounded state

    # the live PSI folded from the streamed snapshot == the batch plan
    # (materialize the bounded snapshot first: the fold self-joins the
    # counts, which a memory-sink view can't do without ref conflicts)
    snapshot = spark.createDataFrame(streamed.collect(), streamed.schema)
    batch_psi = {
        tuple(r) for r in QUERIES["dq_psi_value_drift"](spark, SF_SMALL).collect()
    }
    live_psi = {tuple(r) for r in psi_from_bin_counts(snapshot).collect()}
    assert live_psi == batch_psi
    assert len(live_psi) > 0


def test_streaming_mv_maintainer_matches_batch_across_restart(
    spark, ordered_stream_dir, tmp_path
):
    """Round-8 ask #8: the foreachBatch daily-partial maintainer ==
    the batch mv_incremental_rollup rebuild, ACROSS micro-batches and
    a mid-stream restart (first half of the files, stop, add the rest,
    same checkpoint — only the new files ingest), with replay
    idempotence on the last batch (the streaming_merge_apply
    versioned-snapshot discipline)."""
    import shutil
    from pathlib import Path

    from the_framework_for_clustering_time_series_data_spark.plans.registry import QUERIES
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        read_events_stream,
        read_mv_rollup,
        streaming_mv_daily_maintainer,
    )

    expect = {
        tuple(r) for r in QUERIES["mv_incremental_rollup"](spark, SF_SMALL).collect()
    }

    src = tmp_path / "src"
    src.mkdir()
    chunks = sorted(Path(ordered_stream_dir).glob("chunk_*.parquet"))
    assert len(chunks) == 4
    for c in chunks[:2]:
        shutil.copy(c, src / c.name)

    tgt = str(tmp_path / "mv_target")
    ckpt = str(tmp_path / "mv_ckpt")
    q = streaming_mv_daily_maintainer(
        read_events_stream(spark, str(src), max_files_per_trigger=1), tgt, ckpt
    )
    q.awaitTermination(120)
    versions_run1 = len(list(Path(tgt).glob("partials_v*")))
    assert versions_run1 >= 2  # empty seed + at least one folded batch

    for c in chunks[2:]:
        shutil.copy(c, src / c.name)
    q2 = streaming_mv_daily_maintainer(
        read_events_stream(spark, str(src), max_files_per_trigger=1), tgt, ckpt
    )
    q2.awaitTermination(120)
    assert len(list(Path(tgt).glob("partials_v*"))) == versions_run1 + 2

    got = {tuple(r) for r in read_mv_rollup(spark, tgt).collect()}
    assert len(got) > 0
    assert got == expect

    # idempotence: replaying the LAST batch (restart between sink
    # write and checkpoint commit) rewrites its version identically.
    # The batch→file mapping comes from the checkpoint's file-source
    # log (after a restart, discovery order need not be name order).
    import json

    last_version = len(list(Path(tgt).glob("partials_v*"))) - 1
    last_batch_id = last_version - 1
    src_log = Path(ckpt) / "sources" / "0" / str(last_batch_id)
    batch_files = [
        json.loads(line)["path"]
        for line in src_log.read_text().splitlines()
        if line.startswith("{")
    ]
    replay = spark.read.parquet(*batch_files).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    q2._batch_fn(replay, last_batch_id)
    got2 = {tuple(r) for r in read_mv_rollup(spark, tgt).collect()}
    assert got2 == expect


def test_streaming_simhash_dedup_matches_batch_across_restart(spark, tmp_path):
    """Round-8 extension: near-dup dedup ON INGEST. Verdicts
    accumulated across micro-batches and a mid-stream restart must
    equal the batch form (near_dup_of = min smaller-id doc within
    Hamming ≤ 3 over ALL pairs) when docs ingest in doc_id order —
    planted exact copies guarantee nonzero duplicate verdicts — and
    replaying the last batch (restart between write and checkpoint
    commit) leaves the state unchanged."""
    import json

    from the_framework_for_clustering_time_series_data_spark.operators import dedup
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        read_simhash_dedup,
        streaming_simhash_dedup,
    )

    base = (
        load_table(spark, SF_SMALL, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 100)
    )
    copies = base.where(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    docs = base.unionByName(copies)

    # batch expected: min smaller-id match per doc over ALL pairs
    pairs = dedup.simhash_pairs(docs, max_hamming=3)
    expect_dups = {
        r["id_b"]: r["m"]
        for r in pairs.groupBy("id_b").agg(F.min("id_a").alias("m")).collect()
    }
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    expect = {(i, expect_dups.get(i, -1)) for i in all_ids}
    assert sum(1 for _, d in expect if d >= 0) >= 30  # planted copies found

    # stream the docs in doc_id order, 4 files, restart after 2
    src = tmp_path / "docs_src"
    src.mkdir()
    ordered = docs.orderBy("doc_id").collect()
    quarter = (len(ordered) + 3) // 4
    for i in range(4):
        chunk = spark.createDataFrame(
            ordered[i * quarter : (i + 1) * quarter], docs.schema
        )
        chunk.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"tmp_{i}")
        )
        part = next((tmp_path / f"tmp_{i}").glob("part-*.parquet"))
        part.rename(src / f"chunk_{i}.parquet")

    def doc_stream():
        schema = spark.read.parquet(str(src)).schema
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    idx = str(tmp_path / "dedup_state")
    ckpt = str(tmp_path / "dedup_ckpt")
    # run over the first two files only (simulate by moving the rest out)
    held = [src / "chunk_2.parquet", src / "chunk_3.parquet"]
    stash = tmp_path / "stash"
    stash.mkdir()
    for p in held:
        p.rename(stash / p.name)
    q = streaming_simhash_dedup(doc_stream(), idx, ckpt)
    q.awaitTermination(120)
    n_v1 = len(list(Path(idx).glob("state_v*")))
    assert n_v1 >= 2

    for p in held:
        (stash / p.name).rename(p)
    q2 = streaming_simhash_dedup(doc_stream(), idx, ckpt)
    q2.awaitTermination(120)
    assert len(list(Path(idx).glob("state_v*"))) == n_v1 + 2

    got = {
        (r["id"], r["near_dup_of"])
        for r in read_simhash_dedup(spark, idx).collect()
    }
    assert got == expect

    # replay idempotence: batch→file mapping from the checkpoint log
    last_version = len(list(Path(idx).glob("state_v*"))) - 1
    src_log = Path(ckpt) / "sources" / "0" / str(last_version - 1)
    batch_files = [
        json.loads(line)["path"]
        for line in src_log.read_text().splitlines()
        if line.startswith("{")
    ]
    q2._batch_fn(spark.read.parquet(*batch_files), last_version - 1)
    got2 = {
        (r["id"], r["near_dup_of"])
        for r in read_simhash_dedup(spark, idx).collect()
    }
    assert got2 == expect


def test_streaming_ivf_maintainer_probe_parity_across_restart(spark, tmp_path):
    """Round-9 verdict ask #5: streaming ANN ingest. The incrementally
    maintained IVF index (frozen deterministic quantizer from batch 0,
    per-batch cell-partitioned deltas, versioned per-cell count
    metadata) must serve probes IDENTICAL to the batch rebuild with
    the same quantizer — across micro-batches, a mid-stream restart,
    and a last-batch replay (restart between delta write and
    checkpoint commit). Re-training the quantizer is a rebuild event
    by contract, so 'batch rebuild' = one-pass frozen-centroid
    assignment of everything that arrived."""
    import json
    from pathlib import Path

    from the_framework_for_clustering_time_series_data_spark.operators.similarity import (
        _ivf_probe_scored,
        assign_cells_frozen,
    )
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        read_ivf_stream_index,
        streaming_ivf_index_maintainer,
        streaming_ivf_probe,
    )

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    n_all = vecs.count()
    queries = vecs.where(F.col("vec_id") < 10)

    # stream the vectors in vec_id order, 4 files, restart after 2
    src = tmp_path / "vec_src"
    src.mkdir()
    ordered = vecs.orderBy("vec_id").collect()
    quarter = (len(ordered) + 3) // 4
    for i in range(4):
        chunk = spark.createDataFrame(
            ordered[i * quarter : (i + 1) * quarter], vecs.schema
        )
        chunk.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"tmp_{i}"))
        part = next((tmp_path / f"tmp_{i}").glob("part-*.parquet"))
        part.rename(src / f"chunk_{i}.parquet")

    def vec_stream():
        schema = spark.read.parquet(str(src)).schema
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    idx = str(tmp_path / "ivf_index")
    ckpt = str(tmp_path / "ivf_ckpt")
    held = [src / "chunk_2.parquet", src / "chunk_3.parquet"]
    stash = tmp_path / "stash"
    stash.mkdir()
    for p in held:
        p.rename(stash / p.name)
    q = streaming_ivf_index_maintainer(vec_stream(), idx, ckpt, n_cells=8)
    q.awaitTermination(120)
    n_d1 = len(list((Path(idx) / "cells").glob("delta=*")))
    assert n_d1 >= 1
    for p in held:
        (stash / p.name).rename(p)
    q2 = streaming_ivf_index_maintainer(vec_stream(), idx, ckpt, n_cells=8)
    q2.awaitTermination(120)
    assert len(list((Path(idx) / "cells").glob("delta=*"))) == n_d1 + 2

    # the maintained index holds every arrived vector exactly once
    cells = read_ivf_stream_index(spark, idx)
    assert cells.count() == n_all
    assert cells.select("nbr_id").distinct().count() == n_all
    # metadata chain agrees with the index contents
    last_meta = max(
        int(p.name.rsplit("_v", 1)[1]) for p in Path(idx).glob("meta_v*")
    )
    meta = {
        r["cell"]: r["n"]
        for r in spark.read.parquet(f"{idx}/meta_v{last_meta}").collect()
    }
    by_cell = {
        r["cell"]: r["n"]
        for r in cells.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    assert meta == by_cell

    # probe parity vs the one-pass batch rebuild with the SAME quantizer
    got = {
        tuple(r)
        for r in streaming_ivf_probe(spark, idx, queries, k=5, nprobe=3).collect()
    }
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import _load_centroids

    centers, cell_ids = _load_centroids(spark, idx)
    batch_cells = assign_cells_frozen(vecs, centers, cell_ids=cell_ids)
    qs = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    expect = {
        tuple(r)
        for r in _ivf_probe_scored(
            batch_cells, qs, centers, 5, 3, cell_ids=cell_ids
        ).collect()
    }
    assert len(got) > 0
    assert got == expect

    # replay idempotence: batch→file mapping from the checkpoint log
    last_delta = max(
        int(p.name.split("=", 1)[1])
        for p in (Path(idx) / "cells").glob("delta=*")
    )
    src_log = Path(ckpt) / "sources" / "0" / str(last_delta - 1)
    batch_files = [
        json.loads(line)["path"]
        for line in src_log.read_text().splitlines()
        if line.startswith("{")
    ]
    q2._batch_fn(spark.read.parquet(*batch_files), last_delta - 1)
    got2 = {
        tuple(r)
        for r in streaming_ivf_probe(spark, idx, queries, k=5, nprobe=3).collect()
    }
    assert got2 == expect


def test_ivf_stream_index_compaction_and_probe_pruning(spark, tmp_path):
    """Compaction folds every delta into one with probe results
    IDENTICAL before/after (the LSM maintenance step the maintainer's
    docstring prescribes), and the streamed-index probe keeps dynamic
    partition pruning on `cell` — the property that makes the
    persisted layout worth maintaining at all."""
    from pathlib import Path

    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        compact_ivf_stream_index,
        ivf_maintain_batch,
        read_ivf_stream_index,
        streaming_ivf_probe,
    )

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    rows = vecs.orderBy("vec_id").collect()
    idx = str(tmp_path / "ivf_idx")
    per = (len(rows) + 3) // 4
    for b in range(4):
        chunk = spark.createDataFrame(rows[b * per : (b + 1) * per], vecs.schema)
        ivf_maintain_batch(chunk, b, idx, n_cells=8)
    queries = vecs.where(F.col("vec_id") < 10)
    before = {
        tuple(r)
        for r in streaming_ivf_probe(spark, idx, queries, k=5, nprobe=3).collect()
    }
    n_folded = compact_ivf_stream_index(spark, idx)
    assert n_folded == 4
    assert len(list((Path(idx) / "cells").glob("delta=*"))) == 1
    after_df = streaming_ivf_probe(spark, idx, queries, k=5, nprobe=3)
    after = {tuple(r) for r in after_df.collect()}
    assert after == before and len(after) > 0
    assert read_ivf_stream_index(spark, idx).count() == len(rows)
    # idempotent / no-op on a single delta
    assert compact_ivf_stream_index(spark, idx) == 1
    # plan lock: the probe's cell join dynamic-partition-prunes
    plan = after_df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_ivf_compaction_replay_guard_and_crash_recovery(spark, tmp_path):
    """Round-9 review findings on compact_ivf_stream_index: (a) with a
    checkpoint whose commits log is NOT caught up to the top delta's
    batch, compaction must refuse (a restarted maintainer would replay
    that batch and mode-overwrite the fold down to one batch's rows);
    (b) a crash between the _compact_commit marker and the swap leaves
    a state the next reader completes idempotently — the index is
    readable at every crash point."""
    from pathlib import Path

    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        compact_ivf_stream_index,
        ivf_maintain_batch,
        read_ivf_stream_index,
    )

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    rows = vecs.orderBy("vec_id").collect()
    idx = str(tmp_path / "idx")
    per = (len(rows) + 1) // 2
    for b in range(2):
        chunk = spark.createDataFrame(rows[b * per : (b + 1) * per], vecs.schema)
        ivf_maintain_batch(chunk, b, idx, n_cells=8)

    # (a) commits log behind (only batch 0 committed; top delta needs 1)
    ckpt = tmp_path / "ckpt"
    (ckpt / "commits").mkdir(parents=True)
    (ckpt / "commits" / "0").write_text("{}")
    import pytest

    with pytest.raises(ValueError, match="refusing to compact"):
        compact_ivf_stream_index(spark, idx, checkpoint=str(ckpt))
    assert len(list((Path(idx) / "cells").glob("delta=*"))) == 2  # untouched
    # caught up → folds
    (ckpt / "commits" / "1").write_text("{}")
    assert compact_ivf_stream_index(spark, idx, checkpoint=str(ckpt)) == 2
    assert len(list((Path(idx) / "cells").glob("delta=*"))) == 1

    # (b) crash after the commit marker, before the swap: stage a fold
    # and write the marker by hand, leaving the original deltas in
    # place — the next read must finish the swap and serve everything
    chunk = spark.createDataFrame(rows[:per], vecs.schema)
    ivf_maintain_batch(chunk, 2, idx, n_cells=8)  # second delta again
    n_all = read_ivf_stream_index(spark, idx).count()
    staged = Path(idx) / "_compact_tmp"
    (
        read_ivf_stream_index(spark, idx)
        .drop("delta")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(str(staged))
    )
    top = max(
        int(p.name.split("=", 1)[1])
        for p in (Path(idx) / "cells").glob("delta=*")
    )
    (Path(idx) / "_compact_commit").write_text(str(top))
    got = read_ivf_stream_index(spark, idx)  # completes the swap
    assert got.count() == n_all
    assert len(list((Path(idx) / "cells").glob("delta=*"))) == 1
    assert not (Path(idx) / "_compact_commit").exists()
    assert not staged.exists()


def test_streaming_sq8_maintainer_probe_parity_across_restart(spark, tmp_path):
    """The SQ8 ingest form (scales frozen from batch 0, per-batch code
    deltas, versioned (n, clipped) metadata) must serve probes
    IDENTICAL to the one-pass frozen-scale batch encode of everything
    that arrived — across micro-batches, a mid-stream restart, and a
    last-batch replay. Re-deriving the scales is a rebuild event by
    contract (the clip-rate metadata is the signal for it)."""
    import json
    from pathlib import Path

    from the_framework_for_clustering_time_series_data_spark.operators.similarity import (
        _r6,
        sq8_encode,
        sq8_rank,
    )
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        read_sq8_stream_index,
        sq8_probe_stream_index,
        streaming_sq8_index_maintainer,
    )

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    n_all = vecs.count()
    queries = vecs.where(F.col("vec_id") < 10)

    src = tmp_path / "vec_src"
    src.mkdir()
    ordered = vecs.orderBy("vec_id").collect()
    quarter = (len(ordered) + 3) // 4
    for i in range(4):
        chunk = spark.createDataFrame(
            ordered[i * quarter : (i + 1) * quarter], vecs.schema
        )
        chunk.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"tmp_{i}"))
        part = next((tmp_path / f"tmp_{i}").glob("part-*.parquet"))
        part.rename(src / f"chunk_{i}.parquet")

    def vec_stream():
        schema = spark.read.parquet(str(src)).schema
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    idx = str(tmp_path / "sq8_index")
    ckpt = str(tmp_path / "sq8_ckpt")
    held = [src / "chunk_2.parquet", src / "chunk_3.parquet"]
    stash = tmp_path / "stash"
    stash.mkdir()
    for p in held:
        p.rename(stash / p.name)
    q = streaming_sq8_index_maintainer(vec_stream(), idx, ckpt)
    q.awaitTermination(120)
    n_d1 = len(list((Path(idx) / "codes").glob("delta=*")))
    assert n_d1 >= 1
    for p in held:
        (stash / p.name).rename(p)
    q2 = streaming_sq8_index_maintainer(vec_stream(), idx, ckpt)
    q2.awaitTermination(120)
    assert len(list((Path(idx) / "codes").glob("delta=*"))) == n_d1 + 2

    # every arrived vector present exactly once; metadata agrees
    codes = read_sq8_stream_index(spark, idx)
    assert codes.count() == n_all
    assert codes.select("nbr_id").distinct().count() == n_all
    last_meta = max(
        int(p.name.rsplit("_v", 1)[1]) for p in Path(idx).glob("meta_v*")
    )
    meta = spark.read.parquet(f"{idx}/meta_v{last_meta}").collect()[0]
    assert meta["n"] == n_all
    # batch-0 scales cover batch 0 exactly, later batches may clip —
    # the count is a valid non-negative drift signal either way
    assert meta["clipped"] >= 0

    # probe parity vs the one-pass frozen-scale batch encode
    got = {
        tuple(r)
        for r in sq8_probe_stream_index(spark, idx, queries, k=5).collect()
    }
    scales = spark.read.parquet(f"{idx}/scales")
    all_q = vecs.select(
        F.col("vec_id").alias("nbr_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: _r6(x)
        ).alias("v"),
    )
    batch_codes = sq8_encode(all_q, scales)
    qdf = all_q.where(F.col("nbr_id") < 10)
    qcodes = sq8_encode(qdf, scales).select(
        F.col("nbr_id").alias("query_id"), F.col("q8").alias("qq8")
    )
    qs = qdf.select(F.col("nbr_id").alias("query_id"), F.col("v").alias("qv"))
    expect = {tuple(r) for r in sq8_rank(batch_codes, qcodes, qs, 5, 50).collect()}
    assert len(got) > 0
    assert got == expect

    # replay idempotence: re-run the last batch through the kernel
    last_delta = max(
        int(p.name.split("=", 1)[1])
        for p in (Path(idx) / "codes").glob("delta=*")
    )
    src_log = Path(ckpt) / "sources" / "0" / str(last_delta - 1)
    batch_files = [
        json.loads(line)["path"]
        for line in src_log.read_text().splitlines()
        if line.startswith("{")
    ]
    q2._batch_fn(spark.read.parquet(*batch_files), last_delta - 1)
    got2 = {
        tuple(r)
        for r in sq8_probe_stream_index(spark, idx, queries, k=5).collect()
    }
    assert got2 == expect


def test_sq8_compaction_probe_identity_and_guards(spark, tmp_path):
    """compact_sq8_stream_index folds every codes delta into one with
    probe results IDENTICAL before/after, shares the IVF form's replay
    guard (refuse when the checkpoint commits log lags the top delta),
    and a crash between the commit marker and the swap is completed
    idempotently by the next reader."""
    from pathlib import Path

    import pytest

    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        compact_sq8_stream_index,
        read_sq8_stream_index,
        sq8_maintain_batch,
        sq8_probe_stream_index,
    )

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    rows = vecs.orderBy("vec_id").collect()
    queries = vecs.where(F.col("vec_id") < 10)
    idx = str(tmp_path / "sq8_idx")
    per = (len(rows) + 1) // 2
    for b in range(2):
        chunk = spark.createDataFrame(rows[b * per : (b + 1) * per], vecs.schema)
        sq8_maintain_batch(chunk, b, idx)
    before = {
        tuple(r)
        for r in sq8_probe_stream_index(spark, idx, queries, k=5).collect()
    }
    n_all = read_sq8_stream_index(spark, idx).count()

    # replay guard: commits log behind -> refuse, deltas untouched
    ckpt = tmp_path / "ckpt"
    (ckpt / "commits").mkdir(parents=True)
    (ckpt / "commits" / "0").write_text("{}")
    with pytest.raises(ValueError, match="refusing to compact"):
        compact_sq8_stream_index(spark, idx, checkpoint=str(ckpt))
    assert len(list((Path(idx) / "codes").glob("delta=*"))) == 2
    (ckpt / "commits" / "1").write_text("{}")
    assert compact_sq8_stream_index(spark, idx, checkpoint=str(ckpt)) == 2
    assert len(list((Path(idx) / "codes").glob("delta=*"))) == 1
    after = {
        tuple(r)
        for r in sq8_probe_stream_index(spark, idx, queries, k=5).collect()
    }
    assert before and after == before
    assert read_sq8_stream_index(spark, idx).count() == n_all

    # crash after the commit marker, before the swap: the next read
    # completes the swap and serves every row
    chunk = spark.createDataFrame(rows[:per], vecs.schema)
    sq8_maintain_batch(chunk, 2, idx)
    n_two = read_sq8_stream_index(spark, idx).count()
    staged = Path(idx) / "_compact_tmp"
    read_sq8_stream_index(spark, idx).drop("delta").write.mode(
        "overwrite"
    ).parquet(str(staged))
    top = max(
        int(p.name.split("=", 1)[1])
        for p in (Path(idx) / "codes").glob("delta=*")
    )
    (Path(idx) / "_compact_commit").write_text(str(top))
    got = read_sq8_stream_index(spark, idx)  # completes the swap
    assert got.count() == n_two
    assert len(list((Path(idx) / "codes").glob("delta=*"))) == 1
    assert not (Path(idx) / "_compact_commit").exists()
    assert not staged.exists()


def test_sq8_empty_batch0_does_not_poison_scales(spark, tmp_path):
    """Round-9 advice: an EMPTY batch 0 must not freeze s=[] forever
    (which would encode all-NULL codes and silently empty every later
    probe). The kernel skips the freeze, still writes the empty delta
    and rolled meta (replay versioning stays contiguous), and the first
    NON-empty batch freezes real scales with the dim stamped in."""
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        sq8_maintain_batch,
        sq8_probe_stream_index,
    )

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "sq8_idx")
    empty = vecs.where(F.lit(False))
    sq8_maintain_batch(empty, 0, idx)
    assert not (Path(idx) / "scales" / "_SUCCESS").exists()
    assert (Path(idx) / "codes" / "delta=1" / "_SUCCESS").exists()
    meta1 = spark.read.parquet(f"{idx}/meta_v1").collect()[0]
    assert (meta1["n"], meta1["clipped"]) == (0, 0)

    sq8_maintain_batch(vecs, 1, idx)
    scales = spark.read.parquet(f"{idx}/scales").collect()[0]
    assert scales["dim"] == 64 and len(scales["s"]) == 64
    queries = vecs.where(F.col("vec_id") < 3)
    got = sq8_probe_stream_index(spark, idx, queries, k=3).collect()
    assert len(got) == 9  # 3 queries x k=3 — the index serves normally


def test_sq8_dim_mismatch_fails_loudly(spark, tmp_path):
    """Round-9 advice: probing or maintaining with a dim that does not
    match the frozen index layout must raise, not silently emit NULL
    code components / empty probe results."""
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming.ops import (
        sq8_maintain_batch,
        sq8_probe_stream_index,
    )

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "sq8_idx")
    sq8_maintain_batch(vecs.where(F.col("vec_id") < 100), 0, idx)
    queries = vecs.where(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="dim mismatch"):
        sq8_probe_stream_index(spark, idx, queries, k=3, dim=32)
    with pytest.raises(ValueError, match="dim mismatch"):
        sq8_maintain_batch(vecs.where(F.col("vec_id") >= 100), 1, idx, dim=128)
    # declared-dim freeze that disagrees with the data fails at freeze
    idx2 = str(tmp_path / "sq8_idx2")
    with pytest.raises(ValueError, match="refusing to freeze"):
        sq8_maintain_batch(vecs.where(F.col("vec_id") < 100), 0, idx2, dim=32)


def test_sq8_requantize_drift_decision_crash_and_replay(spark, tmp_path, monkeypatch):
    """Round-9 verdict ask #4: the drift metadata is ACTED on. The
    policy no-ops below threshold; the rebuild runs under a crash-safe
    two-phase swap (a crash between the _requant_commit marker and the
    finish is completed by the next reader, probe-identical to the
    one-pass full-corpus build); a stale checkpoint refuses the
    rebuild (replay guard); and the post-swap marker-only crash state
    (swap done, marker not yet unlinked) re-finishes without data
    loss."""
    from the_framework_for_clustering_time_series_data_spark.operators import similarity
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming import ops

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    cut = vecs.agg(F.max("vec_id")).collect()[0][0] // 4
    idx = str(tmp_path / "sq8_idx")
    ops.sq8_maintain_batch(vecs.where(F.col("vec_id") < cut), 0, idx)
    ops.sq8_maintain_batch(vecs.where(F.col("vec_id") >= cut), 1, idx)

    drift = ops.ann_index_drift(spark, idx)
    assert drift["kind"] == "sq8" and drift["clipped"] > 0
    assert drift["clip_rate"] > 0

    # below-threshold: decision declines, index untouched
    assert ops.sq8_requantize(spark, idx, max_clip_rate=1.0) is False
    assert (Path(idx) / "codes" / "delta=2").exists()

    # stale checkpoint: replay guard refuses the rebuild
    ckpt = tmp_path / "stale_ckpt"
    (ckpt / "commits").mkdir(parents=True)
    (ckpt / "commits" / "0").write_text("{}")
    with pytest.raises(ValueError, match="refusing to requantize"):
        ops.sq8_requantize(spark, idx, checkpoint=str(ckpt), force=True)

    # crash between phase-1 commit and finish: marker + stage on disk
    with monkeypatch.context() as m:
        m.setattr(ops, "_requant_finish", lambda d: None)
        assert ops.sq8_requantize(spark, idx, max_clip_rate=0.0) is True
    assert (Path(idx) / "_requant_commit").exists()
    assert (Path(idx) / "_requant_tmp" / "scales").exists()

    # the next probe completes the swap and matches the one-pass
    # full-corpus SQ8 build exactly
    queries = vecs.where(F.col("vec_id") < 10)
    got = {
        tuple(r)
        for r in ops.sq8_probe_stream_index(spark, idx, queries, k=5).collect()
    }
    expect = {
        tuple(r)
        for r in similarity.sq8_topk(vecs, queries, k=5, rerank=50).collect()
    }
    assert got == expect and len(got) > 0
    assert not (Path(idx) / "_requant_commit").exists()
    assert not (Path(idx) / "_requant_tmp").exists()
    # metadata reset: nothing clips against full-corpus scales
    drift2 = ops.ann_index_drift(spark, idx)
    assert drift2["clipped"] == 0 and drift2["n"] == vecs.count()

    # post-swap marker-only crash state: re-finish is a no-op swap
    n_before = ops.read_sq8_stream_index(spark, idx).count()
    (Path(idx) / "_requant_commit").write_text("1")
    got2 = {
        tuple(r)
        for r in ops.sq8_probe_stream_index(spark, idx, queries, k=5).collect()
    }
    assert got2 == expect
    assert ops.read_sq8_stream_index(spark, idx).count() == n_before


def test_ivf_recenter_drift_decision_and_batch_parity(spark, tmp_path):
    """ivf_recenter fires on cell skew, retrains the deterministic
    quantizer over the full delta union, and the swapped index probes
    BIT-IDENTICAL to the from-scratch deterministic batch build; a
    replayed maintainer batch right after the swap is refused by the
    guard; the swap also survives the marker-only crash state."""
    from the_framework_for_clustering_time_series_data_spark.operators import similarity
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming import ops

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    cut = vecs.agg(F.max("vec_id")).collect()[0][0] // 4
    idx = str(tmp_path / "ivf_idx")
    ops.ivf_maintain_batch(vecs.where(F.col("vec_id") < cut), 0, idx, n_cells=16)
    ops.ivf_maintain_batch(vecs.where(F.col("vec_id") >= cut), 1, idx, n_cells=16)

    drift = ops.ann_index_drift(spark, idx)
    assert drift["kind"] == "ivf" and drift["n"] == vecs.count()
    assert drift["cell_skew"] > 1.0

    # decision declines below threshold
    assert ops.ivf_recenter(spark, idx, max_cell_skew=1e9) is False
    # stale checkpoint refuses
    ckpt = tmp_path / "stale_ckpt"
    (ckpt / "commits").mkdir(parents=True)
    (ckpt / "commits" / "0").write_text("{}")
    with pytest.raises(ValueError, match="refusing to recenter"):
        ops.ivf_recenter(spark, idx, checkpoint=str(ckpt), force=True)

    assert ops.ivf_recenter(spark, idx, max_cell_skew=1.0) is True
    queries = vecs.where(F.col("vec_id") < 10)
    got = {
        tuple(r)
        for r in ops.streaming_ivf_probe(
            spark, idx, queries, k=5, nprobe=4
        ).collect()
    }
    expect = {
        tuple(r)
        for r in similarity.ivf_topk_deterministic(
            vecs, queries, k=5, n_cells=16, nprobe=4
        ).collect()
    }
    assert got == expect and len(got) > 0

    # recentered metadata matches the re-assigned cells
    drift2 = ops.ann_index_drift(spark, idx)
    assert drift2["n"] == vecs.count()
    # marker-only crash state completes idempotently, no data loss
    (Path(idx) / "_requant_commit").write_text("1")
    got2 = {
        tuple(r)
        for r in ops.streaming_ivf_probe(
            spark, idx, queries, k=5, nprobe=4
        ).collect()
    }
    assert got2 == expect


def test_compact_finish_marker_only_crash_state(spark, tmp_path):
    """Round-10 fix: a crash between the compaction's final rename and
    the marker unlink used to make the idempotent re-run DELETE
    delta={top} (the fold itself) with nothing staged to replace it.
    The fold-inside-base ordering closes the window: re-finishing a
    marker-only state leaves the index intact."""
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming import ops

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "sq8_idx")
    ops.sq8_maintain_batch(vecs.where(F.col("vec_id") < 100), 0, idx)
    ops.sq8_maintain_batch(vecs.where(F.col("vec_id") >= 100), 1, idx)
    assert ops.compact_sq8_stream_index(spark, idx) == 2
    n = ops.read_sq8_stream_index(spark, idx).count()
    assert n == vecs.count()
    # simulate the crash state: swap complete, marker still present
    (Path(idx) / "_compact_commit").write_text("2")
    got = ops.read_sq8_stream_index(spark, idx)  # completes the "swap"
    assert got.count() == n  # previously: 0 rows — the fold was deleted
    assert not (Path(idx) / "_compact_commit").exists()


def test_sq8_maintain_continues_after_requantize(spark, tmp_path):
    """Lifecycle completeness: after a drift-triggered requantize, the
    maintainer keeps ingesting — the next batch encodes against the NEW
    scales, appends its delta on top of the folded one, the meta chain
    stays contiguous, and probes equal the one-pass full-corpus build
    with those same (full-corpus-of-batch-0..1) frozen scales."""
    from the_framework_for_clustering_time_series_data_spark.operators import similarity
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming import ops

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    mx = vecs.agg(F.max("vec_id")).collect()[0][0]
    cut1, cut2 = mx // 4, mx // 2
    idx = str(tmp_path / "sq8_idx")
    ops.sq8_maintain_batch(vecs.where(F.col("vec_id") < cut1), 0, idx)
    ops.sq8_maintain_batch(
        vecs.where((F.col("vec_id") >= cut1) & (F.col("vec_id") < cut2)), 1, idx
    )
    assert ops.sq8_requantize(spark, idx, max_clip_rate=0.0) is True
    # post-requantize ingest: batch 2 appends against the new scales
    ops.sq8_maintain_batch(vecs.where(F.col("vec_id") >= cut2), 2, idx)
    codes = ops.read_sq8_stream_index(spark, idx)
    assert codes.count() == vecs.count()
    assert sorted(codes.select("delta").distinct().toPandas()["delta"]) == [2, 3]
    meta = spark.read.parquet(f"{idx}/meta_v3").collect()[0]
    assert meta["n"] == vecs.count()

    # probe parity: same scales (frozen from batches 0-1 union) drive a
    # one-pass batch encode of everything that arrived
    queries = vecs.where(F.col("vec_id") < 10)
    got = {
        tuple(r)
        for r in ops.sq8_probe_stream_index(spark, idx, queries, k=5).collect()
    }
    scales = spark.read.parquet(f"{idx}/scales")
    all_q = similarity._r6_corpus(vecs, "vec_id", "embedding")
    batch_codes = similarity.sq8_encode(all_q, scales)
    qdf = all_q.where(F.col("nbr_id") < 10)
    qcodes = similarity.sq8_encode(qdf, scales).select(
        F.col("nbr_id").alias("query_id"), F.col("q8").alias("qq8")
    )
    qs = qdf.select(F.col("nbr_id").alias("query_id"), F.col("v").alias("qv"))
    expect = {
        tuple(r)
        for r in similarity.sq8_rank(batch_codes, qcodes, qs, 5, 50).collect()
    }
    assert got == expect and len(got) > 0


def test_requantize_heals_crashed_compaction_first(spark, tmp_path):
    """Round-10 advice (medium): a compaction that crashed mid-phase-2
    leaves some delta=* dirs deleted and the fold staged as _fold_{top}
    — which the delta glob ignores. A subsequent requantize must
    complete that swap FIRST (reader order: requant, then compact), or
    it derives scales from a PARTIAL corpus and installs them; the next
    reader's _compact_finish would then reinstall the full old-scales
    codes against the new scales — silently wrong probes."""
    from the_framework_for_clustering_time_series_data_spark.operators import similarity
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming import ops

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    cut = vecs.agg(F.max("vec_id")).collect()[0][0] // 4
    idx = str(tmp_path / "sq8_idx")
    ops.sq8_maintain_batch(vecs.where(F.col("vec_id") < cut), 0, idx)
    ops.sq8_maintain_batch(vecs.where(F.col("vec_id") >= cut), 1, idx)
    n_all = vecs.count()

    # hand-build the mid-phase-2 compaction crash state: the fold (full
    # union) sits inside the base as _fold_2, delta=1 is already gone,
    # delta=2 still present, marker committed
    import shutil

    base = Path(idx) / "codes"
    full = ops.read_sq8_stream_index(spark, idx).drop("delta")
    full.coalesce(1).write.mode("overwrite").parquet(str(base / "_fold_2"))
    shutil.rmtree(base / "delta=1")
    (Path(idx) / "_compact_commit").write_text("2")

    assert ops.sq8_requantize(spark, idx, force=True) is True
    # the rebuild saw the FULL corpus, not the partial delta union
    drift = ops.ann_index_drift(spark, idx)
    assert drift["n"] == n_all and drift["clipped"] == 0
    assert not (Path(idx) / "_compact_commit").exists()
    queries = vecs.where(F.col("vec_id") < 10)
    got = {
        tuple(r)
        for r in ops.sq8_probe_stream_index(spark, idx, queries, k=5).collect()
    }
    expect = {
        tuple(r)
        for r in similarity.sq8_topk(vecs, queries, k=5, rerank=50).collect()
    }
    assert got == expect and len(got) > 0


def test_compaction_heals_crashed_requantize_first(spark, tmp_path, monkeypatch):
    """The symmetric hazard: compaction over a requantize that crashed
    between its phase-1 commit and finish must complete the requant
    swap FIRST — otherwise it folds the PARTIAL (pre-rebuild) delta set
    while the rebuilt corpus sits staged, and the old-scales codes
    survive against the new scales."""
    from the_framework_for_clustering_time_series_data_spark.operators import similarity
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming import ops

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    cut = vecs.agg(F.max("vec_id")).collect()[0][0] // 4
    idx = str(tmp_path / "sq8_idx")
    ops.sq8_maintain_batch(vecs.where(F.col("vec_id") < cut), 0, idx)
    ops.sq8_maintain_batch(vecs.where(F.col("vec_id") >= cut), 1, idx)

    # crash the requantize between phase-1 commit and finish
    with monkeypatch.context() as m:
        m.setattr(ops, "_requant_finish", lambda d: None)
        assert ops.sq8_requantize(spark, idx, max_clip_rate=0.0) is True
    assert (Path(idx) / "_requant_commit").exists()

    # compaction heals the requant swap first, then folds (1 delta →
    # no-op fold)
    assert ops.compact_sq8_stream_index(spark, idx) == 1
    assert not (Path(idx) / "_requant_commit").exists()
    drift = ops.ann_index_drift(spark, idx)
    assert drift["n"] == vecs.count() and drift["clipped"] == 0
    queries = vecs.where(F.col("vec_id") < 10)
    got = {
        tuple(r)
        for r in ops.sq8_probe_stream_index(spark, idx, queries, k=5).collect()
    }
    expect = {
        tuple(r)
        for r in similarity.sq8_topk(vecs, queries, k=5, rerank=50).collect()
    }
    assert got == expect and len(got) > 0


def test_ann_index_drift_zero_row_meta(spark, tmp_path):
    """Round-10 advice (low): a maintainer crashed between the scales
    freeze and the meta_v1 commit leaves the ZERO-ROW meta_v0 as the
    latest complete meta. Drift must report (n=0, clipped=0, clip_rate
    0.0) — no rebuild — instead of a bare IndexError."""
    import shutil

    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming import ops

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "sq8_idx")
    ops.sq8_maintain_batch(vecs.where(F.col("vec_id") < 100), 0, idx)
    shutil.rmtree(Path(idx) / "meta_v1")  # crash before meta_v1 commit
    drift = ops.ann_index_drift(spark, idx)
    assert drift == {
        "kind": "sq8", "meta_version": 0, "n": 0, "clipped": 0,
        "dim": 64, "clip_rate": 0.0,
    }
    # and the policy correctly declines to rebuild
    assert ops.sq8_requantize(spark, idx) is False


def test_requantize_without_complete_delta_raises(spark, tmp_path):
    """A rebuild that fires on an index with no complete delta raises
    FileNotFoundError, the error every reader raises in that state,
    not a bare IndexError."""
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming import ops

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "sq8_idx")
    ops.sq8_maintain_batch(vecs.where(F.col("vec_id") < 100), 0, idx)
    (Path(idx) / "codes" / "delta=1" / "_SUCCESS").unlink()
    with pytest.raises(FileNotFoundError, match="no complete delta"):
        ops.sq8_requantize(spark, idx, force=True)


def test_ivf_recenter_partial_cold_cells_untouched(spark, tmp_path, monkeypatch):
    """ivf_recenter_partial (round-10 verdict ask #6): fires on skew,
    splits ONLY the hot cells (fresh ids above the old max), folds
    every cold cell through with IDENTICAL membership and centroid,
    keeps total membership, and survives the mid-swap crash state."""
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming import ops

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    cut = vecs.agg(F.max("vec_id")).collect()[0][0] // 4
    idx = str(tmp_path / "ivf_idx")
    ops.ivf_maintain_batch(vecs.where(F.col("vec_id") < cut), 0, idx, n_cells=16)
    ops.ivf_maintain_batch(vecs.where(F.col("vec_id") >= cut), 1, idx, n_cells=16)

    before = ops.read_ivf_stream_index(spark, idx).select("nbr_id", "cell")
    b_by_cell = {
        r["cell"]: r["n"]
        for r in before.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    total = sum(b_by_cell.values())
    n_cells = 16
    hot = sorted(c for c, n in b_by_cell.items() if n * n_cells * 5 > 6 * total)
    assert hot, "prefix build must produce a >1.2x-mean cell at sf0.01"
    cent_before = {
        r["cell"]: tuple(r["center"])
        for r in spark.read.parquet(f"{idx}/centroids").collect()
    }
    members_before = {
        c: {r["nbr_id"] for r in before.where(F.col("cell") == c).collect()}
        for c in b_by_cell
    }

    # below-threshold declines; then fire
    assert ops.ivf_recenter_partial(spark, idx, max_cell_skew=1e9) is False
    assert ops.ivf_recenter_partial(spark, idx, max_cell_skew=1.0) is True

    after = ops.read_ivf_stream_index(spark, idx).select("nbr_id", "cell")
    assert after.count() == total  # no vector lost or duplicated
    cent_after = {
        r["cell"]: tuple(r["center"])
        for r in spark.read.parquet(f"{idx}/centroids").collect()
    }
    max_old = max(cent_before)
    for c in b_by_cell:
        if c in hot:
            assert c not in cent_after  # hot cell replaced by sub-cells
        else:
            # cold cells: identical centroid AND identical membership
            assert cent_after[c] == cent_before[c]
            got = {r["nbr_id"] for r in after.where(F.col("cell") == c).collect()}
            assert got == members_before[c]
    new_cells = [c for c in cent_after if c > max_old]
    assert len(new_cells) >= 2  # every split makes >= 2 sub-cells
    hot_members = set().union(*(members_before[c] for c in hot))
    split_members = {
        r["nbr_id"] for r in after.where(F.col("cell") > max_old).collect()
    }
    assert split_members == hot_members

    # crash between commit and finish: next reader completes the swap
    with monkeypatch.context() as m:
        m.setattr(ops, "_requant_finish", lambda d: None)
        assert ops.ivf_recenter_partial(spark, idx, force=True) is True
    assert (Path(idx) / "_requant_commit").exists()
    n2 = ops.read_ivf_stream_index(spark, idx).count()  # completes swap
    assert n2 == total
    assert not (Path(idx) / "_requant_commit").exists()


def test_ivf_recenter_partial_argmax_fallback(spark, tmp_path):
    """When no cell clears the 1.2x-mean ratio, a FORCED partial
    recenter still improves the worst cell: the argmax cell (ties to
    the lowest id) splits into ceil(n*k/total) >= 2 sub-cells."""
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming import ops

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "ivf_idx")
    # full-corpus training -> balanced cells, nothing clears 1.2x
    ops.ivf_maintain_batch(vecs, 0, idx, n_cells=8)
    counts = {
        r["cell"]: r["n"]
        for r in ops.read_ivf_stream_index(spark, idx)
        .groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    total = sum(counts.values())
    ratio_hot = [c for c, n in counts.items() if n * 8 * 5 > 6 * total]
    mx = max(counts.values())
    argmax_cell = min(c for c, n in counts.items() if n == mx)
    assert ops.ivf_recenter_partial(spark, idx, force=True) is True
    cent_after = {
        int(r["cell"]) for r in spark.read.parquet(f"{idx}/centroids").collect()
    }
    expect_gone = set(ratio_hot) if ratio_hot else {argmax_cell}
    assert expect_gone.isdisjoint(cent_after)
    assert ops.read_ivf_stream_index(spark, idx).count() == total
    # round-11 advice: the fallback clamps k_c to >= 2, so even a
    # perfectly balanced index (ceil == 1) genuinely SPLITS the argmax
    # cell rather than renumbering it — cell count must grow
    assert len(cent_after) >= len(counts) + 1


def test_wrong_kind_heal_does_not_destroy_fold(spark, tmp_path):
    """Round-11 review finding: healing a crashed CELLS compaction with
    base_name='codes' (the wrong-kind maintenance op called on an IVF
    dir) used to find nothing to swap, fall through to the marker
    unlink, and permanently hide the folded rows. Heal sites now derive
    the base from the LAYOUT, so even a misdirected sq8_requantize call
    completes the IVF swap correctly before raising the kind error."""
    import shutil

    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming import ops

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    cut = vecs.agg(F.max("vec_id")).collect()[0][0] // 4
    idx = str(tmp_path / "ivf_idx")
    ops.ivf_maintain_batch(vecs.where(F.col("vec_id") < cut), 0, idx, n_cells=8)
    ops.ivf_maintain_batch(vecs.where(F.col("vec_id") >= cut), 1, idx, n_cells=8)
    n_all = vecs.count()

    # mid-phase-2 cells-compaction crash: full-union fold staged inside
    # the base, delta=1 deleted, marker committed
    base = Path(idx) / "cells"
    (
        ops.read_ivf_stream_index(spark, idx)
        .drop("delta")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(str(base / "_fold_2"))
    )
    shutil.rmtree(base / "delta=1")
    (Path(idx) / "_compact_commit").write_text("2")

    # the WRONG-kind op: it must heal the cells swap, then raise on kind
    with pytest.raises(ValueError, match="not an SQ8 index"):
        ops.sq8_requantize(spark, idx, force=True)
    assert not (Path(idx) / "_compact_commit").exists()
    assert ops.read_ivf_stream_index(spark, idx).count() == n_all


def test_wrong_kind_compaction_raises_kind_error(spark, tmp_path):
    """Round-11 advice: a wrong-kind compaction call (SQ8 compact on an
    IVF dir) used to fall through to an empty foreign-base glob and
    silently return 0, masking operator error. It now raises the same
    kind ValueError requantize/recenter do — and the dir stays fully
    usable by the RIGHT-kind compact afterwards."""
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming import ops

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    cut = vecs.agg(F.max("vec_id")).collect()[0][0] // 2
    idx = str(tmp_path / "ivf_idx")
    ops.ivf_maintain_batch(vecs.where(F.col("vec_id") < cut), 0, idx, n_cells=4)
    ops.ivf_maintain_batch(vecs.where(F.col("vec_id") >= cut), 1, idx, n_cells=4)
    n_all = vecs.count()

    with pytest.raises(ValueError, match="owns 'cells'"):
        ops.compact_sq8_stream_index(spark, idx)
    # nothing destroyed, right-kind compact proceeds normally
    assert ops.compact_ivf_stream_index(spark, idx) == 2
    assert ops.read_ivf_stream_index(spark, idx).count() == n_all
    # a dir that is not an index yet keeps the benign 0 return
    assert ops.compact_ivf_stream_index(spark, str(tmp_path / "empty")) == 0


def test_recenter_partial_fold_copy_fallback(spark, tmp_path, monkeypatch):
    """Round-11 verdict ask #4 (object-store portability): when hard
    links are unavailable (monkeypatched os.link raising, as on
    S3A/HDFS-backed index roots), the cold-cell fold byte-copies via
    _fold_file and the rebuilt index is IDENTICAL to the linked one —
    same membership, same centroids, same probe results."""
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming import ops

    vecs = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    cut = vecs.agg(F.max("vec_id")).collect()[0][0] // 4

    def build(idx: str) -> None:
        ops.ivf_maintain_batch(vecs.where(F.col("vec_id") < cut), 0, idx, n_cells=16)
        ops.ivf_maintain_batch(vecs.where(F.col("vec_id") >= cut), 1, idx, n_cells=16)
        assert ops.ivf_recenter_partial(spark, idx, max_cell_skew=1.0) is True

    linked = str(tmp_path / "ivf_linked")
    build(linked)

    copied = str(tmp_path / "ivf_copied")
    real_link = ops.os.link
    with monkeypatch.context() as m:
        m.setattr(
            ops.os,
            "link",
            lambda *a, **k: (_ for _ in ()).throw(
                OSError("link not supported on this filesystem")
            ),
        )
        build(copied)
    assert ops.os.link is real_link

    def snapshot(idx: str):
        rows = sorted(
            (int(r["nbr_id"]), int(r["cell"]))
            for r in ops.read_ivf_stream_index(spark, idx).collect()
        )
        cents = sorted(
            (int(r["cell"]), tuple(r["center"]))
            for r in spark.read.parquet(f"{idx}/centroids").collect()
        )
        return rows, cents

    assert snapshot(copied) == snapshot(linked)
    q = vecs.where(F.col("vec_id") < 5)
    probe = lambda idx: sorted(  # noqa: E731
        map(tuple, ops.streaming_ivf_probe(spark, idx, q, k=5, nprobe=4).collect())
    )
    assert probe(copied) == probe(linked)


@pytest.mark.parametrize("which", ["merge", "simhash", "mv"])
def test_restart_after_crash_while_seeding_v0(spark, tmp_path, which):
    """A crash while a snapshot maintainer seeds ``{prefix}_v0`` leaves
    a committer ``_temporary`` dir and no ``_SUCCESS``. The restart must
    seed again and ingest, ending in the same serving state as a run
    that never crashed; a seed gated on the dir's existence read the
    schema-less dir on every restart and failed with
    UNABLE_TO_INFER_SCHEMA."""
    from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table
    from the_framework_for_clustering_time_series_data_spark.streaming import ops

    if which == "simhash":
        rows = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
        rows = rows.where(F.col("doc_id") < 12)
    else:
        rows = (
            load_table(spark, SF_SMALL, "events")
            .where(
                (F.col("ts") >= F.lit("2024-01-25").cast("timestamp"))
                & F.col("event_type").isin("purchase", "error")
            )
            .orderBy("ts", "event_id")
            .limit(12)
        )
    src = str(tmp_path / "src")
    rows.coalesce(1).write.parquet(src)
    customers = load_table(spark, SF_SMALL, "customer")
    prefix, start, read = {
        "merge": (
            "target",
            lambda s, t, c: ops.streaming_merge_apply(s, customers, t, c),
            ops.read_merge_target,
        ),
        "simhash": ("state", ops.streaming_simhash_dedup, ops.read_simhash_dedup),
        "mv": ("partials", ops.streaming_mv_daily_maintainer, ops.read_mv_rollup),
    }[which]

    def run(name: str) -> set:
        if which == "simhash":
            stream = spark.readStream.schema(rows.schema).parquet(src)
        else:
            stream = ops.read_events_stream(spark, src)
        target = str(tmp_path / name)
        q = start(stream, target, str(tmp_path / f"{name}_ckpt"))
        q.awaitTermination(120)
        assert q.exception() is None
        return {tuple(r) for r in read(spark, target).collect()}

    expect = run("clean")
    (tmp_path / "crashed" / f"{prefix}_v0" / "_temporary" / "0").mkdir(parents=True)
    assert run("crashed") == expect
    assert len(expect) > 0
    assert (tmp_path / "crashed" / f"{prefix}_v0" / "_SUCCESS").exists()


# reader → the first version dir its maintainer writes
_STREAM_READERS = {
    "read_merge_target": "target_v0",
    "read_simhash_dedup": "state_v0",
    "read_mv_rollup": "partials_v0",
    "read_ivf_stream_index": "cells/delta=1/cell=0",
    "read_sq8_stream_index": "codes/delta=1",
}


@pytest.mark.parametrize("state", ["empty", "no_success"])
@pytest.mark.parametrize("reader", sorted(_STREAM_READERS))
def test_reader_without_complete_version_raises(tmp_path, reader, state):
    """Every serving-state reader refuses a dir with no complete
    version — an empty dir, or one whose only version lacks
    ``_SUCCESS`` (mid-write or crashed) — with FileNotFoundError. The
    reader gets no session: it must refuse before any Spark work."""
    from the_framework_for_clustering_time_series_data_spark.streaming import ops

    d = tmp_path / "store"
    d.mkdir()
    if state == "no_success":
        part = d / _STREAM_READERS[reader]
        part.mkdir(parents=True)
        (part / "part-00000.parquet").write_bytes(b"")
    with pytest.raises(FileNotFoundError):
        getattr(ops, reader)(None, str(d))
