"""Structured Streaming operator tests: file source → memory sink run
to completion, results compared against batch equivalents.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from strava_etl_public_spark.streaming.ingest import (
    EVENTS_SCHEMA,
    normalize_events,
    running_user_stats,
    windowed_counts,
)


@pytest.fixture()
def staged_events(spark, sf_dir):
    stage = tempfile.mkdtemp(prefix="t_stream_")
    normalize_events(spark.read.parquet(f"{sf_dir}/events.parquet")).write.mode(
        "overwrite"
    ).parquet(stage)
    yield stage
    shutil.rmtree(stage, ignore_errors=True)


def _run(spark, agg, mode):
    name = "t_sink"
    q = agg.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def test_stateful_running_stats_matches_batch(spark, staged_events):
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(staged_events)
    )
    out = _run(spark, running_user_stats(stream), "update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        out.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "n_events", "max_value")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    batch = (
        spark.read.parquet(staged_events)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("value").alias("max_value"),
        )
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(final, batch)


def test_windowed_counts_matches_batch(spark, staged_events):
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(staged_events)
    got = (
        _run(spark, windowed_counts(stream, "1 hour", "2 hours"), "complete")
        .agg(F.sum("n").cast("long").alias("total"))
        .first()["total"]
    )
    assert got == spark.read.parquet(staged_events).count()


def test_checkpoint_kill_and_resume_exactly_once(spark, staged_events, tmp_path):
    """S1 end-to-end: kill the query mid-stream, restart on the SAME
    checkpoint, and the tumbling counts must come out exactly equal to
    the batch aggregation — a lost state store undercounts, a replayed
    micro-batch double-counts, either fails the equality."""
    import os
    import time

    # restage into many small files so triggers are fine-grained;
    # watermark wider than the data span: files are randomly
    # repartitioned (each spans the whole time range), so a tight
    # watermark would just drop later files as late — this test is
    # about state recovery, not late-data policy
    src = str(tmp_path / "src")
    spark.read.parquet(staged_events).repartition(8).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    os.makedirs(sink, exist_ok=True)

    crash = {"armed": True}
    seen: list[int] = []

    def make_query():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = windowed_counts(stream, "1 hour", "3650 days")

        def sink_batch(bdf, batch_id):
            seen.append(batch_id)
            if crash["armed"] and batch_id >= 2:
                raise RuntimeError("injected crash")
            (
                bdf.withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(sink)
            )

        return (
            agg.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink_batch)
            .start()
        )

    # phase 1: the injected crash kills the query at micro-batch 2
    # (batches 0-1 committed, the rest of the 8 files unprocessed)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    q = make_query()
    with pytest.raises(StreamingQueryException, match="injected crash"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    phase1 = spark.read.parquet(sink).count()
    assert phase1 > 0

    # phase 2: resume from the checkpoint and drain the rest
    crash["armed"] = False
    phase1_batches = list(seen)
    seen.clear()
    q = make_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the restart re-runs the failed batch and finishes the backlog
    assert max(phase1_batches) == 2 and min(seen) == 2 and max(seen) > 2, (
        phase1_batches,
        seen,
    )
    assert spark.read.parquet(sink).count() > phase1  # restart had work left

    # LWW-resolve the update-mode appends: latest batch wins per key
    from strava_etl_public_spark.streaming.ingest import with_event_time

    out = spark.read.parquet(sink)
    w = Window.partitionBy("w_start", "event_type").orderBy(F.col("batch_id").desc())
    final = (
        out.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("w_start", "event_type", "n", "total_value")
        .toPandas()
        .sort_values(["w_start", "event_type"])
        .reset_index(drop=True)
    )
    batch = (
        with_event_time(spark.read.parquet(src))
        .groupBy(F.window("event_time", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("window.start").alias("w_start"), "event_type", "n", "total_value")
        .toPandas()
        .sort_values(["w_start", "event_type"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(final, batch)


def test_stream_dedup_across_microbatches(spark, staged_events, tmp_path):
    """Replayed events arriving in LATER micro-batches must be dropped
    by the state store, not just within-batch distinct: stage the
    corpus, then append the same rows as new files, and force one file
    per trigger so every duplicate crosses a batch boundary."""
    from strava_etl_public_spark.streaming.ingest import with_event_time

    src = str(tmp_path / "dedup_src")
    base = spark.read.parquet(staged_events)
    base.repartition(4).write.parquet(src)
    spark.read.parquet(staged_events).repartition(3).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = (
        with_event_time(stream)
        .withWatermark("event_time", "3650 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    out = _run(spark, deduped, "append")
    n_unique = base.select("event_id").distinct().count()
    assert out.count() == n_unique
    assert out.distinct().count() == n_unique


def test_table_merge_sink_versions_and_lww(spark, staged_events, tmp_path):
    """Streaming MERGE into a ManagedTable: final content equals the
    batch arg_max per user, every non-empty micro-batch published one
    version carrying its txn marker, and the whole stream history is
    time-travelable."""
    from strava_etl_public_spark.operators.table import ManagedTable
    from strava_etl_public_spark.streaming.ingest import table_merge_sink

    batch = spark.read.parquet(staged_events).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    t = ManagedTable.create(
        batch.filter(F.lit(False)), str(tmp_path / "t"), key="user_id"
    )
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(staged_events)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    q = table_merge_sink(
        stream, str(tmp_path / "t"), "user_id", "event_id", str(tmp_path / "ck")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    want = {
        r["user_id"]: r["event_id"]
        for r in batch.groupBy("user_id")
        .agg(F.max("event_id").alias("event_id"))
        .collect()
    }
    got = {r["user_id"]: r["event_id"] for r in t.read().collect()}
    assert got == want
    assert t.last_txn() >= 0
    assert t.version() == t.last_txn() + 2  # v1 create + one per batch

    # exactly-once across CHECKPOINT LOSS: a fresh checkpoint replays
    # every batch from 0; the txn markers skip them all — zero new
    # versions, content unchanged
    v_before = t.version()
    stream2 = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(staged_events)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    q2 = table_merge_sink(
        stream2, str(tmp_path / "t"), "user_id", "event_id", str(tmp_path / "ck2")
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert t.version() == v_before
    assert {r["user_id"]: r["event_id"] for r in t.read().collect()} == want

    # rollback drops the markers out of the published chain, so the
    # same replay now RE-APPLIES (a skipped batch would lose data)
    t.rollback(1)
    assert t.last_txn() == -1
    stream3 = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(staged_events)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    q3 = table_merge_sink(
        stream3, str(tmp_path / "t"), "user_id", "event_id", str(tmp_path / "ck3")
    )
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    assert {r["user_id"]: r["event_id"] for r in t.read().collect()} == want


def test_table_append_sink_jvm_exactly_once_and_parity(
    spark, staged_events, tmp_path
):
    """JVM-native streaming APPEND sink (r13): final content equals
    the union of all micro-batches, the digest chain is exact, the
    txn markers make both a checkpoint-loss replay and a direct
    double-apply no-ops, and rollback re-opens replay — the same
    contract the Arrow managed_table_sink and table_merge_sink pin,
    now on the engine-native write path."""
    from strava_etl_public_spark.operators.layout import (
        dataset_fingerprint,
    )
    from strava_etl_public_spark.operators.table import ManagedTable
    from strava_etl_public_spark.streaming.ingest import (
        table_append_batch_jvm,
        table_append_sink_jvm,
    )

    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    batch = spark.read.parquet(staged_events).select(*cols)
    t = ManagedTable.create(
        batch.filter(F.lit(False)), str(tmp_path / "t"), key="event_id"
    )

    def _stream():
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(staged_events)
            .select(*cols)
        )

    q = table_append_sink_jvm(
        _stream(), str(tmp_path / "t"), str(tmp_path / "ck")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    want = {r["event_id"] for r in batch.collect()}
    assert {r["event_id"] for r in t.read().collect()} == want
    assert t.last_txn() >= 0
    assert t.version() == t.last_txn() + 2  # v1 create + one per batch
    # digest chain exact against a live fingerprint
    rec = json.load(
        open(
            os.path.join(
                str(tmp_path / "t"), "_commits", f"{t.version()}.json"
            )
        )
    )
    live_full = dataset_fingerprint(t.read()).collect()[0].asDict()
    assert (
        rec["n_rows"],
        rec["xor_hash"],
        rec["sum_hash_mod"],
    ) == (
        live_full["n_rows"],
        live_full["xor_hash"],
        live_full["sum_hash_mod"],
    )

    # checkpoint loss: fresh checkpoint replays every batch — all
    # skipped by the lineage markers, zero new versions
    v_before = t.version()
    q2 = table_append_sink_jvm(
        _stream(), str(tmp_path / "t"), str(tmp_path / "ck2")
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert t.version() == v_before
    assert {r["event_id"] for r in t.read().collect()} == want

    # direct double-apply of one batch id is a no-op too
    fn = table_append_batch_jvm(str(tmp_path / "t"))
    fn(batch.limit(5), t.last_txn())  # replay: skipped
    assert t.version() == v_before

    # rollback to v1 drops the markers — replay re-applies
    t.rollback(1)
    assert t.last_txn() == -1
    q3 = table_append_sink_jvm(
        _stream(), str(tmp_path / "t"), str(tmp_path / "ck3")
    )
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    assert {r["event_id"] for r in t.read().collect()} == want
