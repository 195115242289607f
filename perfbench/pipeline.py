"""The operations the workloads time, written as a user of the library
writes them: every call goes through a public function of
``strava_etl_public_spark``.

* :func:`activity_records` — the reference's per-activity DAG: streams
  → densify + interpolate → 11 triangular rolling means → per-activity
  maxima → nested record.
* :func:`sync_once` — one incremental sync: watermark read → new
  activities → :func:`activity_records` → committed append.
* :func:`backfill_once` — many activities through the same DAG into a
  fresh table with one append.
* :func:`curate_once` — the ``x_pipeline_corpus_filter`` composition
  (lang-ID, quality, repetition, decontamination, MinHash clusters).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from strava_etl_public_spark import queries
from strava_etl_public_spark.operators import (
    assemble,
    incremental,
    resample,
    rolling,
)
from strava_etl_public_spark.operators.table import ManagedTable
from strava_etl_public_spark.queries_sketch import x_pipeline_corpus_filter

from gen import USERNAME
from spans import Tracer

#: One sensor metric: 11 rolling maxima per activity instead of the
#: reference's 33 (README.md, "What is not measured, and why").
METRICS = ("hr",)
WINDOWS = rolling.REFERENCE_WINDOWS
KEY = "activity_id"


def activity_records(
    spark: SparkSession, src_dir: str, header: DataFrame, cond: Column
) -> DataFrame:
    """Lazy nested records for the activities in ``header``, whose
    streams ``cond`` selects. The filter is on the stream partition key,
    so Spark pushes it below the streams window into the parquet scan.
    The sensor metric is ``x_pipeline_activity_e2e``'s ``hr``, so the
    records' maxima are comparable with that query's DuckDB oracle."""
    s = queries.streams(spark, src_dir).filter(cond)
    s = s.select(KEY, "time_key", F.col("value").alias("hr"))
    dense = resample.densify_interpolate_fused(s, KEY, "time_key", list(METRICS))
    rolled = rolling.rolling_mean_triang(
        dense, KEY, "time_key", list(METRICS), WINDOWS, quantize=True, dense_ord=True
    )
    maxed = rolling.activity_maxes(rolled, KEY, list(METRICS), WINDOWS)
    maxed = maxed.select(
        KEY, *[F.round(c, 6).alias(c) for c in maxed.columns if c != KEY]
    )
    samples = assemble.collect_samples(dense, KEY, "time_key", list(METRICS))
    rec = assemble.assemble_records(header, samples, maxed, KEY, name_col="name")
    # load_ts is the wall clock of the load: two tables holding the same
    # activities differ only there, so it is left out of the stored
    # record to keep commit digests comparable
    return rec.drop("load_ts")


def activities(spark: SparkSession, src_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(src_dir, "activities.parquet"))


def create_table(spark: SparkSession, path: str, schema) -> ManagedTable:
    """A fresh, empty records table at ``path``."""
    shutil.rmtree(path, ignore_errors=True)
    return ManagedTable.create(spark.createDataFrame([], schema), path, KEY)


def seed_table(
    spark: SparkSession, src_dir: str, path: str, n_history: int
) -> ManagedTable:
    """A table created with the first ``n_history`` activities."""
    shutil.rmtree(path, ignore_errors=True)
    cond = F.col(KEY) < n_history
    rec = activity_records(spark, src_dir, activities(spark, src_dir).filter(cond), cond)
    return ManagedTable.create(rec, path, KEY)


def sync_once(
    spark: SparkSession,
    src_dir: str,
    table: ManagedTable,
    clock_epoch: int,
    tracer: Tracer,
) -> list[int]:
    """One incremental sync of every activity started at or before
    ``clock_epoch`` (the source as it stands at that moment) that is
    newer than the table's watermark. Returns the synced activity ids."""
    wm = incremental.watermark_for(table.read(), "username", "epoch", USERNAME)
    visible = activities(spark, src_dir).filter(F.col("epoch") <= clock_epoch)
    new = incremental.incremental_scan(visible, "epoch", wm, order_desc=False)
    with tracer.span("incremental.new_activities"):
        ids = sorted(r[0] for r in new.select(KEY).collect())
    if ids:
        table.append(activity_records(spark, src_dir, new, F.col(KEY).isin(ids)))
    return ids


def backfill_once(
    spark: SparkSession, src_dir: str, table: ManagedTable, n_activities: int
) -> int:
    """Activities ``0 … n_activities-1``, appended to ``table`` at once."""
    cond = F.col(KEY) < n_activities
    rec = activity_records(spark, src_dir, activities(spark, src_dir).filter(cond), cond)
    return table.append(rec)


def curate_once(spark: SparkSession, src_dir: str) -> DataFrame:
    """Per-document keep flags (the materialized, checkpointed result)."""
    return x_pipeline_corpus_filter(spark, src_dir)
