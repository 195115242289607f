"""Bucketed co-located join: the plan must be an Exchange-free
SortMergeJoin when both sides are bucketed on the join key with the
same bucket count (broadcast disabled to force the shape the layout
exists for), and results must equal the plain join.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from strava_etl_public_spark.operators.bucketing import drop_table, write_bucketed


@pytest.fixture()
def bucketed_pair(spark):
    tag = uuid.uuid4().hex[:8]
    base = tempfile.mkdtemp(prefix="t_bucketed_")
    a_name, b_name = f"t_ba_{tag}", f"t_bb_{tag}"
    a = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("va")
    )
    b = spark.range(0, 4000).select(
        (F.col("id") % 2000).alias("k"), (F.col("id") * 3).alias("vb")
    )
    write_bucketed(a, a_name, f"{base}/a", "k", 8)
    write_bucketed(b, b_name, f"{base}/b", "k", 8)
    yield a_name, b_name, a, b
    drop_table(spark, a_name)
    drop_table(spark, b_name)
    shutil.rmtree(base, ignore_errors=True)


def _set_conf(spark, kv: dict) -> dict:
    old = {k: spark.conf.get(k, None) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    return old


def _restore_conf(spark, old: dict) -> None:
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_bucketed_join_is_shuffle_free(spark, bucketed_pair):
    a_name, b_name, _, _ = bucketed_pair
    old = _set_conf(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        joined = spark.table(a_name).join(spark.table(b_name), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle
        # bucket layout reaches the scan (pruning/selection is active)
        assert "SelectedBucketsCount: 8 out of 8" in plan, plan
        # (the per-task Sort remains: sortBy only eliminates it when a
        # bucket is a single file, and the writer split each bucket
        # across input partitions — the shuffle elimination is the
        # property the layout exists for)
    finally:
        _restore_conf(spark, old)


def test_bucketed_join_matches_plain_join(spark, bucketed_pair):
    a_name, b_name, a, b = bucketed_pair
    got = (
        spark.table(a_name)
        .join(spark.table(b_name), "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vb").alias("s"))
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    want = (
        a.join(b, "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vb").alias("s"))
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
