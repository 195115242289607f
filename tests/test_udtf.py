"""Python UDTF extension point: the TABLE-argument UDTF against its
declarative twin.

ewma_final_udtf runs the EWMA recursion one row at a time per
PARTITION BY key; these tests pin it bit-identical to the last row of
the vectorized rolling.ewma_by_key, NULL values included.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from strava_etl_public_spark.operators.udtfs import register_udtfs


def test_table_arg_udtf_matches_ewma_operator(spark, sf_dir):
    """Three implementations, one answer: the TABLE-argument UDTF's
    final per-key EWMA must be bit-identical to the last row of
    rolling.ewma_by_key (the oracle gate pins the third — the
    recursive-CTE — against the query)."""
    from pyspark.sql import Window as W

    from strava_etl_public_spark.functions import epoch as ep
    from strava_etl_public_spark.operators.rolling import ewma_by_key

    register_udtfs(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", "ts", "value"
    )
    ev = ev.withColumn("_ns", ep.epoch_ns(ev, "ts")).drop("ts")
    ev.createOrReplaceTempView("t_udtf_ev")
    got = {
        r["user_id"]: (r["n"], r["ewma"])
        for r in spark.sql(
            """
            SELECT * FROM ewma_final_udtf(TABLE(t_udtf_ev)
                                          PARTITION BY user_id
                                          ORDER BY (_ns, event_id))
            """
        ).collect()
    }
    op = ewma_by_key(ev, ["user_id"], ["_ns", "event_id"], "value", 0.3, "s")
    w = W.partitionBy("user_id").orderBy(F.desc("_ns"), F.desc("event_id"))
    last = op.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1")
    counts = {
        r["user_id"]: r["c"]
        for r in op.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    want = {
        r["user_id"]: (counts[r["user_id"]], r["s"]) for r in last.collect()
    }
    assert got == want and len(got) > 0


def test_table_arg_udtf_null_value_matches_operator(spark):
    """NULL-value parity (code-review r8 low): ewma_by_key reads the
    value column through pandas (NULL → NaN inside the recursion,
    surfaced as NULL by the Arrow serializer on the way back); the
    UDTF must do the same instead of raising TypeError on
    float(None) and failing the whole query."""
    from strava_etl_public_spark.operators.rolling import ewma_by_key

    register_udtfs(spark)
    ev = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, None), (1, 30, 4.0), (2, 10, 8.0)],
        "user_id long, event_id long, value double",
    ).withColumn("_ns", F.col("event_id") * 1000)
    ev.createOrReplaceTempView("t_udtf_null_ev")
    got = {
        r["user_id"]: (r["n"], r["ewma"])
        for r in spark.sql(
            """
            SELECT * FROM ewma_final_udtf(TABLE(t_udtf_null_ev)
                                          PARTITION BY user_id
                                          ORDER BY (_ns, event_id))
            """
        ).collect()
    }
    op = ewma_by_key(ev, ["user_id"], ["_ns", "event_id"], "value", 0.3, "s")
    want = {
        r["user_id"]: (r["c"], r["s"])
        for r in op.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"), F.max_by("s", "_ns").alias("s"))
        .collect()
    }
    assert set(got) == set(want) == {1, 2}
    assert got[2] == want[2] == (1, 8.0)
    # key 1 hit the NULL: both paths must surface the poisoned state
    # as NULL (not raise, not diverge NaN-vs-NULL)
    assert got[1] == want[1] == (3, None)
