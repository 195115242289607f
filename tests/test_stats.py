"""Aggregate statistics: mergeable aggregation state equals a full
recompute, exact power-sum moments against numpy, and class centroids
on known values."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def test_agg_state_merge_equals_full_recompute(spark, sf_dir):
    """merge(state(A), state(B)) must equal state(A ∪ B) exactly,
    for any slicing — the algebraic contract."""
    from strava_etl_public_spark.operators import aggstate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    full = aggstate.finish_state(
        aggstate.agg_state(ev, ["event_type"], "value")
    ).toPandas()
    # a deliberately skewed 4-way slicing
    parts = [ev.filter((F.col("event_id") % 7) % 4 == i) for i in range(4)]
    states = [aggstate.agg_state(p, ["event_type"], "value") for p in parts]
    merged = aggstate.finish_state(aggstate.merge_agg_states(*states)).toPandas()
    key = "event_type"
    pd.testing.assert_frame_equal(
        full.sort_values(key).reset_index(drop=True),
        merged.sort_values(key).reset_index(drop=True),
    )
    # merging a state with an EMPTY batch's state is a no-op
    empty = aggstate.agg_state(ev.filter(F.lit(False)), ["event_type"], "value")
    with_empty = aggstate.finish_state(
        aggstate.merge_agg_states(aggstate.agg_state(ev, ["event_type"], "value"), empty)
    ).toPandas()
    pd.testing.assert_frame_equal(
        full.sort_values(key).reset_index(drop=True),
        with_empty.sort_values(key).reset_index(drop=True),
    )


def test_moments_match_numpy(spark, sf_dir):
    """Spark's exact-power-sum moments must agree with numpy's
    direct central-moment computation (within quantization)."""
    from strava_etl_public_spark import queries as q

    out = (
        q.EXTRA_QUERIES["x_moments_value"](spark, sf_dir)
        .toPandas()
        .set_index("event_type")
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    for t, g in ev.groupby("event_type"):
        v = np.round(g.value.dropna().to_numpy(), 6)
        mu, var = v.mean(), v.var()
        sk = ((v - mu) ** 3).mean() / var**1.5
        ku = ((v - mu) ** 4).mean() / var**2
        assert abs(out.loc[t, "mean"] - mu) < 1e-4
        assert abs(out.loc[t, "var_p"] - var) < 1e-3
        assert abs(out.loc[t, "skewness"] - sk) < 1e-3
        assert abs(out.loc[t, "kurtosis"] - ku) < 1e-2


def test_label_centroids_known_values(spark):
    import pandas as pd

    from strava_etl_public_spark.operators.similarity import label_centroids

    rows = [
        (0, [1.0, 0.0]),
        (0, [0.0, 1.0]),
        (1, [2.0, 2.0]),
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"label": [r[0] for r in rows], "embedding": [r[1] for r in rows]})
    )
    out = label_centroids(df, "label", "embedding").toPandas().set_index("label")
    assert list(out.loc[0, "centroid"]) == [0.5, 0.5]
    assert list(out.loc[1, "centroid"]) == [2.0, 2.0]
