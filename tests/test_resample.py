"""W2/J1/J2/W3 property tests: spine densification + linear
interpolation must match pandas ``.interpolate()`` defaults after the
spine left-join (SURVEY §2.E W2; reference main.py:47-59), including the
edge semantics: interior gaps linear, trailing gaps ffilled, leading
gaps NULL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import to_sdf
from strava_etl_public_spark.operators.resample import (
    densify,
    densify_interpolate_fused,
    interpolate_linear,
    mask_endpoints,
    row_position,
    spine,
)


def _sparse_frame(seed: int, n_keys: int = 3, max_t: int = 60, keep_p: float = 0.5):
    """Sparse samples like a paused activity recording; each key keeps a
    random subset of ticks (always at least one)."""
    rng = np.random.default_rng(seed)
    rows = []
    for k in range(n_keys):
        ticks = [t for t in range(max_t + 1) if rng.random() < keep_p] or [0]
        for t in ticks:
            rows.append(
                {
                    "activity_id": k,
                    "time_key": t,
                    # leading-null shape: first kept samples may be null too
                    "x": None if rng.random() < 0.2 else float(rng.normal(100, 10)),
                }
            )
    return pd.DataFrame(rows)


def test_spine_is_dense_per_key(spark):
    pdf = pd.DataFrame({"activity_id": [1, 1, 2], "time_key": [3, 7, 2]})
    out = spine(spark.createDataFrame(pdf), "activity_id", "time_key").toPandas()
    got = {
        k: sorted(g.time_key.tolist()) for k, g in out.groupby("activity_id")
    }
    assert got == {1: list(range(8)), 2: list(range(3))}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_interpolate_matches_pandas(spark, seed):
    pdf = _sparse_frame(seed)
    sdf = to_sdf(spark, pdf)
    dense = densify(sdf, "activity_id", "time_key")
    got = (
        interpolate_linear(dense, "activity_id", "time_key", ["x"])
        .toPandas()
        .sort_values(["activity_id", "time_key"])
    )
    for k, grp in pdf.groupby("activity_id"):
        mx = grp.time_key.max()
        # the reference's exact construction: dense spine left-join, then interpolate
        spine_pd = pd.DataFrame({"time_key": range(mx + 1)})
        joined = spine_pd.merge(grp[["time_key", "x"]], on="time_key", how="left")
        want = joined["x"].astype(float).interpolate()  # pandas defaults
        have = got[got.activity_id == k].sort_values("time_key")["x"].astype(float)
        np.testing.assert_allclose(
            have.to_numpy(), want.to_numpy(), rtol=1e-9, atol=1e-9, err_msg=f"key={k}"
        )


def test_interpolate_edge_semantics(spark):
    pdf = pd.DataFrame(
        {
            "activity_id": [1] * 7,
            "time_key": list(range(7)),
            "x": [None, None, 10.0, None, 16.0, None, None],
        }
    )
    out = (
        interpolate_linear(to_sdf(spark, pdf), "activity_id", "time_key", ["x"])
        .toPandas()
        .sort_values("time_key")["x"]
        .tolist()
    )
    assert pd.isna(out[0]) and pd.isna(out[1])  # leading stays NULL
    assert out[2] == 10.0
    assert out[3] == 13.0  # interior linear
    assert out[4] == 16.0
    assert out[5] == 16.0 and out[6] == 16.0  # trailing ffill


def test_mask_endpoints(spark):
    pdf = pd.DataFrame(
        {"activity_id": [1] * 4 + [2], "time_key": [0, 1, 2, 3, 0], "x": [1.0] * 5}
    )
    out = (
        mask_endpoints(spark.createDataFrame(pdf), "activity_id", "time_key", ["x"])
        .toPandas()
        .sort_values(["activity_id", "time_key"])
    )
    k1 = out[out.activity_id == 1]["x"].tolist()
    assert pd.isna(k1[0]) and pd.isna(k1[-1]) and k1[1:3] == [1.0, 1.0]
    # single-row key: first == last -> masked
    assert pd.isna(out[out.activity_id == 2]["x"].iloc[0])


def test_row_position(spark):
    pdf = pd.DataFrame({"activity_id": [1, 1, 1], "time_key": [5, 2, 9]})
    out = (
        row_position(spark.createDataFrame(pdf), "activity_id", "time_key")
        .toPandas()
        .sort_values("time_key")
    )
    assert out.time_new.tolist() == [0, 1, 2]


def test_locf_fill_semantics(spark):
    import pandas as pd

    from strava_etl_public_spark.operators.resample import locf_fill

    pdf = pd.DataFrame(
        {
            "k": ["a"] * 5 + ["b"] * 3,
            "t": [1, 2, 3, 4, 5, 1, 2, 3],
            "v": [None, 10.0, None, None, 20.0, None, None, 5.0],
        }
    )
    from tests.conftest import to_sdf

    df = to_sdf(spark, pdf)
    out = (
        locf_fill(df, "k", ["t"], ["v"])
        .toPandas()
        .sort_values(["k", "t"])
        .reset_index(drop=True)
    )
    # leading NULLs stay NULL and are not flagged
    assert pd.isna(out.loc[0, "v_filled"]) and out.loc[0, "v_was_filled"] == 0
    # carries forward across multi-row gaps
    assert out.loc[2, "v_filled"] == 10.0 and out.loc[2, "v_was_filled"] == 1
    assert out.loc[3, "v_filled"] == 10.0
    # real observations pass through unflagged
    assert out.loc[4, "v_filled"] == 20.0 and out.loc[4, "v_was_filled"] == 0
    # keys are independent: b's leading gap not filled from a
    b = out[out.k == "b"].reset_index(drop=True)
    assert pd.isna(b.loc[0, "v_filled"]) and pd.isna(b.loc[1, "v_filled"])
    assert b.loc[2, "v_filled"] == 5.0


def test_downsample_ohlc_known_values_and_plan(spark):
    import pandas as pd

    from strava_etl_public_spark.operators.resample import downsample_ohlc

    rows = [
        # key, t, value, tb — bucket width 10
        ("a", 0, 5.0, 1),
        ("a", 3, 9.0, 2),
        ("a", 9, 2.0, 3),   # bucket 0: open=5 high=9 low=2 close=2
        ("a", 10, 7.0, 4),  # bucket 10: single obs → all 7
        ("b", 5, 1.0, 5),
        ("b", 5, 4.0, 6),   # same t: tiebreak decides open=1, close=4
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "t", "v", "tb"]))
    out = downsample_ohlc(df, ["k"], "t", "v", width=10, tiebreak_col="tb")
    p = out.toPandas().set_index(["k", "bucket_start"]).sort_index()
    assert tuple(p.loc[("a", 0), ["open", "high", "low", "close", "n_obs"]]) == (
        5.0, 9.0, 2.0, 2.0, 3,
    )
    assert tuple(p.loc[("a", 10), ["open", "high", "low", "close", "n_obs"]]) == (
        7.0, 7.0, 7.0, 7.0, 1,
    )
    assert tuple(p.loc[("b", 0), ["open", "close"]]) == (1.0, 4.0)
    # tie-safe OHLC stays sort-free: two HashAggregates, never the
    # SortAggregate a struct-ordered min_by would force, no Window
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan and "Window" not in plan
    assert plan.count("HashAggregate") >= 2


# ---------------------------------------------------------------------------
# fused gap-fill ≡ densify: densify_interpolate_fused(..., cols=[])
# ---------------------------------------------------------------------------


def _rows_multiset(df):
    return sorted(
        tuple(None if pd.isna(v) else v for v in r)
        for r in df.toPandas().itertuples(index=False)
    )


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_densify_fused_equals_join_shape(spark, seed):
    """Row-identical (multiset) to the spine left-join on sparse
    multi-key frames with leading gaps and NULL payloads."""
    pdf = _sparse_frame(seed)
    sdf = to_sdf(spark, pdf)
    a = densify(sdf, "activity_id", "time_key")
    b = densify_interpolate_fused(sdf, "activity_id", "time_key", cols=[])
    assert list(a.columns) == list(b.columns)
    assert _rows_multiset(a) == _rows_multiset(b)


def test_densify_fused_edges(spark):
    """Duplicate (key, ord) samples keep the join's multiplicity; a
    single-row key with a leading gap fills from start; start offsets
    respected."""
    pdf = pd.DataFrame(
        {
            "activity_id": [1, 1, 1, 2],
            "time_key": [2, 2, 4, 3],
            "x": [10.0, 20.0, None, 5.0],
        }
    )
    sdf = to_sdf(spark, pdf)
    for start in (0, 1):
        a = densify(sdf, "activity_id", "time_key", start=start)
        b = densify_interpolate_fused(
            sdf, "activity_id", "time_key", cols=[], start=start
        )
        assert _rows_multiset(a) == _rows_multiset(b), start


def test_densify_fused_drops_below_start_like_join_shape(spark):
    """r14 (ADVICE r13): a sample at ord < start must be DROPPED, as
    densify's left join drops it — the old fused path silently emitted
    the violating row's own tick."""
    df = spark.createDataFrame(
        [(1, -2, 99.0), (1, 1, 10.0), (1, 3, 30.0)], "k long, t long, v double"
    )
    fused = (
        densify_interpolate_fused(df, "k", "t", cols=[], start=0)
        .orderBy("t")
        .collect()
    )
    joined = densify(df, "k", "t", start=0).orderBy("t").collect()
    assert [r.asDict() for r in fused] == [r.asDict() for r in joined]
    assert [r["t"] for r in fused] == [0, 1, 2, 3]


def test_densify_interpolate_fused_equals_two_pass(spark):
    """r14 fusion: densify_interpolate_fused must be BIT-identical to
    interpolate_linear(densify(...)) on precondition-satisfying
    input (unique ticks, non-null sample values) — gaps, leading gaps,
    multi-key, a non-interpolated payload column, and single-sample
    keys included."""
    rng = np.random.default_rng(11)
    rows = []
    for k in range(6):
        t = 0
        for i in range(rng.integers(1, 40)):
            t += int(rng.integers(1, 7))  # gaps 1..6, leading gap incl.
            rows.append(
                (k, t, float(np.round(rng.normal(50, 20), 4)), int(t * 3 + k))
            )
    df = spark.createDataFrame(rows, "k long, t long, v double, aux long")
    want = (
        interpolate_linear(densify(df, "k", "t"), "k", "t", ["v"])
        .orderBy("k", "t")
        .collect()
    )
    got = (
        densify_interpolate_fused(df, "k", "t", ["v"])
        .orderBy("k", "t")
        .collect()
    )
    assert len(got) == len(want)
    for a, b in zip(got, want):
        assert a.asDict() == b.asDict()


def test_interp_fusion_fixture_contract(spark):
    """The fused interpolation's preconditions, pinned on the oracle
    fixture: streams() sample values are non-NULL and (activity_id,
    time_key) is unique — the contract w2/n10/e2e rely on."""
    from pyspark.sql import functions as F

    from strava_etl_public_spark.queries import streams

    s = streams(spark, "/root/testdata/sf0.001")
    total = s.count()
    assert s.filter(F.col("value").isNull()).count() == 0
    assert s.select("activity_id", "time_key").distinct().count() == total
