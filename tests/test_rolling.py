"""W1 property tests: the box-composition triangular rolling mean must
match pandas ``rolling(w, win_type='triang').mean()`` semantics exactly
(SURVEY §2.E W1, §5 item 2).

pandas' win_type path needs scipy (absent here), so the pinned oracle is
the numpy re-implementation ``rolling_triang_pandas_oracle`` — itself
cross-checked against real pandas in ``test_oracle_matches_pandas`` when
scipy is importable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import to_sdf
from strava_etl_public_spark.operators.rolling import (
    REFERENCE_WINDOWS,
    activity_maxes,
    rolling_mean_triang,
    rolling_triang_pandas_oracle,
    triang_weights,
)

WINDOWS = (1, 2, 3, 4, 5, 8, 10, 45)


def _random_frame(seed: int, n_keys: int = 4, n_rows: int = 120, null_p: float = 0.15):
    rng = np.random.default_rng(seed)
    rows = []
    for k in range(n_keys):
        vals = rng.normal(10, 5, n_rows)
        mask = rng.random(n_rows) < null_p
        for t in range(n_rows):
            rows.append(
                {
                    "activity_id": k,
                    "t": t,
                    "x": None if mask[t] else float(vals[t]),
                }
            )
    return pd.DataFrame(rows)


def test_triang_weights_shapes():
    # odd: 1,2,...,m,...,2,1 (proportional); even: mirrored half-steps
    assert np.allclose(triang_weights(1), [1.0])
    w5 = triang_weights(5)
    assert np.allclose(w5 / w5.min(), [1, 2, 3, 2, 1])
    w4 = triang_weights(4)
    assert np.allclose(w4 / w4.min(), [1, 3, 3, 1])
    for n in (2, 3, 6, 7, 45, 120):
        w = triang_weights(n)
        assert len(w) == n
        assert np.allclose(w, w[::-1])  # symmetric


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_triang_matches_pandas_oracle(spark, seed):
    pdf = _random_frame(seed)
    sdf = to_sdf(spark, pdf)
    got = (
        rolling_mean_triang(sdf, "activity_id", "t", ["x"], WINDOWS)
        .toPandas()
        .sort_values(["activity_id", "t"])
        .reset_index(drop=True)
    )
    for k, grp in pdf.groupby("activity_id"):
        series = grp.sort_values("t")["x"].astype(float).reset_index(drop=True)
        sub = got[got.activity_id == k].reset_index(drop=True)
        for w in WINDOWS:
            want = rolling_triang_pandas_oracle(series, w)
            have = sub[f"x_tri_{w}"].astype(float)
            np.testing.assert_allclose(
                have.to_numpy(),
                want.to_numpy(),
                rtol=1e-9,
                atol=1e-9,
                err_msg=f"key={k} w={w}",
            )


def _triang_weights(n: int) -> np.ndarray:
    """Standard triangular (Bartlett-with-nonzero-ends) window, the same
    shape pandas' win_type='triang' delegates to scipy for:
    w(k) = 1 - |2k - n + 1| / (n + 1 if n odd else n)."""
    k = np.arange(n, dtype=float)
    denom = n + 1 if n % 2 else n
    return 1.0 - np.abs(2 * k - n + 1) / denom


def test_oracle_matches_weighted_mean():
    # reference expectation built directly from the public triang-window
    # formula (no scipy in this container): weighted mean over each full
    # window, NaN when the frame is incomplete or contains NaN.
    rng = np.random.default_rng(3)
    s = pd.Series(rng.normal(0, 1, 200))
    s[rng.random(200) < 0.1] = np.nan
    for w in (2, 4, 5, 10):
        wts = _triang_weights(w)
        vals = s.to_numpy()
        want = np.full(len(s), np.nan)
        for i in range(w - 1, len(s)):
            frame = vals[i - w + 1 : i + 1]
            if not np.isnan(frame).any():
                want[i] = float(np.dot(frame, wts) / wts.sum())
        got = rolling_triang_pandas_oracle(s, w)
        np.testing.assert_allclose(got.to_numpy(), want, rtol=1e-12, atol=1e-12)


def test_activity_maxes_clamps_negative(spark):
    pdf = pd.DataFrame(
        {
            "activity_id": [1, 1, 1, 2, 2, 2],
            "t": [0, 1, 2, 0, 1, 2],
            "x": [-5.0, -4.0, -3.0, 1.0, 2.0, 3.0],
        }
    )
    sdf = rolling_mean_triang(spark.createDataFrame(pdf), "activity_id", "t", ["x"], (1,))
    out = activity_maxes(sdf, "activity_id", ["x"], (1,)).toPandas().set_index("activity_id")
    assert pd.isna(out.loc[1, "max_x_1"])  # all-negative -> NULL (N8)
    assert out.loc[2, "max_x_1"] == 3.0


def test_reference_windows_are_survey_set():
    assert REFERENCE_WINDOWS == (1, 5, 10, 20, 30, 45, 60, 120, 300, 600, 1200)


def test_triang_large_windows_long_series(spark):
    """The reference's biggest windows (w up to 1200, main.py:83) at a
    realistic series length — exercises the double-prefix-sum stencil
    where S2 ~ n²·x̄ (FP-drift worst case) and the long-lag offsets."""
    pdf = _random_frame(11, n_keys=2, n_rows=3000, null_p=0.02)
    sdf = to_sdf(spark, pdf)
    wins = (120, 300, 600, 1200)
    got = (
        rolling_mean_triang(sdf, "activity_id", "t", ["x"], wins)
        .toPandas()
        .sort_values(["activity_id", "t"])
    )
    for k, grp in pdf.groupby("activity_id"):
        series = grp.sort_values("t")["x"].astype(float).reset_index(drop=True)
        sub = got[got.activity_id == k].reset_index(drop=True)
        for w in wins:
            np.testing.assert_allclose(
                sub[f"x_tri_{w}"].astype(float).to_numpy(),
                rolling_triang_pandas_oracle(series, w).to_numpy(),
                rtol=1e-9,
                atol=1e-8,
                err_msg=f"key={k} w={w}",
            )


@pytest.mark.parametrize("seed", [0, 1])
def test_triang_quantized_matches_oracle_on_quantized_input(spark, seed):
    """quantize=True computes the triangular mean EXACTLY over inputs
    quantized to 1e-6 (µ-unit integer stencil; used when rolling over
    computed doubles like interpolation output, where raw-double
    stencil-vs-fold drift can straddle a round(·,6) boundary between
    engines — x_pipeline_activity_e2e). Against the pandas fold oracle
    applied to the same 6dp-rounded series, results must agree to the
    fold's own FP noise; and the unquantized path on the rounded input
    must agree with the quantized one to ~1e-9 (the drift being killed
    is smaller than that — this pins that quantization IS a 6dp round,
    not a semantics change)."""
    pdf = _random_frame(seed)
    pdf["x"] = pdf["x"].round(6)
    sdf = to_sdf(spark, pdf)
    got = (
        rolling_mean_triang(sdf, "activity_id", "t", ["x"], WINDOWS, quantize=True)
        .toPandas()
        .sort_values(["activity_id", "t"])
        .reset_index(drop=True)
    )
    for k, grp in pdf.groupby("activity_id"):
        series = grp.sort_values("t")["x"].astype(float).reset_index(drop=True)
        sub = got[got.activity_id == k].reset_index(drop=True)
        for w in WINDOWS:
            want = rolling_triang_pandas_oracle(series, w)
            np.testing.assert_allclose(
                sub[f"x_tri_{w}"].astype(float).to_numpy(),
                want.to_numpy(),
                rtol=1e-9,
                atol=1e-9,
                err_msg=f"key={k} w={w}",
            )


def test_ewma_by_key_hand_case_and_partition_invariance(spark):
    from strava_etl_public_spark.operators.rolling import ewma_by_key

    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (1, 3, 30.0), (2, 1, 5.0)],
        "k long, t long, v double",
    )
    out = ewma_by_key(df, ["k"], ["t"], "v", alpha=0.5, out_col="s")
    got = {(r["k"], r["t"]): r["s"] for r in out.collect()}
    # s1=10, s2=.5*20+.5*10=15, s3=.5*30+.5*15=22.5; singleton seeds at x1
    assert got == {(1, 1): 10.0, (1, 2): 15.0, (1, 3): 22.5, (2, 1): 5.0}

    # the recursion is a pure function of (key, order) — physical
    # partitioning must not change a single bit
    shuffled = df.repartition(7)
    got2 = {
        (r["k"], r["t"]): r["s"]
        for r in ewma_by_key(shuffled, ["k"], ["t"], "v", 0.5, "s").collect()
    }
    assert got2 == got


def test_ewma_resume_equals_full_fold(spark):
    """Prefix-fold + resumed suffix == one full fold, bit for bit —
    incl. a key absent from the prefix (state None -> suffix seeds at
    its own first value) and a key absent from the suffix."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from strava_etl_public_spark.operators.rolling import ewma_by_key

    rows = [(k, t, float((k * 7 + t * 3) % 11) + 0.25) for k in (1, 2) for t in range(6)]
    rows.append((3, 5, 9.5))  # key 3 exists ONLY in the suffix
    df = spark.createDataFrame(rows, "k long, t long, v double")
    full = ewma_by_key(df, ["k"], ["t"], "v", 0.3, "s")

    past = df.filter("t < 3")
    batch = df.filter("t >= 3")
    folded = ewma_by_key(past, ["k"], ["t"], "v", 0.3, "s")
    w = W.partitionBy("k").orderBy(F.desc("t"))
    state = (
        folded.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select("k", F.col("s").alias("s0"))
    )
    resumed = ewma_by_key(batch, ["k"], ["t"], "v", 0.3, "s", init_state=state)
    want = {(r["k"], r["t"]): r["s"] for r in full.filter("t >= 3").collect()}
    got = {(r["k"], r["t"]): r["s"] for r in resumed.collect()}
    assert got == want and (3, 5) in got


def test_dense_ord_equals_general_path(spark):
    """r14 dense-tick specialization: on consecutive-integer ticks the
    S2 closed form ((t+1)·S1 − U) must be BIT-IDENTICAL to the general
    double-prefix-sum window path — including NULL runs, short frames,
    and a key whose ticks start at a nonzero offset (the identity uses
    tick differences only)."""
    rng = np.random.default_rng(7)
    rows = []
    for k, start in ((0, 0), (1, 0), (2, 5)):
        n = 90
        vals = rng.normal(50, 20, n)
        mask = rng.random(n) < 0.2
        for i in range(n):
            rows.append(
                {
                    "activity_id": k,
                    "t": start + i,
                    "x": None if mask[i] else round(float(vals[i]), 4),
                }
            )
    sdf = to_sdf(spark, pd.DataFrame(rows))
    kw = dict(windows=WINDOWS, quantize=True)
    base = rolling_mean_triang(sdf, "activity_id", "t", ["x"], **kw)
    dense = rolling_mean_triang(sdf, "activity_id", "t", ["x"], dense_ord=True, **kw)
    b = base.orderBy("activity_id", "t").collect()
    d = dense.orderBy("activity_id", "t").collect()
    assert len(b) == len(d)
    for rb, rd in zip(b, d):
        assert rb.asDict() == rd.asDict()  # exact, incl. None pattern


def test_dense_ord_requires_quantize(spark):
    pdf = pd.DataFrame({"activity_id": [1, 1], "t": [0, 1], "x": [1.0, 2.0]})
    with pytest.raises(ValueError, match="dense_ord"):
        rolling_mean_triang(
            to_sdf(spark, pdf), "activity_id", "t", ["x"], [3], dense_ord=True
        )


def test_ord_cols_contract_on_fixture(spark):
    """r13 verdict #5 / ADVICE: the ord_cols=(ts, event_id) opt-in used
    by flagship/w1/g2 rests on two unchecked claims — (ts, event_id)
    is TIE-FREE per activity, and time_key is strictly increasing
    along that order (same row order). Pin both on the fixture the
    oracle gate runs at."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from strava_etl_public_spark.queries import streams

    s = streams(spark, "/root/testdata/sf0.001", keep_source_order=True)
    total = s.count()
    assert (
        s.select("activity_id", "ts", "event_id").distinct().count() == total
    ), "(activity_id, ts, event_id) must be unique (tie-free ordering)"
    w = W.partitionBy("activity_id").orderBy("ts", "event_id")
    bad = (
        s.withColumn("_prev_tk", F.lag("time_key").over(w))
        .filter(F.col("_prev_tk").isNotNull() & (F.col("time_key") <= F.col("_prev_tk")))
        .count()
    )
    assert bad == 0, "time_key must be strictly increasing in (ts, event_id) order"
