"""Binned range join vs brute force: identical pair sets on random
points/intervals, for several bin sizes (bin size must never change
the answer), with and without equi-keys, inclusive-boundary exactness.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from strava_etl_public_spark.operators.rangejoin import range_join_binned


def _data(seed=0, n_pts=400, n_iv=120, key_mod=None):
    rng = np.random.default_rng(seed)
    pts = pd.DataFrame(
        {"p_id": np.arange(n_pts), "p": rng.integers(0, 10_000, n_pts)}
    )
    lo = rng.integers(0, 9_500, n_iv)
    iv = pd.DataFrame(
        {"iv_id": np.arange(n_iv), "lo": lo, "hi": lo + rng.integers(0, 900, n_iv)}
    )
    if key_mod:
        pts["k"] = pts.p_id % key_mod
        iv["k"] = iv.iv_id % key_mod
    return pts, iv


def _brute(pts, iv, keys=()):
    out = pts.merge(iv, how="cross" if not keys else "inner", on=list(keys) or None)
    out = out[(out.p >= out.lo) & (out.p <= out.hi)]
    return set(map(tuple, out[["p_id", "iv_id"]].to_numpy()))


def test_matches_brute_force_all_bin_sizes(spark):
    pts, iv = _data()
    want = _brute(pts, iv)
    for bin_size in (1, 64, 500, 1000, 20_000):  # incl. one-bin-total
        got = range_join_binned(
            spark.createDataFrame(pts),
            spark.createDataFrame(iv),
            "p",
            "lo",
            "hi",
            bin_size=bin_size,
        )
        rows = set(
            map(tuple, got.select("p_id", "iv_id").toPandas().to_numpy())
        )
        assert rows == want, f"bin_size={bin_size}"
        # exactly-once: no pair appears twice
        assert got.count() == got.dropDuplicates(["p_id", "iv_id"]).count()


def test_equi_key_plus_range(spark):
    pts, iv = _data(seed=3, key_mod=5)
    want = _brute(pts, iv, keys=("k",))
    got = range_join_binned(
        spark.createDataFrame(pts),
        spark.createDataFrame(iv),
        "p",
        "lo",
        "hi",
        bin_size=256,
        keys=("k",),
    )
    assert set(map(tuple, got.select("p_id", "iv_id").toPandas().to_numpy())) == want


def test_inclusive_boundaries(spark):
    pts = pd.DataFrame({"p_id": [1, 2, 3, 4], "p": [9, 10, 20, 21]})
    iv = pd.DataFrame({"iv_id": [7], "lo": [10], "hi": [20]})
    got = (
        range_join_binned(
            spark.createDataFrame(pts),
            spark.createDataFrame(iv),
            "p",
            "lo",
            "hi",
            bin_size=16,
        )
        .select("p_id")
        .toPandas()["p_id"]
        .tolist()
    )
    assert sorted(got) == [2, 3]  # both endpoints in, neighbors out


def test_interval_join_binned_vs_naive_and_bin_invariance(spark):
    import random

    import pandas as pd

    from strava_etl_public_spark.operators.rangejoin import interval_join_binned

    rng = random.Random(5)
    L = [(i, rng.randint(0, 500), rng.randint(0, 60)) for i in range(80)]
    R = [(j, rng.randint(0, 500), rng.randint(0, 60)) for j in range(60)]
    ldf = spark.createDataFrame(
        pd.DataFrame([(i, lo, lo + w) for i, lo, w in L], columns=["lid", "l_lo", "l_hi"])
    )
    rdf = spark.createDataFrame(
        pd.DataFrame([(j, lo, lo + w) for j, lo, w in R], columns=["rid", "r_lo", "r_hi"])
    )
    want = set()
    for i, llo, lw in L:
        for j, rlo, rw in R:
            if llo <= rlo + rw and rlo <= llo + lw:
                want.add((i, j))
    for bin_size in (1, 7, 64, 1000):
        got = interval_join_binned(
            ldf, rdf, "l_lo", "l_hi", "r_lo", "r_hi", bin_size=bin_size
        ).toPandas()
        pairs = list(zip(got.lid, got.rid))
        # exactly once per overlapping pair, at EVERY bin size
        assert len(pairs) == len(set(pairs)) == len(want), bin_size
        assert set(pairs) == want, bin_size
