"""Incremental aggregation-state maintenance (north-star extension):
build per-key algebraic aggregate state from a batch, merge states
across batches, finish to user-facing metrics.

The warehouse pattern behind every incremental rollup: at 100 TB you
cannot re-scan history per refresh, so the rollup is maintained as
MERGEABLE state — counts and quantized sums add, mins/maxes combine.
``merge(state(A), state(B)) == state(A ∪ B)`` is the algebraic
contract; the driver query proves it against a full-corpus oracle.

Determinism: sums are BIGINT over 6dp-quantized values (order-free),
so the finished metrics are bit-equal however batches are sliced.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: 6dp quantization, the repo standard
SCALE = 1_000_000


def agg_state(df: DataFrame, keys: Sequence[str], value_col: str) -> DataFrame:
    """Per-key algebraic state for one batch: ``(keys…, n, sum_q,
    min_v, max_v)`` with ``sum_q`` the DECIMAL(38,0) sum of the
    6dp-quantized value — exact, order-free, and closed under
    addition (the merge operation). One map-side-combined hash agg."""
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(v).cast("long").alias("n"),
        F.sum(F.round(v.cast("double") * SCALE, 0).cast("decimal(38,0)")).alias(
            "sum_q"
        ),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
    )


def merge_agg_states(*states: DataFrame) -> DataFrame:
    """Merge any number of per-key states: counts and quantized sums
    ADD, mins/maxes COMBINE — one union + one hash agg, never a
    rescan of the batches that produced them. Associative and
    commutative, so refresh order and batch slicing can't change the
    result (the property the driver query checks against a
    full-corpus oracle)."""
    assert states, "need at least one state"
    keys = [c for c in states[0].columns if c not in ("n", "sum_q", "min_v", "max_v")]
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    return u.groupBy(*keys).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_q").cast("decimal(38,0)").alias("sum_q"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def finish_state(state: DataFrame) -> DataFrame:
    """Read-time finish: quantized sum → 6dp value sum and mean —
    the serving half of the state split."""
    keys = [c for c in state.columns if c not in ("n", "sum_q", "min_v", "max_v")]
    return state.select(
        *keys,
        F.col("n"),
        F.round(F.col("sum_q").cast("double") / F.lit(float(SCALE)), 6).alias(
            "sum_v"
        ),
        F.round(
            F.col("sum_q").cast("double")
            / F.lit(float(SCALE))
            / F.col("n").cast("double"),
            6,
        ).alias("mean_v"),
        "min_v",
        "max_v",
    )
