"""Weighted rolling windows + per-activity maxima (SURVEY §2 W1/G2/N8).

The reference computes ``df.rolling(w, win_type='triang').mean()`` for
w ∈ {1,5,10,20,30,45,60,120,300,600,1200} and takes the max per metric
(reference main.py:83-106) — 11 full pandas passes. pandas semantics:

- trailing row-frame of exactly ``w`` rows
- weights = symmetric triangular window of length ``w``
  (odd w=2m-1: 1,2,…,m,…,2,1 ∝ ; even w=2m: 1,3,…,2m-1,2m-1,…,3,1 ∝)
- result = Σ wⱼxⱼ / Σ wⱼ
- NULL while the frame holds fewer than ``w`` rows (min_periods=w)
- any NULL inside the frame propagates NULL

**Spark-first design — box-filter composition over prefix sums.** A
triangular filter is a cascade of box (unweighted) sums:

- odd  w = 2m-1:  tri_sum = box_m(box_m(x)),             Σw = m²
- even w = 2m:    tri_sum = 2·box_m(box_{m+1}(x)) − box_{2m}(x),  Σw = 2m²

and a box-of-box is a **double-prefix-sum stencil**: with S1 =
cumsum(x), S2 = cumsum(S1), every window size is a 3-6 point
combination of lagged S1/S2 values. Bounded sliding frames are avoided
entirely — Spark's WindowExec re-aggregates them from scratch per row
(O(w)/row, ~1200 ops/row at w=1200) while running frames and ``lag``
are O(1)/row. Only 3 narrow columns per metric (S1, S2, count) flow
between the three chained window passes, all sharing one
partition+sort (one shuffle, one sort total); no ``collect_list``
arrays, no UDF, everything whole-stage-codegen'd.

Numerics: S2 grows O(n²·x̄) within a partition, so stencil differences
lose ~eps·S2 ≈ 1e-16·n²·x̄ absolute — at n=100 000 samples and x̄~100
that is ~1e-10 on the windowed mean, far inside the 1e-6 rounding the
oracle layer applies. (A per-partition-reset variant would be needed
beyond ~10⁸-row single keys; activities are ≤100 000 samples by
construction, reference main.py:56.)

Values inside frames that contain a NULL (or are shorter than ``w``)
are garbage from null-skipping sums, but exactly those frames are
masked by the trailing-count ``== w`` check — matching pandas.

At 100 TB this is the right shape: cost is O(rows × windows) with O(1)
per-row constants, memory is O(1) per row (no frame buffers), and the
only shuffle is the initial hash partition by activity.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

REFERENCE_WINDOWS = (1, 5, 10, 20, 30, 45, 60, 120, 300, 600, 1200)


def rolling_mean_triang(
    df: DataFrame,
    key: str,
    ord_col: str,
    cols: Sequence[str],
    windows: Sequence[int] = REFERENCE_WINDOWS,
    suffix: str = "tri",
    quantize: bool = False,
    ord_cols: Sequence[str] | None = None,
    dense_ord: bool = False,
) -> DataFrame:
    """Add ``{col}_{suffix}_{w}`` triangular-weighted trailing means.

    Every trailing box sum is a **prefix-sum difference**:
    ``box_n(i) = cumsum(i) − cumsum(i−n)`` — the running cumsum is
    evaluated incrementally by Spark (O(1)/row) and ``lag(·, n)`` is an
    O(1) offset lookup, so the whole 33-output cascade is O(1) per row
    per output. A direct ``sum().over(rowsBetween(-(n-1), 0))`` would be
    O(n) per row (WindowExec re-aggregates bounded sliding frames — no
    retract), i.e. ~1200 ops/row for w=1200. All four passes share one
    partition+sort, so there is exactly one shuffle and one sort.

    Truncated-head semantics match the sliding frame exactly
    (``coalesce(lag, 0)`` ⇒ sum from partition start); all-NULL frames
    differ (0 vs NULL) only at rows the min_periods mask nulls anyway.

    ``quantize=True`` computes the mean EXACTLY over inputs quantized
    to 1e-6 (µ-unit BIGINT prefix sums): the stencil becomes integer
    math, identical to any per-frame weighted fold — use it when the
    input column is itself a computed double (e.g. interpolation
    output), where raw-double stencil-vs-fold summation-order drift
    can straddle a round(·,6) boundary between engines. Raw fixture
    columns don't need it (finite decimals; drift ≪ boundary gap).
    Overflow safety is the standard modular prefix-sum argument: int64
    S1/S2 may wrap on an extreme activity (needs |v|·n² > 9.2e18
    µ-units, e.g. n=100k rows at |v|>920), but stencil DIFFERENCES are
    exact mod 2^64 and the true windowed sum is bounded by
    m²·1e6·max|v| ≤ ~4e11·|v| ≪ 2^63, so wrapped math still yields the
    exact result (a DECIMAL(38,0) S2 variant measured +70% on the
    rolling stage for protection against overflow that cannot change
    the answer). Under ANSI mode a wrap raises loudly instead — either
    way, never a silent wrong answer.

    ``ord_cols`` (r13) optionally replaces ``ord_col`` as the window
    ORDERING expressions; the caller asserts it yields the same
    per-key row order (e.g. the source columns a derived cumsum tick
    is strictly increasing over). Every frame here is row-based, so
    same order ⇒ bit-identical outputs — but ordering by the columns
    the input is ALREADY sorted on lets the planner elide the rolling
    stage's own full re-sort (Spark's sort-equivalence check is
    attribute-syntactic; it cannot prove a derived tick is monotone).
    Measured −12% on the g2 shape at sf0.1. The caller's ordering
    tuple must be TIE-FREE per key (unique per (key, ord_cols…) row):
    a tied ordering makes row-based frames nondeterministic. See
    tests/test_rolling.py for the per-caller contract checks.

    ``dense_ord`` (r14): when ``ord_col`` is CONSECUTIVE integers per
    key (densified input — each key's ticks are t0, t0+1, …), the
    second prefix sum is a closed form of the first: row index
    differences equal tick differences, so

        S2(i) = Σ_{l≤i}(t_i − t_l + 1)·x_l = (t_i + 1)·S1(i) − U(i),
        U(i)  = running_sum(t·x)

    — S2 becomes a PROJECTION off pass 1 (U rides the same window as
    S1) and the middle Window node disappears: 3 window passes → 2
    over the pipeline's biggest table (guide §2.4). Requires
    ``quantize=True``: the identity is exact in µ-unit BIGINT math
    (same modular-overflow argument as the stencil — products may wrap
    but stencil differences are exact mod 2^64 and the true value
    fits), while re-associating raw double sums could drift across a
    round(·,6) boundary. The caller asserts density; a gap in the
    ticks silently breaks the identity, so only densified inputs
    (resample.densify / densify_interpolate_fused output) qualify —
    tests/test_rolling.py pins equivalence vs the general path.
    """
    if dense_ord and not quantize:
        raise ValueError("dense_ord requires quantize=True (integer-exact identity)")
    order_by = list(ord_cols) if ord_cols else [ord_col]
    run = (
        Window.partitionBy(key)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_lag = Window.partitionBy(key).orderBy(*order_by)

    def s1(c: str, off: int) -> Column:
        if off == 0:
            return F.col(f"_s1_{c}")
        default = F.lit(0).cast("long") if quantize else F.lit(0.0)
        return F.coalesce(F.lag(f"_s1_{c}", off).over(w_lag), default)

    def s2(c: str, off: int) -> Column:
        if off == 0:
            return F.col(f"_s2_{c}")
        default = F.lit(0).cast("long") if quantize else F.lit(0.0)
        return F.coalesce(F.lag(f"_s2_{c}", off).over(w_lag), default)

    # Pass 1: S1 = running sum of the NULL→0 series (total function, so
    # the stencil identities below hold at every row) + running count of
    # the raw series for the min_periods/NULL mask.
    src: dict[str, Column] = {}
    pass1: dict[str, Column] = {}
    for c in cols:
        src[c] = (
            F.round(F.col(c) * F.lit(1e6)).cast("long") if quantize
            else F.col(c)
        )
        zero = F.lit(0).cast("long") if quantize else F.lit(0.0)
        pass1[f"_s1_{c}"] = F.sum(F.coalesce(src[c], zero)).over(run)
        pass1[f"_cc_{c}"] = F.count(c).over(run)
        if dense_ord:
            # U = running sum of t·x shares pass 1's window; S2 below
            # becomes a projection instead of a second window pass
            pass1[f"_u_{c}"] = F.sum(
                F.col(ord_col).cast("long") * F.coalesce(src[c], zero)
            ).over(run)

    # Pass 2: S2 = running sum of S1 (the double prefix sum) — or, on
    # dense ticks, the closed form (t+1)·S1 − U as a plain projection.
    if dense_ord:
        pass2 = {
            f"_s2_{c}": (F.col(ord_col).cast("long") + F.lit(1).cast("long"))
            * F.col(f"_s1_{c}")
            - F.col(f"_u_{c}")
            for c in cols
        }
    else:
        pass2 = {f"_s2_{c}": F.sum(f"_s1_{c}").over(run) for c in cols}

    # Pass 3: every window is a constant-size stencil on S1/S2 —
    #   box_n(x)(i)          = S1(i) − S1(i−n)
    #   box_m(box_n(x))(i)   = S2(i) − S2(i−m) − S2(i−n) + S2(i−m−n)
    # so odd  w=2m−1: tri = S2(i) − 2·S2(i−m) + S2(i−2m)
    #    even w=2m:   tri = 2·[S2(i) − S2(i−m) − S2(i−m−1) + S2(i−2m−1)]
    #                       − [S1(i) − S1(i−2m)]
    # Lag defaults of 0 ARE the empty-prefix sums, so no head special-
    # casing; rows whose frame is short or contains a NULL are masked.
    two = F.lit(2).cast("long") if quantize else F.lit(2.0)
    final: dict[str, Column] = {}
    for w in windows:
        for c in cols:
            name = f"{c}_{suffix}_{w}"
            if w == 1:
                final[name] = (
                    (src[c].cast("double") / F.lit(1e6)) if quantize
                    else F.col(c).cast("double")
                )
                continue
            m = (w + 1) // 2
            if w % 2 == 1:
                tri_sum = s2(c, 0) - two * s2(c, m) + s2(c, 2 * m)
                norm = float(m * m)
            else:
                box2 = two * (s2(c, 0) - s2(c, m) - s2(c, m + 1) + s2(c, 2 * m + 1))
                box1 = s1(c, 0) - s1(c, 2 * m)
                tri_sum = box2 - box1
                norm = float(2 * m * m)
            n_valid = F.col(f"_cc_{c}") - F.lag(f"_cc_{c}", w, 0).over(w_lag)
            denom = F.lit(norm * 1e6) if quantize else F.lit(norm)
            final[name] = F.when(n_valid == w, tri_sum.cast("double") / denom)

    out = df.withColumns(pass1).withColumns(pass2).withColumns(final)
    # drop the helpers BY THE NAMES THIS FUNCTION CREATED — reading
    # out.columns here would force a full ANALYSIS of the widest plan
    # in the pipeline mid-construction (hundreds of window/stencil
    # expressions), measured as multi-second driver time on the e2e
    # shape (r14; guide §7.3 — planning is single-threaded driver work)
    return out.drop(*pass1.keys(), *pass2.keys())


def activity_maxes(
    df: DataFrame,
    key: str,
    cols: Sequence[str],
    windows: Sequence[int] = REFERENCE_WINDOWS,
    suffix: str = "tri",
    clamp_negative: bool = True,
) -> DataFrame:
    """Per-key max of every rolling column, in ONE aggregation pass (G2).

    The reference runs 11 separate full-frame passes (main.py:88-106);
    here all 33 maxima come out of a single partial+final hash agg.
    ``clamp_negative`` reproduces the NULL-below-zero rule (N8,
    reference main.py:109-117).
    """
    aggs = []
    for c in cols:
        for w in windows:
            mx = F.max(f"{c}_{suffix}_{w}")
            if clamp_negative:
                mx = F.when(mx >= 0, mx)
            aggs.append(mx.alias(f"max_{c}_{w}"))
    return df.groupBy(key).agg(*aggs)


def rolling_mean_triang_pandas(
    df: DataFrame,
    key: str,
    ord_col: str,
    cols: Sequence[str],
    windows: Sequence[int] = REFERENCE_WINDOWS,
    suffix: str = "tri",
) -> DataFrame:
    """Grouped-map (``applyInPandas``) twin of ``rolling_mean_triang`` —
    the §2.J UDTF-shaped surface: one Arrow batch per activity, pandas
    semantics bit-for-bit because it literally runs the numpy oracle.

    Scale shape: one shuffle on ``key`` (same as the window path), but
    rows cross the JVM↔Python boundary — use the box-composition
    expression path for hot pipelines; this one exists for parity
    checks and as the template for ops that genuinely need pandas.
    A whole activity must fit in one executor's memory (true in the
    reference: ≤100 000 samples, main.py:56).
    """
    out_fields = [f"{c}_{suffix}_{w}" for w in windows for c in cols]
    schema_ddl = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"`{name}` double" for name in out_fields]
    )

    def _roll(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ord_col).reset_index(drop=True)
        for w in windows:
            for c in cols:
                pdf[f"{c}_{suffix}_{w}"] = rolling_triang_pandas_oracle(
                    pdf[c].astype(float), w
                )
        return pdf

    return df.groupBy(key).applyInPandas(_roll, schema=schema_ddl)


# ---------------------------------------------------------------------------
# pandas-parity oracle (test-only path; kept out of production pipelines).
# ---------------------------------------------------------------------------


def triang_weights(w: int) -> np.ndarray:
    """Symmetric triangular window, identical to scipy.signal.triang —
    what pandas uses for win_type='triang' (reference main.py:89)."""
    if w == 1:
        return np.array([1.0])
    if w % 2 == 1:
        m = (w + 1) // 2
        half = 2.0 * np.arange(1, m + 1) / (w + 1)
        return np.concatenate([half, half[-2::-1]])
    m = w // 2
    half = (2.0 * np.arange(m) + 1.0) / w
    return np.concatenate([half, half[::-1]])


def rolling_triang_pandas_oracle(
    values: "pd.Series", w: int
) -> "pd.Series":
    """NumPy re-implementation of pandas rolling(w, win_type='triang')
    .mean() — the bit-exactness oracle for tests (no scipy needed)."""
    x = values.to_numpy(dtype=float)
    wts = triang_weights(w)
    norm = wts.sum()
    out = np.full(len(x), np.nan)
    if len(x) >= w:
        # trailing weighted mean == 'valid' convolution with reversed
        # weights; a NaN anywhere in a frame propagates through the
        # convolution exactly like pandas' win_type rolling (no skipping)
        out[w - 1 :] = np.convolve(x, wts[::-1], mode="valid") / norm
    return pd.Series(out, index=values.index)


def ewma_by_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
    init_state: DataFrame | None = None,
) -> DataFrame:
    """Exponentially-weighted moving average per key — the smoothing
    recursion s₁ = x₁, sₜ = α·xₜ + (1−α)·sₜ₋₁ (pandas ewm
    adjust=False semantics; the reference's rolling means are the
    finite-window cousins, reference main.py:83-106 — EWMA is the
    unbounded-memory smoother a sensor pipeline reaches for next).

    ``init_state`` (key_cols + ``s0`` double) makes the fold
    RESUMABLE: keys present in the state seed their recursion at s₀
    instead of the first value — the incremental-maintenance contract.
    Because the recursion is associative-over-prefix (the state after
    a prefix is all a suffix needs), folding a strictly-later batch
    from the stored state is EXACTLY equal to recomputing the full
    series; state is one double per key, cost is one broadcast join +
    the batch's rows, never the corpus.

    The recursion is inherently SEQUENTIAL in event order, so this is
    a textbook case for the sanctioned imperative path: applyInPandas
    per key (one shuffle on the key, Arrow batches, each series
    smoothed in one linear pass). The closed-form window rewrite
    (sₜ = (1−α)ᵗ·Σ xᵢ·α/(1−α)ⁱ) is NOT used: (1−α)⁻ⁱ overflows
    double by i≈700 at α=0.3, so the "pure SQL" version is a numerical
    trap at exactly the series lengths where scale matters.

    Determinism: the Python loop performs literally s = α·x + (1−α)·s
    in IEEE double, the same arithmetic an engine-side recursion
    (e.g. a recursive CTE) performs — results are bit-equal given the
    same (order_cols) total order, so callers must pass a tie-free
    ordering. State is one double per key; series length is unbounded.
    """
    import pandas as pd

    keep = list(dict.fromkeys(key_cols + order_cols + [value_col]))
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*keep).schema.fields
    ) + f", {out_col} double"
    a = float(alpha)
    b = 1.0 - a

    has_state = init_state is not None
    src = df.select(*keep)
    if has_state:
        st = init_state.select(
            *[F.col(k) for k in key_cols], F.col("s0").alias("_s0")
        )
        src = src.join(F.broadcast(st), key_cols, "left")

    # Grouping by the RAW key would dispatch one Python call per key —
    # measured ~3.7 ms/group of pure grouped-map overhead, which at
    # 15k users swamps the fold itself (27 s for an 11k-row batch).
    # Group by a HASH BUCKET of the key instead: one Arrow batch and
    # ONE Python call per bucket, with all of a key's rows still
    # co-located (hash of the full key) — the per-bucket loop walks
    # (key, order)-sorted rows and resets state on key change, so the
    # arithmetic and order are IDENTICAL to the per-key version.
    n_buckets = 64

    def _smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(key_cols + order_cols, kind="mergesort").reset_index(
            drop=True
        )
        seeds = pdf["_s0"].tolist() if has_state else None
        vals = pdf[value_col].tolist()
        keys = list(zip(*(pdf[k] for k in key_cols)))
        out = []
        prev_key, s = None, None
        for i in range(len(vals)):
            k = keys[i]
            if k != prev_key:
                prev_key = k
                s0 = seeds[i] if seeds is not None else None
                s = None if s0 is None or s0 != s0 else float(s0)
            x = float(vals[i])
            s = x if s is None else a * x + b * s
            out.append(s)
        pdf[out_col] = out
        if has_state:
            pdf = pdf.drop(columns=["_s0"])
        return pdf

    bucket = F.pmod(
        F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets)
    )
    return (
        src.withColumn("_bk", bucket)
        .groupBy("_bk")
        .applyInPandas(_smooth, f"_bk bigint, {schema}")
        .drop("_bk")
    )
