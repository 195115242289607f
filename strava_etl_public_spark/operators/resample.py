"""Time-spine densification + linear interpolation (SURVEY §2 J1/J2/W2/W3).

The reference builds a dense per-second spine ``0 … max(time_key)`` per
activity and left-joins the sparse sensor samples onto it, then runs
pandas ``.interpolate()`` (reference main.py:47-59). pandas default
interpolation semantics (method='linear', forward direction):

- interior NaN runs: linear between nearest non-null neighbors
- trailing NaNs: forward-filled with the last non-null value
- leading NaNs: left as NaN

All of that is reproduced here with two window passes per column —
``last(..., ignorenulls)`` looking back and ``first(..., ignorenulls)``
looking forward — no UDFs, fully whole-stage-codegen'd, one sort per
partition spec shared by every interpolated column.

Scale notes: the spine explode (`sequence` + `explode`) is a generator,
pipelined by Spark without materializing per-activity arrays. The join
is a co-partitioned equi-join on (key, ord) — with AQE on, skewed
activities (reference main.py:56 allows 100 000-second activities) are
split at runtime.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def spine(df: DataFrame, key: str, ord_col: str, start: int = 0) -> DataFrame:
    """Dense integer spine ``start … max(ord_col)`` per key (J1).

    Mirrors ``range(0, max(time_key)+1)`` at reference main.py:47.
    """
    return (
        df.groupBy(key)
        .agg(F.max(ord_col).alias("_mx"))
        .select(
            key,
            F.explode(F.sequence(F.lit(start).cast("long"), F.col("_mx").cast("long"))).alias(
                ord_col
            ),
        )
    )


def densify(df: DataFrame, key: str, ord_col: str, start: int = 0) -> DataFrame:
    """Left-join samples onto the dense spine (J2; reference main.py:59).

    Every spine tick is kept; missing samples become NULL rows (pandas
    NaN rows in the reference).

    This is the canonical two-sided shape that certifies the J2
    spine-join operator (j1_j2_spine_join) and the test oracle for the
    one-pass gap-fill. Pipelines that only need the densified OUTPUT
    (w2, n10, the activity e2e) use :func:`densify_interpolate_fused`
    instead — same rows, one pass, no join.
    """
    return spine(df, key, ord_col, start).join(df, [key, ord_col], "left")


def densify_interpolate_fused(
    df: DataFrame,
    key: str,
    ord_col: str,
    cols: Sequence[str],
    start: int = 0,
) -> DataFrame:
    """Densify + linear interpolation in ONE pass over the SPARSE
    table. With ``cols=[]`` it is the gap-fill alone, row-identical to
    :func:`densify` for inputs with ``ord_col >= start``; with ``cols``
    it is row-identical to ``interpolate_linear(densify(df, key,
    ord_col, start), key, ord_col, cols)`` under two preconditions the
    caller asserts:

    * ``(key, ord_col)`` is unique (no duplicate sample ticks), and
    * every ``cols`` value is non-NULL on the sample rows.

    Gap-fill (r13): ``densify`` builds the spine as a groupBy-max
    branch of ``df`` and left-joins ``df`` back — Spark plans the
    ``df`` subtree TWICE (branch subtrees are never deduplicated;
    plans/r13/w2_interpolate_linear_before.txt shows two full
    scan+exchange+sort+window subtrees) plus the join machinery. But
    each sample row already knows exactly which spine ticks it is
    responsible for: the half-open gap from its predecessor. So emit,
    per row, the ticks ``max(start, prev_ord+1) … ord`` via one
    generator, with every payload column masked NULL except at the
    sample's own tick:

    - gap ticks come out exactly once (consecutive ranges tile
      ``start … max(ord)``), with NULL payloads = the join's unmatched
      spine rows;
    - the sample's own tick carries its payloads = the matched row;
    - a duplicate ``(key, ord)`` sample emits just its own tick again
      = the join's multiplicity;
    - the first row per key starts its range at ``start`` = the spine
      head (no trailing ticks exist past max(ord), same as the spine).

    Rows with ``ord_col < start`` are dropped up front, as
    ``densify``'s left join drops them (the spine has no tick below
    ``start``). One residual asymmetry stays: a key whose rows are ALL
    below ``start`` contributes no spine here, while ``densify``'s
    groupBy-max still emits its key — an input outside the
    ``ord_col >= start`` domain.

    Interpolation (r14): each gap tick the gap-fill emits is generated
    by the sample at its RIGHT edge — which IS its next non-null neighbor
    under the preconditions — and the previous neighbor is one ``lag``
    on the sparse table, in the same window the gap-fill already runs.
    So the interpolation that used to cost TWO window passes (DESC +
    ASC) over the DENSE table becomes plain arithmetic inside the
    generator projection, computed from sparse-row state:

    - gap tick t between samples (po, pv) and (so, nv):
      ``pv + (nv − pv) · ((t − po)/(so − po))`` — the identical
      expression tree ``interpolate_linear`` builds, evaluated on the
      identical values, so outputs are bit-equal doubles;
    - the sample's own tick carries its value (its ``cols`` are
      non-null, so ``interpolate_linear``'s first branch fired there);
    - leading gap ticks (no previous sample) stay NULL;
    - trailing ticks past the last sample don't exist (spine ends at
      ``max(ord)``), so the forward-fill branch can never fire under
      the preconditions.

    Non-interpolated payload columns keep densify semantics (NULL on
    gap ticks). A violated value-NULL precondition diverges (the NULL
    sample is its own "neighbor" here but was skipped by
    ignorenulls there) — callers are fixture-contract-tested
    (tests/test_resample.py, tests/test_rolling.py); inputs with
    possible NULL samples must keep the two-pass composition.

    Scale shape: the dense table is produced already interpolated —
    zero window passes over the pipeline's biggest intermediate; the
    only window runs on the sparse grain. At a 1 Hz spine over sparse
    sensors the dense/sparse ratio is the multiplier on everything
    this skips.
    """
    rest = [c for c in df.columns if c not in (key, ord_col)]
    interp = [c for c in cols]
    df = df.filter(F.col(ord_col) >= F.lit(start))
    w = Window.partitionBy(key).orderBy(ord_col)
    prev = F.lag(ord_col).over(w)
    lo = F.least(
        F.greatest(F.coalesce(prev + 1, F.lit(start)), F.lit(start)),
        F.col(ord_col),
    )
    base = (
        df.withColumn("_lo", lo.cast("long"))
        .withColumn("_po", prev.cast("long"))
        .withColumns({f"_pv_{c}": F.lag(c).over(w) for c in interp})
    )
    ticks = F.sequence(F.col("_lo"), F.col(ord_col).cast("long"))
    ex = base.select(
        F.col(key),
        F.col(ord_col).alias("_sample_ord"),
        F.explode(ticks).alias(ord_col),
        F.col("_po"),
        *[F.col(f"_pv_{c}") for c in interp],
        *[F.col(c) for c in rest],
    )
    is_sample = F.col(ord_col) == F.col("_sample_ord")
    out: list[Column] = []
    for c in rest:
        if c in interp:
            pv = F.col(f"_pv_{c}")
            nv = F.col(c)
            ratio = (F.col(ord_col) - F.col("_po")).cast("double") / (
                F.col("_sample_ord") - F.col("_po")
            ).cast("double")
            out.append(
                F.when(is_sample, F.col(c))
                .when(pv.isNull(), F.lit(None))
                .otherwise(pv + (nv - pv) * ratio)
                .alias(c)
            )
        else:
            out.append(F.when(is_sample, F.col(c)).alias(c))
    return ex.select(F.col(key), F.col(ord_col), *out)


def interpolate_linear(
    df: DataFrame, key: str, ord_col: str, cols: Sequence[str]
) -> DataFrame:
    """Linear interpolation with pandas edge semantics (W2).

    For each column: interior gaps are linearly interpolated, trailing
    gaps forward-filled, leading gaps stay NULL — exactly pandas
    ``.interpolate()`` defaults (reference main.py:59).
    """
    # Both look-behind AND look-ahead are expressed as *running*
    # (unboundedPreceding → current) frames — the look-ahead over a
    # DESCENDING sort. Spark evaluates running frames incrementally
    # (O(n) per partition); a (0 → unboundedFollowing) frame re-scans
    # the remaining partition per row — O(n²), minutes on a 100k-sample
    # activity (measured: 200k rows hung >190s vs 1.2s this way).
    w_back = (
        Window.partitionBy(key)
        .orderBy(F.col(ord_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(key)
        .orderBy(F.col(ord_col).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    # All same-spec window expressions land in ONE projection batch per
    # direction (withColumns, not a per-column withColumn loop): the
    # loop interleaves asc/desc exprs, and Catalyst preserves that
    # order — measured 4 Window + 4 Sort nodes for a single column
    # (12/10 at three columns). Batched: exactly one Window node (and
    # one sort) per direction however many columns interpolate.
    wb_cols: dict[str, F.Column] = {}
    wf_cols: dict[str, F.Column] = {}
    for c in cols:
        v = F.col(c)
        t_if = F.when(v.isNotNull(), F.col(ord_col))
        wb_cols[f"_pv_{c}"] = F.last(v, ignorenulls=True).over(w_back)
        wb_cols[f"_pt_{c}"] = F.last(t_if, ignorenulls=True).over(w_back)
        wf_cols[f"_nv_{c}"] = F.last(v, ignorenulls=True).over(w_fwd)
        wf_cols[f"_nt_{c}"] = F.last(t_if, ignorenulls=True).over(w_fwd)
    # Descending pass FIRST, ascending pass LAST (r13): the two passes
    # are value-independent, but their order decides the OUTPUT
    # ordering — ending on the ascending pass leaves rows sorted by
    # (key, ord ASC), exactly what every downstream per-key window
    # consumer (the rolling stencil in the activity e2e) requires, so
    # EnsureRequirements elides a full re-sort of the densified table.
    # Ending on the descending pass (the old order) forced it.
    out = df.withColumns(wf_cols).withColumns(wb_cols)
    final: dict[str, F.Column] = {}
    for c in cols:
        v = F.col(c)
        prev_v, prev_t = F.col(f"_pv_{c}"), F.col(f"_pt_{c}")
        next_v, next_t = F.col(f"_nv_{c}"), F.col(f"_nt_{c}")
        ratio = (F.col(ord_col) - prev_t).cast("double") / (next_t - prev_t).cast("double")
        final[c] = (
            F.when(v.isNotNull(), v)
            .when(prev_v.isNull(), F.lit(None))
            .when(next_v.isNull(), prev_v)  # trailing ffill
            .otherwise(prev_v + (next_v - prev_v) * ratio)
        )
    out = out.withColumns(final)
    return out.drop(
        *[f"_{p}_{c}" for c in cols for p in ("pv", "pt", "nv", "nt")]
    )


def mask_endpoints(
    df: DataFrame, key: str, ord_col: str, cols: Sequence[str]
) -> DataFrame:
    """NULL the first and last row of each key for the given columns (W3).

    Mirrors the latlng privacy mask at reference strava_sdk.py:175-176.
    """
    w = Window.partitionBy(key).orderBy(ord_col)
    rn = F.row_number().over(w)
    cnt = F.count(F.lit(1)).over(Window.partitionBy(key))
    out = df.withColumn("_rn", rn).withColumn("_cnt", cnt)
    for c in cols:
        out = out.withColumn(
            c, F.when((F.col("_rn") == 1) | (F.col("_rn") == F.col("_cnt")), F.lit(None)).otherwise(F.col(c))
        )
    return out.drop("_rn", "_cnt")


def row_position(df: DataFrame, key: str, ord_col: str, out_col: str = "time_new") -> DataFrame:
    """Dense 0-based row position per key (W4; reference main.py:63)."""
    w = Window.partitionBy(key).orderBy(ord_col)
    return df.withColumn(out_col, (F.row_number().over(w) - F.lit(1)).cast("long"))


def locf_fill(
    df: DataFrame,
    key: str,
    ord_cols: Sequence[str],
    cols: Sequence[str],
) -> DataFrame:
    """Last-observation-carried-forward gap fill: each NULL takes the
    most recent non-NULL value within its key, in (ord_cols…) order —
    the step-function sibling of interpolate_linear for state-like
    series (a sensor that reports on change, a price that holds until
    the next tick). Leading NULLs (nothing to carry) stay NULL.

    One window per key ordering shared by every filled column
    (``last(…, ignorenulls)`` over an unbounded-preceding frame) —
    one shuffle+sort total, the same single-sort-family discipline as
    the interpolation operator. Adds ``{col}_filled`` plus a
    ``{col}_was_filled`` flag per column."""
    w = (
        Window.partitionBy(key)
        .orderBy(*ord_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    new_cols: dict[str, F.Column] = {}
    for c in cols:
        filled = F.last(F.col(c), ignorenulls=True).over(w)
        new_cols[f"{c}_filled"] = filled
        new_cols[f"{c}_was_filled"] = (
            F.col(c).isNull() & filled.isNotNull()
        ).cast("int")
    return out.withColumns(new_cols)


def downsample_ohlc(
    df: DataFrame,
    key_cols: Sequence[str],
    ord_col: str,
    value_col: str,
    width: int,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Downsample an irregular series to fixed ``width`` buckets with
    open/high/low/close + observation count — the standard lossy
    compaction for sensor/price series (candlesticks) and the
    aggregation face of the resampling family (densify/interpolate
    reconstruct, this one summarizes).

    Plan shape (the point of this implementation): ``min_by`` with a
    STRUCT ordering — the obvious way to break (ord, tiebreak) ties —
    silently degrades the whole aggregate to SortAggregate, because
    hash aggregation requires mutable primitive buffer types; that
    re-sorts the entire input by group key. Instead, tie resolution
    is itself algebraic, so with a ``tiebreak_col`` this decomposes
    into TWO HashAggregates with primitive orderings: level 0 groups
    by (keys, bucket, ord) and resolves ties via min_by/max_by over
    the tiebreak; level 1 groups by (keys, bucket) and picks
    open/close via min_by/max_by over ord. Both stay in whole-stage
    codegen with map-side combine — no sort anywhere, which is the
    plan you want when 100 TB flows through. Without a tiebreak the
    single-level hash aggregate is used (open/close then
    nondeterministic under exact ord ties). Values pass through with
    no arithmetic → engine-exact.
    """
    keys = list(key_cols)
    bucket = (F.floor(F.col(ord_col) / F.lit(float(width))) * width).cast("long")
    if tiebreak_col is None:
        return df.groupBy(
            *[F.col(c) for c in keys], bucket.alias("bucket_start")
        ).agg(
            F.min_by(F.col(value_col), F.col(ord_col)).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(F.col(value_col), F.col(ord_col)).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
    per_ord = df.groupBy(
        *[F.col(c) for c in keys], bucket.alias("bucket_start"), F.col(ord_col)
    ).agg(
        F.min_by(F.col(value_col), F.col(tiebreak_col)).alias("_v_first"),
        F.max_by(F.col(value_col), F.col(tiebreak_col)).alias("_v_last"),
        F.max(value_col).alias("_v_high"),
        F.min(value_col).alias("_v_low"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    return per_ord.groupBy(*keys, "bucket_start").agg(
        F.min_by("_v_first", ord_col).alias("open"),
        F.max("_v_high").alias("high"),
        F.min("_v_low").alias("low"),
        F.max_by("_v_last", ord_col).alias("close"),
        F.sum("_cnt").cast("long").alias("n_obs"),
    )
