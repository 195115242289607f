"""Binned range (interval) join — the scale-safe form of
``points ⋈ intervals ON lo <= p <= hi``.

Spark has no native range-join optimization: a bare BETWEEN join
plans as BroadcastNestedLoopJoin (every point against every interval
— the O(n·m) trap that falls over the moment neither side fits in a
broadcast). The standard fix is binning: put each point in ONE
fixed-width bin, replicate each interval into EVERY bin it overlaps,
equi-join on the bin, and post-filter the exact predicate. Each
matching (point, interval) pair meets exactly once — the point's
single bin — so no dedup pass is needed. Cost is an equi-join of
|points| vs |intervals| · (span/bin + 1) rows: pick ``bin_size`` near
the typical interval span so the replication factor stays ~2.

The same recipe underlies Databricks' RANGE_JOIN hint and the
interval-join operators in Flink/KDB; here it is a pure DataFrame
composition (sequence + explode + equi-join), AQE-skew-safe on hot
bins.
"""

from __future__ import annotations

from collections.abc import Sequence as Seq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_size: int,
    keys: Seq[str] = (),
) -> DataFrame:
    """INNER-join each point row to every interval row with
    ``lo <= point <= hi`` (and equal ``keys``, if given). Columns from
    both sides survive; ``points``/``intervals`` must not share other
    column names.

    ``keys`` tightens the equi-join to (keys…, bin) — the
    equi+range case (e.g. per-user intervals) shuffles on the real key
    and bins only disambiguate within it.

    Inner semantics only, deliberately: an outer variant can't ride
    the bin join + post-filter shape (a point whose bin matches
    intervals that all fail the exact predicate would vanish instead
    of NULL-padding — code-review r6 finding); unmatched-point
    retention needs an explicit anti-join the caller composes."""
    p = points.withColumn("_bin", F.floor(F.col(point_col) / bin_size))
    i = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bin_size), F.floor(F.col(hi_col) / bin_size)
            )
        ),
    )
    joined = p.join(i, [*keys, "_bin"], "inner")
    return joined.filter(
        (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) <= F.col(hi_col))
    ).drop("_bin")


def interval_join_binned(
    left: DataFrame,
    right: DataFrame,
    lo1: str,
    hi1: str,
    lo2: str,
    hi2: str,
    bin_size: int,
    keys: Seq[str] = (),
) -> DataFrame:
    """INNER interval-overlap join: every (left, right) pair with
    ``lo1 <= hi2 AND lo2 <= hi1`` (and equal ``keys``) — the
    interval×interval sibling of :func:`range_join_binned`, same
    binning recipe with one extra idea: BOTH sides replicate across
    their bins, so an overlapping pair would meet once per shared bin;
    instead of a dedup pass, the pair is counted only in its
    REFERENCE bin — the first bin both intervals inhabit,
    ``bin == max(floor(lo1/bin), floor(lo2/bin))`` — which exists and
    is unique for every truly overlapping pair (it is the bin of the
    later-starting interval's lo, which the other interval must reach
    to overlap at all). No distinct shuffle, exact semantics.

    Cost: equi-join of |L|·(span1/bin+1) vs |R|·(span2/bin+1) rows;
    pick ``bin_size`` near the typical span. The naive formulation is
    a BroadcastNestedLoopJoin — O(n·m) and driver-bounded."""
    a = left.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo1) / bin_size), F.floor(F.col(hi1) / bin_size)
            )
        ),
    )
    b = right.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo2) / bin_size), F.floor(F.col(hi2) / bin_size)
            )
        ),
    )
    ref_bin = F.greatest(
        F.floor(F.col(lo1) / bin_size), F.floor(F.col(lo2) / bin_size)
    )
    return (
        a.join(b, [*keys, "_bin"])
        .filter(
            (F.col(lo1) <= F.col(hi2))
            & (F.col(lo2) <= F.col(hi1))
            & (F.col("_bin") == ref_bin)
        )
        .drop("_bin")
    )
