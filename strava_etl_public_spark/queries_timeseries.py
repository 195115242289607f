"""Time-series analytics query: autocorrelation over the daily event
series.

New module (round 9, third arc) — queries_ml_geo.py sits at the
1,600-line per-file discipline boundary, so the time-series family
starts its own home. Registration order appends after queries_ml_geo
(see queries_ext), leaving all existing names untouched.

Determinism discipline (the registry header's rules, applied):
quantize to BIGINT micro-units at the source, clear denominators so
every comparison and window stays in exact integer arithmetic, and
emit doubles only through SINGLE operations on exact-integer inputs
(one division, one sqrt) — IEEE-deterministic, so DuckDB and the JVM
produce bit-identical results without any round-trip tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .functions import epoch as ep
from .io import load
from .queries_common import register
from .session import ensure_harness_conf

# shared daily quantized-mean series (the CUSUM query's `d` CTE shape):
# per (event_type, epoch-day), the day's mean value quantized to
# BIGINT micro-units — exact, engine-identical
_DAILY_SQL = """
  SELECT event_type,
         CAST(epoch_ns(ts) // 1000000000 AS BIGINT) // 86400 AS day,
         CAST(round(CAST(sum(CAST(round(CAST(value AS DOUBLE) * 1000000, 0)
                               AS BIGINT)) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE), 0) AS BIGINT) AS mq
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) // 86400
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    e = ev.select(
        "event_type",
        (ep.epoch_s(ev) / 86400).cast("long").alias("day"),
        F.round(F.col("value").cast("double") * 1000000, 0)
        .cast("long")
        .alias("vq"),
    )
    return e.groupBy("event_type", "day").agg(
        F.round(
            F.sum("vq").cast("double") / F.count(F.lit(1)).cast("double"), 0
        )
        .cast("long")
        .alias("mq")
    )


@register(
    "x_ts_acf",
    oracle=f"""
WITH d AS ({_DAILY_SQL}),
lagged AS (
  SELECT event_type, l.lag AS lag, mq AS y,
         lag(mq, l.lag) OVER (PARTITION BY event_type, l.lag
                              ORDER BY day) AS x
  FROM d CROSS JOIN (SELECT unnest([1, 2, 7]) AS lag) l
),
s AS (
  SELECT event_type, lag,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(x * y) AS HUGEINT) AS sxy,
         CAST(sum(x * x) AS HUGEINT) AS sxx,
         CAST(sum(y * y) AS HUGEINT) AS syy
  FROM lagged WHERE x IS NOT NULL
  GROUP BY event_type, lag HAVING count(*) >= 3
)
SELECT event_type, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       round(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                  THEN CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE))
             END, 6) + 0.0 AS acf
FROM s
""",
)
def x_ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the per-type daily-mean series at lags
    {1, 2, 7} — the diagnostic that justifies (or refutes) the weekly
    period a seasonal decomposition assumes, and the standard
    pre-modeling check for any forecasting feature. Pearson r per
    (type, lag) over (x_t, x_{t-lag}) pairs.

    The built-in corr() aggregates in floating point with
    engine-specific accumulation order, so r is computed from EXACT
    integer moments instead: n, Σx, Σy, Σxy, Σx², Σy² in DECIMAL(38)
    (HUGEINT oracle-side — daily micro-means square to ~1e19·days,
    past BIGINT), then one division and one sqrt on exact-integer-
    valued doubles — both IEEE-correctly-rounded, so the 6dp result is
    engine-identical. Degenerate series (constant x or y, or <3 pairs)
    emit NULL, never a 0/0. Plan: the daily hash agg, one lag window
    per (type, lag) over the tiny series, one moment agg."""
    ensure_harness_conf(spark)
    from functools import reduce

    d = _daily(spark, sf_dir)
    d38 = "decimal(38,0)"
    # Spark's lag() offset must be FOLDABLE, so the three lags are
    # three literal-offset window legs over the same (tiny, already
    # shuffled-once) daily series, unioned
    wo = W.partitionBy("event_type").orderBy("day")
    legs = [
        d.select(
            "event_type",
            F.lit(l).alias("lag"),
            F.col("mq").alias("y"),
            F.lag("mq", l).over(wo).alias("x"),
        )
        for l in (1, 2, 7)
    ]
    lagged = reduce(lambda a, b: a.unionByName(b), legs).filter(
        F.col("x").isNotNull()
    )
    s = (
        lagged.groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast(d38).alias("n"),
            F.sum(F.col("x").cast(d38)).alias("sx"),
            F.sum(F.col("y").cast(d38)).alias("sy"),
            F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
            F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
            F.sum((F.col("y") * F.col("y")).cast(d38)).alias("syy"),
        )
        .filter(F.col("n") >= 3)
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        (
            F.round(
                F.when(
                    (vx > 0) & (vy > 0),
                    num.cast("double")
                    / F.sqrt(vx.cast("double") * vy.cast("double")),
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("acf"),
    )
