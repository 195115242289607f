"""Evaluation / experimentation / profiling queries: exact AUC, A/B
CUPED, data profiling (column profiles, histograms, winsorize, MAD
outliers, per-user trends), LOCF fill, and embedding diagnostics
(centroids, covariance).

Split from queries_stats_text.py and queries_curation.py (round 9, verdict #6 file-size
discipline): registrations, names, and oracle SQL are unchanged —
the aggregator queries_ext.py imports this module after its source
modules, and driver-query iteration order is fixed by
queries.QUERY_ORDER regardless of module layout.
"""

from __future__ import annotations

import uuid  # noqa: F401  (shared header across family modules)

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import Window as W  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .functions import epoch as ep  # noqa: F401
from .io import load  # noqa: F401
from .session import ensure_harness_conf  # noqa: F401
from .queries_common import register, register_extra, streams  # noqa: F401
from .queries_common import _cos_sql, _dot_sql  # noqa: F401
from .queries_stats_text import _EPOCH_US_DUCK  # noqa: F401


_EPOCH_DUCK = "CAST(epoch_ns(ts) // 1000000000 AS BIGINT)"


def _trend_oracle() -> str:
    return f"""
WITH base AS (
  SELECT user_id,
         {_EPOCH_DUCK} - (SELECT min({_EPOCH_DUCK}) FROM events) AS x,
         CAST(round(value * 1000000, 0) AS BIGINT) AS y
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
),
s AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM base GROUP BY user_id
),
t AS (
  SELECT user_id, n,
         CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS num,
         CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS denx,
         CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS deny,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM s
)
SELECT user_id, n,
       CASE WHEN n >= 2 AND denx > 0
            THEN round(num / denx / 1000000.0, 9) END AS slope,
       CASE WHEN n >= 2 AND denx > 0
            THEN round((syd / 1000000.0 - num / denx / 1000000.0 * sxd)
                       / CAST(n AS DOUBLE), 6) END AS intercept,
       CASE WHEN n >= 2 AND denx > 0 THEN
         CASE WHEN deny > 0 THEN round(num * num / (denx * deny), 6) END
       END AS r2
FROM t
"""


@register_extra("x_trend_user_value", oracle=_trend_oracle())
def x_trend_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares trend of event value over time — the
    per-entity drift extraction stage (closed form, no iteration).
    x is epoch seconds shifted to the corpus start (a 1-row broadcast
    min keeps x² inside exact integer range); y quantizes to 6 dp.
    Slope/intercept/r² derive from five exact integer sufficient
    statistics through one canonical double expression, so the full
    fit — not a tolerance band — hash-matches the oracle (DuckDB runs
    the same integer math in HUGEINT, Spark in DECIMAL(38,0)).
    ONE hash aggregate per the group keys; mergeable partials."""
    ensure_harness_conf(spark)
    from .operators import stats

    ev = load(spark, sf_dir, "events")
    ev = ev.withColumn("_es", ep.epoch_s(ev))
    t0 = ev.agg(F.min("_es").alias("_t0"))
    shifted = ev.crossJoin(F.broadcast(t0)).select(
        "user_id", (F.col("_es") - F.col("_t0")).alias("x"), "value"
    )
    return stats.group_linreg(shifted, ["user_id"], "x", "value")


_PROFILE_NUM = ("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")


_PROFILE_STR = ("l_returnflag", "l_linestatus")


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_NUM:
        parts.append(f"""
SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       round(CAST(min({c}) AS DOUBLE), 6) AS min_num,
       round(CAST(max({c}) AS DOUBLE), 6) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM lineitem""")
    for c in _PROFILE_STR:
        parts.append(f"""
SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
       min({c}) AS min_str, max({c}) AS max_str
FROM lineitem""")
    return " UNION ALL ".join(parts)


@register_extra("x_profile_lineitem", oracle=_profile_oracle())
def x_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiling: per column — rows, nulls, exact
    distinct count, typed min/max — as one row per column. The whole
    profile is ONE aggregate over ONE scan (Spark's Expand handles
    the multiple exact distincts); the oracle issues one scan per
    column, which is exactly the naive plan this operator replaces.
    At 100 TB this is the schema-drift / data-quality gate you run on
    every ingest batch."""
    ensure_harness_conf(spark)
    from .operators import stats

    li = load(spark, sf_dir, "lineitem")
    return stats.profile_columns(
        li, numeric_cols=_PROFILE_NUM, string_cols=_PROFILE_STR
    )


_HIST_BINS = 20


@register_extra(
    "x_hist_value",
    oracle=f"""
WITH rng AS (
  SELECT min(value) AS lo, max(value) AS hi FROM events
),
binned AS (
  SELECT e.event_type,
         CAST(least(floor((e.value - r.lo) / ((r.hi - r.lo) / {_HIST_BINS}.0)),
                    {_HIST_BINS - 1}.0) AS BIGINT) AS bin
  FROM events e CROSS JOIN rng r
)
SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n
FROM binned GROUP BY event_type, bin
""",
)
def x_hist_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event value per event type — the
    distribution half of the profiling gate (the profiler gives
    min/max/distinct; this gives shape). Bin = floor((x-lo)/width)
    clamped so x==hi lands in the last bin; lo/hi are a 1-row
    broadcast from one min/max agg, the bin math is one fixed double
    expression (engine-exact), and the histogram itself is one
    map-side-combined hash agg — two passes total at scan speed, no
    sort, no per-bin work."""
    ensure_harness_conf(spark)
    ev = load(spark, sf_dir, "events")
    rng = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    n = float(_HIST_BINS)
    binned = ev.crossJoin(F.broadcast(rng)).select(
        "event_type",
        F.least(
            F.floor((F.col("value") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / n)),
            F.lit(float(_HIST_BINS - 1)),
        )
        .cast("long")
        .alias("bin"),
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


@register_extra(
    "x_winsorize_value",
    oracle="""
WITH v AS (SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL),
r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
q AS (
  SELECT *,
         max(CASE WHEN rn = (n * 1 + 19) // 20 THEN value END)
           OVER (PARTITION BY event_type) AS p_lo,
         max(CASE WHEN rn = (n * 19 + 19) // 20 THEN value END)
           OVER (PARTITION BY event_type) AS p_hi
  FROM r
),
c AS (
  SELECT event_type, n, p_lo, p_hi,
         least(greatest(value, p_lo), p_hi) AS vw,
         CASE WHEN value < p_lo THEN 1 ELSE 0 END AS lo_f,
         CASE WHEN value > p_hi THEN 1 ELSE 0 END AS hi_f
  FROM q
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       max(p_lo) AS p05, max(p_hi) AS p95,
       CAST(sum(lo_f) AS BIGINT) AS n_clamped_lo,
       CAST(sum(hi_f) AS BIGINT) AS n_clamped_hi,
       round(CAST(sum(CAST(round(vw * 1000000, 0) AS HUGEINT)) AS DOUBLE)
             / 1000000.0 / CAST(max(n) AS DOUBLE), 6) AS mean_w
FROM c GROUP BY event_type
""",
)
def x_winsorize_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type value summary: every value clamped into its
    own group's exact [p05, p95] (percentile_disc INTEGER rank math —
    (n·a + b−1) div b, no float-p rank drift), then the robust mean
    over the clamped values (6dp-quantized decimal sum — order-free).
    Percentiles and clamp ride ONE sort family (stats.winsorize); the
    aggregate is one more hash agg."""
    ensure_harness_conf(spark)
    from .operators import stats

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
    )
    wz = stats.winsorize(
        ev, ["event_type"], "value", tiebreak=["event_id"], lo=(1, 20), hi=(19, 20)
    )
    return wz.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("p_lo").alias("p05"),
        F.max("p_hi").alias("p95"),
        F.sum(F.when(F.col("clamped") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_clamped_lo"),
        F.sum(F.when(F.col("clamped") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_clamped_hi"),
        F.round(
            F.sum(F.round(F.col("value_w") * 1000000, 0).cast("decimal(38,0)")).cast(
                "double"
            )
            / F.lit(1000000.0)
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_w"),
    )


@register_extra(
    "x_outliers_mad",
    oracle="""
WITH v AS (SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL),
r1 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
m AS (
  SELECT *, max(CASE WHEN rn = (n * 1 + 1) // 2 THEN value END)
              OVER (PARTITION BY event_type) AS med
  FROM r1
),
d AS (SELECT event_type, event_id, value, n, med, abs(value - med) AS dev FROM m),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev, value, event_id) AS drn
  FROM d
),
m2 AS (
  SELECT *, max(CASE WHEN drn = (n * 1 + 1) // 2 THEN dev END)
              OVER (PARTITION BY event_type) AS mad
  FROM r2
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       max(med) AS med, max(mad) AS mad,
       CAST(sum(CASE WHEN dev > 3.0 * 1.4826 * mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM m2 GROUP BY event_type
""",
)
def x_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier detection: |x − median| > 3·1.4826·MAD
    with the median AND the MAD as exact percentile_disc rank picks —
    the mean/stddev z-score alternative that outliers themselves
    can't corrupt. Two sort families (value, then |x−med|) — the
    honest exact cost; both medians are integer-rank math and the
    deviation is one fixed double subtraction, so counts AND the
    med/mad values hash-match the oracle."""
    ensure_harness_conf(spark)
    from .operators import stats

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
    )
    return stats.mad_outliers(
        ev, ["event_type"], "value", tiebreak=["event_id"], n_sigmas=3.0
    )


@register_extra(
    "x_locf_fill",
    oracle="""
WITH b AS (
  SELECT event_id, user_id,
         CAST(epoch_ns(ts) AS BIGINT) AS ord_ns,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
  FROM events
),
f AS (
  SELECT event_id, user_id, v,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ord_ns, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
  FROM b
)
SELECT event_id, user_id, value_filled,
       CAST(CASE WHEN v IS NULL AND value_filled IS NOT NULL
                 THEN 1 ELSE 0 END AS BIGINT) AS was_filled
FROM f
""",
)
def x_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward gap fill: 'error' events are
    treated as missing readings and take the user's most recent good
    value in event-time order (step-function fill — the state-series
    sibling of W2's linear interpolation; leading gaps stay NULL).
    One shuffle+sort per user ordering, every filled column sharing
    the frame (resample.locf_fill)."""
    ensure_harness_conf(spark)
    from .operators import resample

    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        ep.epoch_ns(ev).alias("_ord"),
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    filled = resample.locf_fill(base, "user_id", ["_ord", "event_id"], ["v"])
    return filled.select(
        "event_id",
        "user_id",
        F.col("v_filled").alias("value_filled"),
        F.col("v_was_filled").cast("long").alias("was_filled"),
    )


@register_extra(
    "x_ab_cuped",
    oracle=f"""
WITH e AS (
  SELECT user_id, {_EPOCH_US_DUCK} AS us,
         coalesce(CAST(round(value * 1000000, 0) AS HUGEINT),
                  CAST(0 AS HUGEINT)) AS qv
  FROM events
),
b AS (SELECT (min(us) + max(us)) // 2 AS cut FROM e),
per AS (
  SELECT user_id,
         sum(CASE WHEN us < cut THEN qv ELSE CAST(0 AS HUGEINT) END) AS x,
         sum(CASE WHEN us >= cut THEN qv ELSE CAST(0 AS HUGEINT) END) AS y
  FROM e, b GROUP BY user_id
),
a AS (
  SELECT x, y,
         CASE WHEN CAST(concat('0x', substr(md5(concat('exp:',
                   CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000
                   < 500000 THEN 'A' ELSE 'B' END AS arm
  FROM per
),
pooled AS (
  SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM a
),
th AS (
  SELECT CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
              ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS theta,
         round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS xbar_all
  FROM pooled
),
arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_units,
         sum(y) AS sy_a, sum(x) AS sx_a
  FROM a GROUP BY arm
)
SELECT arm, n_units,
       round(CAST(sy_a AS DOUBLE) / CAST(n_units AS DOUBLE), 6) AS mean_y,
       th.theta AS theta,
       round(round(CAST(sy_a AS DOUBLE) / CAST(n_units AS DOUBLE), 6)
             - th.theta * (round(CAST(sx_a AS DOUBLE) / CAST(n_units AS DOUBLE), 6)
                           - th.xbar_all), 6) AS mean_y_adjusted
FROM arms, th
""",
)
def x_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED experiment readout (Deng et al., WSDM'13) entirely
    in-engine: users hash-split into two arms, pre-period value sum
    (first half of the event-time range, micro-quantized) as the
    covariate, post-period sum as the outcome; the pooled
    θ = cov(x,y)/var(x) comes from DECIMAL-exact sufficient
    statistics and the per-arm adjusted means follow one fixed
    double expression tree — the complete variance-reduction readout
    (the x_ab_mannwhitney companion with a continuous adjusted
    metric), bit-portable and oracle-exact. The time cutoff is a
    1-row broadcast (min+max div 2), not a driver action."""
    ensure_harness_conf(spark)
    from .operators.sketch import _hash60
    from .operators.stats import cuped

    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "user_id",
        ep.epoch_us(ev).alias("us"),
        F.coalesce(
            F.round(F.col("value") * 1000000, 0).cast("long"), F.lit(0)
        ).alias("qv"),
    )
    bounds = q.agg(F.expr("(min(us) + max(us)) div 2").alias("cut"))
    per = (
        q.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("us") < F.col("cut"), F.col("qv")).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("us") >= F.col("cut"), F.col("qv")).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    armed = per.withColumn(
        "arm",
        F.when(
            _hash60(F.concat(F.lit("exp:"), F.col("user_id").cast("string")))
            % 1_000_000
            < 500_000,
            F.lit("A"),
        ).otherwise(F.lit("B")),
    )
    return cuped(armed, "user_id", "x", "y", "arm")


@register(
    "x_eval_auc",
    oracle="""
WITH s AS (
  SELECT round(1.0 / (1.0 + exp(-(CAST(n_chars AS DOUBLE) - 300.0) / 100.0)), 6) AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
g AS (
  SELECT score, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS p
  FROM s GROUP BY score
),
w AS (
  SELECT p, n,
         coalesce(sum(n) OVER (ORDER BY score
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cum
  FROM g
),
t AS (
  SELECT CAST(sum(p * (2 * cum + n + 1)) AS BIGINT) AS r2,
         CAST(sum(p) AS BIGINT) AS n_pos,
         CAST(sum(n) - sum(p) AS BIGINT) AS n_neg
  FROM w
)
SELECT n_pos, n_neg,
       round(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
             / CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS auc
FROM t
""",
)
def x_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC by the tie-corrected rank-sum (Mann-Whitney U)
    identity — the threshold-free companion to calibration checks for
    any probabilistic quality/toxicity/language gate: AUC =
    (R_pos − n_pos(n_pos+1)/2) / (n_pos·n_neg) with ties taking their
    AVERAGE rank. Same fixed length-logistic score predicting
    lang='en', rounded 6dp BEFORE grouping (the FP discipline), then
    pure BIGINT arithmetic: per-score (n, positives), an EXCLUSIVE
    global prefix sum over the distinct-score order via the
    frozen-bin two-pass operator (layout.global_prefix_sum — no
    Exchange SinglePartition, the discipline the export pipeline's
    shard offsets use; scores are distinct post-group, so binning has
    no tie hazard), and doubled rank sums (×2 keeps average ranks
    integer)."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    score = F.round(
        F.lit(1.0)
        / (
            F.lit(1.0)
            + F.exp(-(F.col("n_chars").cast("double") - F.lit(300.0)) / F.lit(100.0))
        ),
        6,
    )
    g = (
        docs.select(
            score.alias("score"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        )
        .groupBy("score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("p"),
        )
    )
    from .operators.layout import global_prefix_sum

    w = global_prefix_sum(g, ["score"], "n", out_col="cum", exclusive=True)
    t = w.agg(
        F.sum(F.col("p") * (2 * F.col("cum") + F.col("n") + 1))
        .cast("long")
        .alias("r2"),
        F.sum("p").cast("long").alias("n_pos"),
        (F.sum("n") - F.sum("p")).cast("long").alias("n_neg"),
    )
    return t.select(
        "n_pos",
        "n_neg",
        F.round(
            (F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
            6,
        ).alias("auc"),
    )


@register_extra(
    "x_embed_centroids",
    oracle=f"""
WITH ex AS (
  SELECT label, u.i AS dim, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
),
per AS (
  SELECT label, dim,
         sum(CAST(round(x * 1000000, 0) AS HUGEINT)) AS s,
         count(*) AS c
  FROM ex GROUP BY label, dim
),
comp AS (
  SELECT label, dim, CAST(s AS DOUBLE) / CAST(c AS DOUBLE) / 1000000.0 AS cc
  FROM per
),
cent AS (SELECT label, list(cc ORDER BY dim) AS cv FROM comp GROUP BY label),
j AS (
  SELECT e.label, e.vec_id,
         {_cos_sql('e.embedding', 'cent.cv')} AS cos,
         sqrt({_dot_sql('cent.cv', 'cent.cv')}) AS cn
  FROM embeddings e JOIN cent ON e.label = cent.label
),
q AS (
  SELECT label, cn, CAST(round(cos * 1000000, 0) AS BIGINT) AS cq FROM j
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(max(cn), 6) AS centroid_norm,
       round(CAST(sum(cq) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0, 6)
         AS avg_cos,
       CAST(min(cq) AS DOUBLE) / 1000000.0 AS min_cos,
       CAST(max(cq) AS DOUBLE) / 1000000.0 AS max_cos
FROM q GROUP BY label
""",
)
def x_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label class centroids + cluster-tightness report: exact
    decimal-summed mean vectors (bounded |labels|·dim model state),
    broadcast back onto the corpus for per-vector cosine-to-centroid,
    then 6dp-quantized exact averaging. centroid_norm ≪ 1 or low
    avg_cos flags an incoherent label — the SemDeDup-style health
    check before semantic curation trusts a clustering. One explode +
    two hash aggs + one broadcast join."""
    ensure_harness_conf(spark)
    from .operators import dedup
    from .operators.similarity import label_centroids

    emb = load(spark, sf_dir, "embeddings")
    cents = label_centroids(emb, "label", "embedding")
    j = emb.join(F.broadcast(cents), "label").select(
        "label",
        dedup.cosine(F.col("embedding"), F.col("centroid")).alias("cos"),
        F.sqrt(dedup.dot(F.col("centroid"), F.col("centroid"))).alias("cn"),
    )
    q = j.select(
        "label", "cn", F.round(F.col("cos") * 1000000, 0).cast("long").alias("cq")
    )
    return q.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(F.max("cn"), 6).alias("centroid_norm"),
        F.round(
            F.sum("cq").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("avg_cos"),
        (F.min("cq").cast("double") / F.lit(1000000.0)).alias("min_cos"),
        (F.max("cq").cast("double") / F.lit(1000000.0)).alias("max_cos"),
    )


@register_extra(
    "x_embed_covariance",
    oracle="""
WITH x AS (
  SELECT vec_id, u.i AS i,
         CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
),
p AS (
  SELECT a.i AS i, b.i AS j, sum(CAST(a.q AS HUGEINT) * b.q) AS sij
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
),
m AS (SELECT i, sum(CAST(q AS HUGEINT)) AS si, CAST(count(*) AS BIGINT) AS n
      FROM x GROUP BY i)
SELECT CAST(p.i AS INTEGER) AS i, CAST(p.j AS INTEGER) AS j,
       round((CAST(p.sij AS DOUBLE) / CAST(ma.n AS DOUBLE)
              - (CAST(ma.si AS DOUBLE) / CAST(ma.n AS DOUBLE))
                * (CAST(mb.si AS DOUBLE) / CAST(mb.n AS DOUBLE)))
             / 1000000000000.0, 6) + 0.0 AS cov
FROM p JOIN m ma ON ma.i = p.i JOIN m mb ON mb.i = p.j
""",
)
def x_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 64×64 covariance of the embedding corpus via Arrow
    outer-product partials: each batch ships ONE d×d cell block
    (data motion independent of row count — the naive pair explode
    the oracle runs ships n·d² rows), cells sum exactly in
    DECIMAL(38,0), and the finish is fixed-order double math. The
    statistic PCA/whitening and the covariance-shift drift monitors
    start from; pairs with x_embed_centroids (first moment) as the
    second-moment face."""
    ensure_harness_conf(spark)
    from .operators.similarity import covariance_matrix

    return covariance_matrix(load(spark, sf_dir, "embeddings"), "embedding")
