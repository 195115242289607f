"""Evaluation / profiling queries: exact AUC, histograms, LOCF fill,
and embedding diagnostics (centroids, covariance).

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
