"""Bucketed/range/point-in-time joins, skew, corpus filter.

Split from the former single-file queries_ext.py (round 7, verdict
#7): registrations, names, and oracle SQL are unchanged — the
aggregator queries_ext.py imports the family modules in the original
registration order. Shared oracle fragments live in queries_common.
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
from .operators import dedup, multimodal, similarity, text  # noqa: F401
from .queries_common import _SH_SQL, _TK_SQL, _clusters_oracle  # noqa: F401
from .queries_dedup_sim import x_pipeline_activity_e2e  # noqa: F401
from .queries_text_mm_stream import _QUALITY_ORACLE, _lang_oracle  # noqa: F401


@register_extra(
    "x_bucketed_join",
    oracle="""
SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_custkey
""",
)
def x_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join over CO-BUCKETED tables — the write-once,
    join-shuffle-free-forever layout for repeatedly-joined fact tables
    at 100 TB. Both sides are written bucketed (8 buckets, sorted) on
    the join key; the join then reads bucket i of each side into one
    task (tests/test_bucketing.py asserts the Exchange-free
    SortMergeJoin plan with broadcast disabled; at fixture scale the
    optimizer may still pick broadcast — semantics are identical, so
    the oracle is the plain SQL join)."""
    ensure_harness_conf(spark)
    import shutil
    import tempfile
    import uuid

    from .operators import bucketing

    tag = uuid.uuid4().hex[:8]
    base = tempfile.mkdtemp(prefix="bucketed_")
    t_o, t_l = f"b_orders_{tag}", f"b_lineitem_{tag}"
    try:
        bucketing.write_bucketed(
            load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            t_o,
            f"{base}/o",
            "o_orderkey",
            8,
        )
        bucketing.write_bucketed(
            load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice"),
            t_l,
            f"{base}/l",
            "l_orderkey",
            8,
        )
        joined = spark.table(t_o).join(
            spark.table(t_l), F.col("l_orderkey") == F.col("o_orderkey")
        )
        return (
            joined.groupBy(F.col("o_custkey").alias("custkey"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_items"),
                F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
                .cast("double")
                .alias("total_price"),
            )
            .localCheckpoint()  # tables/files are dropped in finally
        )
    finally:
        bucketing.drop_table(spark, t_o)
        bucketing.drop_table(spark, t_l)
        shutil.rmtree(base, ignore_errors=True)


@register_extra(
    "x_embed_quantize_int8",
    oracle="""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
  FROM v
),
q AS (
  SELECT vec_id, e, scale,
         CASE WHEN scale = 0 THEN list_transform(e, x -> 0)
              ELSE list_transform(e, x -> CAST(round(x / scale) AS INTEGER))
         END AS qc
  FROM s
),
err AS (
  SELECT vec_id, scale, qc,
         list_transform(generate_series(1, len(e)),
                        i -> abs(e[i] - qc[i] * scale)) AS ae
  FROM q
)
SELECT vec_id,
       round(scale, 6) AS scale,
       CAST(list_max(qc) AS INTEGER) AS max_code,
       round(list_max(ae), 6) AS max_abs_err,
       round(list_sum(ae) / len(ae), 6) AS mean_abs_err
FROM err
""",
)
def x_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding corpus
    (4× storage/shuffle reduction at 100 TB) + exact reconstruction
    error report — codes and errors reproduced bit-for-bit by the SQL
    oracle (same scale formula, same half-away-from-zero rounding,
    same array-order error fold). max_code ≤ 127 by construction."""
    ensure_harness_conf(spark)
    from .operators import quantize

    emb = load(spark, sf_dir, "embeddings")
    qd = quantize.quantize_int8(emb, "embedding")
    errs = quantize.reconstruction_error("embedding")
    # errors first, rounding in a SECOND projection: aliasing the
    # rounded scale to "scale" in the same select would capture the
    # error expressions' scale reference via lateral column alias
    # resolution (measured: max_abs_err computed against the 6dp
    # scale), silently changing the semantics
    full = qd.select(
        "vec_id",
        "scale",
        F.array_max("q").cast("int").alias("max_code"),
        errs["max_abs_err"].alias("max_abs_err"),
        errs["mean_abs_err"].alias("mean_abs_err"),
    )
    return full.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        "max_code",
        F.round("max_abs_err", 6).alias("max_abs_err"),
        F.round("mean_abs_err", 6).alias("mean_abs_err"),
    )


@register(
    "x_range_join_sessions",
    oracle="""
WITH e AS (
  SELECT user_id, event_id,
         CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es
  FROM events
),
g AS (
  SELECT user_id, event_id, es,
         CASE WHEN lag(es) OVER w IS NULL OR es - lag(es) OVER w > 3600
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
),
s AS (
  SELECT user_id, es,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id)
              AS BIGINT) AS session_id
  FROM g
),
iv AS (
  SELECT user_id, session_id,
         CAST(min(es) - 1800 AS BIGINT) AS lo,
         CAST(max(es) + 1800 AS BIGINT) AS hi
  FROM s GROUP BY user_id, session_id
)
SELECT iv.user_id, iv.session_id, iv.lo, iv.hi,
       CAST(count(*) AS BIGINT) AS n_nearby
FROM iv JOIN e p ON p.es BETWEEN iv.lo AND iv.hi
GROUP BY iv.user_id, iv.session_id, iv.lo, iv.hi
""",
)
def x_range_join_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN via binning (operators/rangejoin.py): count ALL
    events — any user — inside each session's ±30 min neighborhood
    (concurrency/attribution shape: points × time intervals with
    NEITHER side broadcast-sized at scale). A bare BETWEEN join plans
    as BroadcastNestedLoopJoin — the O(n·m) trap; binning at 3600 s
    (≈ the widened interval span → ≤2-3 bins per interval) turns it
    into one equi-join on the bin plus an exact post-filter, with each
    matching pair met exactly once (a point lives in ONE bin). The
    oracle runs the naive BETWEEN join — same result set, different
    algorithm."""
    ensure_harness_conf(spark)
    from .operators.rangejoin import range_join_binned

    ev = load(spark, sf_dir, "events")
    e = ev.select("user_id", "event_id", ep.epoch_s(ev).alias("es"))
    wt = W.partitionBy("user_id").orderBy("es", "event_id")
    prev = F.lag("es").over(wt)
    new_s = F.when(prev.isNull() | ((F.col("es") - prev) > 3600), 1).otherwise(0)
    sess = e.withColumn(
        "session_id",
        F.sum(new_s).over(wt.rowsBetween(W.unboundedPreceding, 0)).cast("long"),
    )
    iv = sess.groupBy("user_id", "session_id").agg(
        (F.min("es") - 1800).cast("long").alias("lo"),
        (F.max("es") + 1800).cast("long").alias("hi"),
    )
    points = e.select(F.col("event_id").alias("p_id"), F.col("es").alias("p_es"))
    pairs = range_join_binned(points, iv, "p_es", "lo", "hi", bin_size=3600)
    return pairs.groupBy("user_id", "session_id", "lo", "hi").agg(
        F.count(F.lit(1)).cast("long").alias("n_nearby")
    )


@register_extra(
    "x_skew_salted_agg",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       MAX(l_extendedprice) AS max_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
)
def x_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation over the fact table's 6-value
    grouping key — the skew pattern AQE cannot fix (a split join
    partition still reduces a 6-key groupBy into ≤6 final tasks;
    salting reduces on 6×32). Phase 1 aggregates by (keys, salt from
    xxhash64 of row content — retry-deterministic, unlike rand());
    phase 2 merges the ≤192 partials with each aggregate's combine
    function. Decimal-cast sums keep the merge order-independent, so
    the result is bit-identical to the plain GROUP BY the oracle runs
    — salting must never be observable downstream."""
    ensure_harness_conf(spark)
    from .operators import skew

    li = load(spark, sf_dir, "lineitem")
    out = skew.salted_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": ("sum", F.col("l_quantity").cast("decimal(38,6)")),
            "max_price": ("max", F.col("l_extendedprice")),
            "count_order": ("count", "l_quantity"),
        },
        n_salts=32,
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        "max_price",
        F.col("count_order").cast("long").alias("count_order"),
    )


_REPETITION_ORACLE = f"""
WITH tk AS ({_TK_SQL}),
g AS (
  SELECT doc_id, 1 AS n, unnest(t) AS g FROM tk
  UNION ALL
  SELECT doc_id, 2 AS n,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> t[i] || ' ' || t[i+1])) AS g
  FROM tk
  UNION ALL
  SELECT doc_id, 5 AS n,
         unnest(list_transform(generate_series(1, greatest(len(t) - 4, 0)),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                    || ' ' || t[i+3] || ' ' || t[i+4])) AS g
  FROM tk
),
c AS (SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY doc_id, n, g),
p AS (SELECT doc_id, n, max(c) AS top, sum(c) AS total, count(*) AS uniq
      FROM c GROUP BY doc_id, n)
SELECT d.doc_id,
       CAST(coalesce(max(CASE WHEN n = 1 THEN total END), 0) AS BIGINT) AS n_tokens,
       coalesce(max(CASE WHEN n = 1 THEN
         round(CAST(top AS DOUBLE) / CAST(total AS DOUBLE), 6) END), 0.0)
         AS top_token_frac,
       coalesce(max(CASE WHEN n = 2 THEN
         round(CAST(top AS DOUBLE) / CAST(total AS DOUBLE), 6) END), 0.0)
         AS top_2gram_frac,
       coalesce(max(CASE WHEN n = 5 THEN
         round(CAST(total - uniq AS DOUBLE) / CAST(total AS DOUBLE), 6) END), 0.0)
         AS dup_5gram_frac
FROM documents d LEFT JOIN p ON p.doc_id = d.doc_id
GROUP BY d.doc_id
"""


_DECONTAM_ORACLE = f"""
WITH {_SH_SQL},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 19 = 0),
per AS (
  SELECT s.doc_id, count(*) AS n_sh,
         sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_ov
  FROM sh s LEFT JOIN bench b ON s.shingle = b.shingle
  GROUP BY s.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_sh, 0) AS BIGINT) AS n_shingles,
       CAST(coalesce(p.n_ov, 0) AS BIGINT) AS n_overlap,
       coalesce(round(CAST(p.n_ov AS DOUBLE) / CAST(p.n_sh AS DOUBLE), 6), 0.0)
         AS contamination_frac,
       CAST(CASE WHEN coalesce(round(CAST(p.n_ov AS DOUBLE) / CAST(p.n_sh AS DOUBLE), 6), 0.0)
                      >= 0.3 THEN 1 ELSE 0 END AS BIGINT) AS flagged
FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
"""


def _corpus_filter_oracle() -> str:
    """The whole corpus-cleaning decision as one CTE composition — each
    CTE is a piece query's already-verified oracle verbatim (lang-id,
    quality, Gopher repetition, decontamination, near-dup clusters
    incl. the recursive closure), joined into per-doc keep flags."""
    return f"""
WITH lang AS ({_lang_oracle()}),
qual AS ({_QUALITY_ORACLE}),
rep AS ({_REPETITION_ORACLE}),
dec AS ({_DECONTAM_ORACLE}),
cc AS ({_clusters_oracle()})
SELECT d.doc_id,
       (l.lang_pred = 'en') AS lang_ok,
       (q.quality_score >= 0.4) AS quality_ok,
       (r.top_token_frac <= 0.15 AND r.top_2gram_frac <= 0.08) AS repetition_ok,
       (x.contamination_frac < 0.3) AS decontam_ok,
       (cc.rep_id IS NULL OR cc.rep_id = d.doc_id) AS dedup_keep,
       ((l.lang_pred = 'en') AND (q.quality_score >= 0.4)
        AND (r.top_token_frac <= 0.15 AND r.top_2gram_frac <= 0.08)
        AND (x.contamination_frac < 0.3)
        AND (cc.rep_id IS NULL OR cc.rep_id = d.doc_id)) AS keep
FROM documents d
JOIN lang l USING (doc_id)
JOIN qual q USING (doc_id)
JOIN rep r USING (doc_id)
JOIN dec x USING (doc_id)
LEFT JOIN cc ON cc.doc_id = d.doc_id
"""


@register_extra("x_pipeline_corpus_filter", oracle=_corpus_filter_oracle())
def x_pipeline_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data twin of x_pipeline_activity_e2e: the WHOLE
    corpus-cleaning decision fused in one plan — language-ID, quality
    score, Gopher repetition signals, benchmark decontamination, and
    near-dup cluster canonicalization — emitting per-doc keep flags
    and their conjunction (the doc set a pretraining run would read).
    Thresholds sit at measured fixture quantiles (SCALE.md r5) so
    every flag discriminates rather than passing everything.

    Plan shape (r13): lang-ID and the quality score are map-only
    per-doc expressions, so they are FUSED into one projection over the
    shared scan instead of built as separate branches and equi-joined
    back (the pre-r13 shape paid two extra joins — at 100 TB two full
    per-doc-row shuffles — and a second tokenize pass). The three
    aggregating branches (repetition, decontamination, near-dup
    clusters) remain separate subtrees joined on the per-doc grain (all
    shuffles keyed on doc_id except the bounded broadcast probes inside
    decontamination); the cluster branch adds the iterative CC rounds.

    The documents scan feeds the remaining branch subtrees and Spark
    does not dedupe them; pipeline-level persist of the scan AND of ONE
    shared shingle table (decontamination and MinHash both consume it —
    the corpus is shingled once, not three times) + eager
    localCheckpoint of the per-doc flag table (one row per doc) +
    unpersist in ``finally`` — same discipline as the activity e2e.
    """
    ensure_harness_conf(spark)
    from pyspark import StorageLevel

    docs = load(spark, sf_dir, "documents").persist(StorageLevel.MEMORY_AND_DISK)
    sh_all = dedup.doc_shingles(docs, "doc_id", "text", n=3).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        # lang-ID and the quality score are MAP-ONLY per-doc expressions
        # (no aggregation) — fused into ONE projection over the shared
        # scan (r13): the old shape built them as separate branches and
        # equi-joined them back on doc_id, paying two joins (at 100 TB:
        # two full shuffles of per-doc rows; locally: two broadcast
        # builds) and a second tokenize pass for the quality branch.
        # Values are unchanged: same lang_id expression over the same
        # materialized token array, same quality_score_col expression
        # (the one quality_features itself emits).
        toks = F.col("_toks")
        flagged = docs.select(
            F.col("doc_id"),
            F.col("text"),
            dedup.tokens("text").alias("_toks"),
        ).select(
            "doc_id",
            text.lang_id("_toks", toks=toks).alias("lang_pred"),
            text.quality_score_col("text", toks).alias("quality_score"),
        )
        rep = text.repetition_features(docs, "doc_id", "text").select(
            "doc_id", "top_token_frac", "top_2gram_frac"
        )
        bench = docs.filter(F.col("doc_id") % 19 == 0)
        dec = dedup.decontaminate(
            docs, bench, "doc_id", "text", n=3, threshold=0.3,
            corpus_shingles=sh_all,
            benchmark_shingles=sh_all.filter(F.col("doc_id") % 19 == 0),
        ).select("doc_id", "contamination_frac")
        pairs = dedup.minhash_lsh_dedup(
            docs, "doc_id", "text", n=3, k=8, bands=4, threshold=0.5, sh=sh_all
        )
        cc = dedup.duplicate_clusters(pairs, "doc_a", "doc_b").select(
            "doc_id", "rep_id"
        )
        lang_ok = F.col("lang_pred") == "en"
        quality_ok = F.col("quality_score") >= 0.4
        repetition_ok = (F.col("top_token_frac") <= 0.15) & (
            F.col("top_2gram_frac") <= 0.08
        )
        decontam_ok = F.col("contamination_frac") < 0.3
        dedup_keep = F.col("rep_id").isNull() | (F.col("rep_id") == F.col("doc_id"))
        out = (
            flagged
            .join(rep, "doc_id")
            .join(dec, "doc_id")
            .join(cc, "doc_id", "left")
            .select(
                "doc_id",
                lang_ok.alias("lang_ok"),
                quality_ok.alias("quality_ok"),
                repetition_ok.alias("repetition_ok"),
                decontam_ok.alias("decontam_ok"),
                dedup_keep.alias("dedup_keep"),
                (lang_ok & quality_ok & repetition_ok & decontam_ok & dedup_keep).alias(
                    "keep"
                ),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        sh_all.unpersist()
        docs.unpersist()


@register(
    "x_pit_join_state",
    oracle="""
WITH e AS (
  SELECT user_id, CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us, event_id, event_type
  FROM events
),
c AS (
  SELECT user_id, us, event_id, event_type,
         row_number() OVER w AS rn,
         lag(event_type) OVER w AS prev
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
v0 AS (
  SELECT user_id, event_type, us AS valid_from, event_id
  FROM c WHERE rn = 1 OR prev IS DISTINCT FROM event_type
),
v AS (
  SELECT user_id, valid_from, max(event_type) AS state
  FROM v0 GROUP BY user_id, valid_from
),
f AS (
  SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id, f.us, v.state AS state_asof
FROM f ASOF LEFT JOIN v
     ON f.user_id = v.user_id AND f.us > v.valid_from
""",
)
def x_pit_join_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (feature-store) join: each purchase event gets
    the user's SCD2 state STRICTLY before its timestamp — the
    training-data discipline that prevents feature leakage (a feature
    computed from the event being predicted must not see itself).
    Composes two existing operators end-to-end: scd2_history collapses
    the event stream into validity intervals, versions at an equal
    instant collapse deterministically by MAX STATE VALUE (the
    fixture has no same-instant ties — the guard just pins the
    contract, and both engines agree on it), and asof_join_backward
    (strict=True) carries the prior version to each fact row with ONE
    union+sort, no range explode, no join. Oracle: DuckDB native
    strict ASOF LEFT JOIN over the identical version table."""
    ensure_harness_conf(spark)
    from .operators import upsert as U
    from .operators.asof import asof_join_backward

    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id", ep.epoch_us(ev).alias("us"), "event_id", "event_type"
    )
    hist = U.scd2_history(e, "user_id", "us", "event_type", tie_col="event_id")
    v = (
        hist.groupBy("user_id", "valid_from")
        .agg(F.max("event_type").alias("state"))
        .select("user_id", F.col("valid_from").alias("us"), "state")
    )
    f = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "us"
    )
    out = asof_join_backward(
        f, v, by="user_id", ts="us", value_cols=["state"], strict=True
    )
    return out.select("event_id", "user_id", "us", "state_asof")
