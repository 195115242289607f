"""Curation: row IDs, span removal, shard manifest, intervals, triangles.

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


# ---------------------------------------------------------------------------
# Contiguous global row IDs
# ---------------------------------------------------------------------------


@register(
    "x_global_row_ids",
    oracle="""
WITH e AS (
  SELECT event_id,
         CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es
  FROM events
),
r AS (
  SELECT event_id, es,
         row_number() OVER (ORDER BY es, event_id) AS row_id
  FROM e
)
SELECT event_id, es, CAST(row_id AS BIGINT) AS row_id
FROM r WHERE event_id % 97 = 0
""",
)
def x_global_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global row numbering of all events in (time,
    event_id) order — WITHOUT the Exchange SinglePartition that a bare
    row_number() OVER (ORDER BY …) plans (the whole corpus through one
    task; pytest pins both plans). Range partitioning + per-partition
    offsets reproduce the exact same numbering distributed; the oracle
    IS the naive global window. The stable dense id every downstream
    tokenize/pack/shard step wants."""
    ensure_harness_conf(spark)
    from .operators.layout import assign_global_ids

    ev = load(spark, sf_dir, "events")
    e = ev.select("event_id", ep.epoch_s(ev).alias("es"))
    ids = assign_global_ids(e, ["es", "event_id"], num_partitions=8)
    return ids.filter(F.col("event_id") % 97 == 0)


# ---------------------------------------------------------------------------
# Cross-document duplicated-span removal
# ---------------------------------------------------------------------------


@register(
    "x_text_span_removal",
    oracle="""
WITH tk AS (
  SELECT doc_id,
         coalesce(regexp_extract_all(lower(text), '[a-z0-9_]+'),
                  CAST([] AS VARCHAR[])) AS t
  FROM documents
),
sp AS (
  SELECT doc_id, i,
         CAST(concat('0x', substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
                                  1, 15)) AS BIGINT) AS sh
  FROM tk, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
),
dfq AS (
  SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM sp)
  GROUP BY sh HAVING count(*) > 1
),
cov AS (
  SELECT DISTINCT sp.doc_id, u2.p
  FROM sp JOIN dfq ON sp.sh = dfq.sh,
       unnest(generate_series(sp.i, sp.i + 2)) AS u2(p)
),
pos AS (
  SELECT doc_id, i AS p, t[i] AS tok
  FROM tk, unnest(generate_series(1, len(t))) AS u(i)
),
kept AS (
  SELECT pos.doc_id, pos.p, pos.tok
  FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
  WHERE cov.p IS NULL
),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY p) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT tk.doc_id,
       CAST(len(tk.t) AS BIGINT) AS n_tokens,
       CAST(len(tk.t) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
       CASE WHEN len(tk.t) > 0
            THEN round(CAST(len(tk.t) - coalesce(agg.n_kept, 0) AS DOUBLE)
                       / CAST(len(tk.t) AS DOUBLE), 6)
            ELSE 0.0 END AS removed_frac,
       coalesce(agg.clean_text, '') AS clean_text
FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id
""",
)
def x_text_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span removal (Lee et al. 2022's rewrite step — the
    scorer twin is x_text_dup_spans): drop every token covered by a
    3-token span occurring in >1 document, reassemble survivors.
    Every doc appears in the output (rewrite, not filter); the
    rewritten text itself hash-matches the oracle, not just counts.
    Per-doc state is dup START positions only — never corpus state —
    and the rewrite is a pure higher-order-function plan (sequence/
    flatten/filter), JVM codegen end to end."""
    ensure_harness_conf(spark)
    from .operators.text import dup_span_remove

    return dup_span_remove(load(spark, sf_dir, "documents"), "doc_id", "text", n=3)


# ---------------------------------------------------------------------------
# Shard manifest (global prefix sum without the SinglePartition funnel)
# ---------------------------------------------------------------------------


@register_extra(
    "x_shard_manifest",
    oracle="""
WITH o AS (
  SELECT doc_id, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_chars AS st
  FROM documents
)
SELECT CAST(st // 20000 AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM o GROUP BY st // 20000
""",
)
def x_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous fixed-budget sharding of the corpus in doc_id order
    (20k chars per shard): shard = exclusive-global-prefix-sum(size)
    div budget, computed WITHOUT the Exchange SinglePartition a bare
    running-total window plans — frozen quantile bins + per-bin
    totals + per-bin windows (layout.global_prefix_sum, the
    generalization of the global-ids recipe). The manifest (count,
    bytes, id range per shard) is what a training job's data loader
    actually consumes; the oracle IS the naive global window."""
    ensure_harness_conf(spark)
    from .operators.layout import shard_manifest

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sharded = shard_manifest(docs, ["doc_id"], "n_chars", budget=20000)
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# Interval×interval overlap join
# ---------------------------------------------------------------------------


@register_extra(
    "x_interval_join_overlap",
    oracle="""
WITH e AS (
  SELECT user_id, event_type,
         CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es
  FROM events
),
act AS (
  SELECT user_id, es // 86400 AS day,
         min(es) AS a_lo, max(es) AS a_hi
  FROM e GROUP BY user_id, es // 86400
),
err AS (
  SELECT (es // 3600) * 3600 AS w_lo, (es // 3600) * 3600 + 3599 AS w_hi
  FROM e WHERE event_type = 'error' GROUP BY es // 3600
)
SELECT act.user_id, CAST(act.day AS BIGINT) AS day,
       err.w_lo,
       CAST(least(act.a_hi, err.w_hi) - greatest(act.a_lo, err.w_lo) + 1
            AS BIGINT) AS overlap_secs
FROM act JOIN err ON act.a_lo <= err.w_hi AND err.w_lo <= act.a_hi
""",
)
def x_interval_join_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which user-day activity spans overlap an error-hour window —
    interval×interval overlap via double binning with the
    reference-bin trick (each overlapping pair counted exactly once in
    the later-starting interval's first bin; no dedup shuffle). The
    naive overlap join is BroadcastNestedLoopJoin; the oracle runs
    exactly that, the engine never does."""
    ensure_harness_conf(spark)
    from .operators.rangejoin import interval_join_binned

    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_type", ep.epoch_s(ev).alias("es")
    )
    act = e.groupBy(
        "user_id", (F.col("es") / 86400).cast("long").alias("day")
    ).agg(F.min("es").alias("a_lo"), F.max("es").alias("a_hi"))
    err = (
        e.filter(F.col("event_type") == "error")
        .groupBy(((F.col("es") / 3600).cast("long") * 3600).alias("w_lo"))
        .agg(F.first(F.lit(1)).alias("_x"))
        .select("w_lo", (F.col("w_lo") + 3599).alias("w_hi"))
    )
    j = interval_join_binned(
        act, err, "a_lo", "a_hi", "w_lo", "w_hi", bin_size=43200
    )
    return j.select(
        "user_id",
        "day",
        "w_lo",
        (
            F.least("a_hi", "w_hi") - F.greatest("a_lo", "w_lo") + 1
        ).cast("long").alias("overlap_secs"),
    )


# ---------------------------------------------------------------------------
# Triangle counting (market-basket co-occurrence graph)
# ---------------------------------------------------------------------------


@register_extra(
    "x_graph_triangles",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e0 e1
  JOIN e0 e2 ON e2.u = e1.v
  JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY node
""",
)
def x_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the market-basket co-purchase
    graph (parts co-occurring in an order are linked): computed with
    degree-ordered orientation so hub out-degrees stay O(√m) and the
    wedge join can't explode on hot parts — the oracle verifies the
    identical result via the naive id-ordered chain join the engine
    avoids. The community-density complement of PageRank (importance)
    and connected components (identity)."""
    ensure_harness_conf(spark)
    from .operators.graph import triangle_counts

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    # no .distinct() here: triangle_counts canonicalizes + dedupes
    # internally, and a driver-side distinct would shuffle the largest
    # intermediate twice (code-review finding)
    edges = (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    return triangle_counts(edges)


# ---------------------------------------------------------------------------
# Fused curation pipeline: span removal -> encoding gate -> token budget
# ---------------------------------------------------------------------------


_PIPE_CURATION_ORACLE = """
WITH tk AS (
  SELECT doc_id, source,
         coalesce(regexp_extract_all(lower(text), '[a-z0-9_]+'),
                  CAST([] AS VARCHAR[])) AS t,
         text
  FROM documents
),
sp AS (
  SELECT doc_id, i,
         CAST(concat('0x', substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                       || ' ' || t[i+3] || ' ' || t[i+4]),
                                  1, 15)) AS BIGINT) AS sh
  FROM tk, unnest(generate_series(1, greatest(len(t) - 4, 0))) AS u(i)
),
dfq AS (
  SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM sp)
  GROUP BY sh HAVING count(*) > 1
),
cov AS (
  SELECT DISTINCT sp.doc_id, u2.p
  FROM sp JOIN dfq ON sp.sh = dfq.sh,
       unnest(generate_series(sp.i, sp.i + 4)) AS u2(p)
),
per AS (
  SELECT tk.doc_id, tk.source AS domain,
         CAST(len(tk.t) AS BIGINT) AS n_tokens_raw,
         CAST(len(tk.t) - coalesce(c.nc, 0) AS BIGINT) AS n_tokens_clean,
         CASE WHEN len(tk.t) > 0
              THEN round(CAST(coalesce(c.nc, 0) AS DOUBLE)
                         / CAST(len(tk.t) AS DOUBLE), 6)
              ELSE 0.0 END AS removed_frac,
         (len(regexp_extract_all(tk.text, '\\x{FFFD}')) = 0
          AND len(regexp_extract_all(tk.text,
                  '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')) = 0) AS enc_clean
  FROM tk LEFT JOIN (SELECT doc_id, count(*) AS nc FROM cov GROUP BY doc_id) c
       USING (doc_id)
),
elig AS (
  SELECT *,
         (enc_clean AND removed_frac <= 0.5 AND n_tokens_clean > 0) AS eligible
  FROM per
),
c2 AS (
  SELECT domain, CAST(sum(n_tokens_clean) AS BIGINT) AS tdom,
         CAST(floor(sqrt(CAST(sum(n_tokens_clean) AS DOUBLE)) * 1000000.0)
              AS BIGINT) AS wq
  FROM elig WHERE eligible GROUP BY domain
),
tot AS (SELECT CAST(sum(wq) AS BIGINT) AS sumwq FROM c2),
b AS (
  SELECT CAST(floor(0.4 * CAST(sum(n_tokens_clean) AS DOUBLE)) AS BIGINT) AS btot
  FROM elig WHERE eligible
),
pl AS (
  SELECT domain,
         CAST(floor(CAST(btot AS DOUBLE) * CAST(wq AS DOUBLE)
                    / CAST(sumwq AS DOUBLE)) AS BIGINT) AS tok_budget
  FROM c2, tot, b
),
o AS (
  SELECT doc_id, domain, n_tokens_clean,
         CAST(concat('0x', substr(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM elig WHERE eligible
),
s AS (
  SELECT doc_id, domain,
         CAST(coalesce(sum(n_tokens_clean) OVER (
           PARTITION BY domain ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tok_start
  FROM o
),
m AS (
  SELECT s.doc_id, s.tok_start
  FROM s JOIN pl USING (domain) WHERE s.tok_start < pl.tok_budget
)
SELECT e.doc_id, e.domain, e.n_tokens_raw, e.n_tokens_clean,
       e.removed_frac, e.enc_clean, e.eligible,
       (m.doc_id IS NOT NULL) AS kept,
       m.tok_start
FROM elig e LEFT JOIN m ON e.doc_id = m.doc_id
"""


@register("x_pipeline_curation", oracle=_PIPE_CURATION_ORACLE)
def x_pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third fused pipeline (activity e2e, corpus filter, and now
    CURATION): the full manifest a pretraining run reads, in one
    plan. Per doc: 5-gram duplicated-span removal (the rewrite, not
    just the score), encoding-sanity gate, eligibility (clean AND
    <=50% removed AND non-empty), then an alpha=0.5 token-budget
    allocation (40% of the ELIGIBLE CLEAN token total) filled with
    hash-ordered docs per domain — flags, clean token counts, keep
    decision, and in-domain token offset for every input doc.

    Fusion discipline (the corpus-filter lesson): the documents scan
    persists once and the corpus tokenizes ONCE — the shared _toks
    table feeds the span machinery AND the rewrite inside
    dup_span_remove (via its toks= passthrough) while the encoding
    gate is a codegen'd projection of the same scan; the only driver
    action is the eligible clean-token total (one exact integer,
    bounded model state) that parameterizes the budget. 5-gram spans
    (not 3) at the measured fixture knee: mean coverage 0.097, 47/500
    docs above the 0.5 eligibility cut at sf0.01 — every gate
    discriminates."""
    ensure_harness_conf(spark)
    from pyspark import StorageLevel

    from .operators.dedup import tokens
    from .operators.sketch import token_budget_allocate
    from .operators.text import dup_span_remove, encoding_quality
    from .io import fan_out

    docs = load(spark, sf_dir, "documents").persist(StorageLevel.MEMORY_AND_DISK)
    toks = (
        fan_out(docs)
        .select(
            F.col("doc_id"),
            F.coalesce(tokens(F.col("text")), F.array().cast("array<string>"))
            .alias("_toks"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        clean = dup_span_remove(docs, "doc_id", "text", n=5, toks=toks).select(
            "doc_id",
            F.col("n_tokens").alias("n_tokens_raw"),
            (F.col("n_tokens") - F.col("n_removed")).alias("n_tokens_clean"),
            "removed_frac",
        )
        enc = encoding_quality(docs, "doc_id", "text").select(
            "doc_id", F.col("clean").alias("enc_clean")
        )
        elig = (
            docs.select("doc_id", F.col("source").alias("domain"))
            .join(clean, "doc_id")
            .join(enc, "doc_id")
            .withColumn(
                "eligible",
                F.col("enc_clean")
                & (F.col("removed_frac") <= 0.5)
                & (F.col("n_tokens_clean") > 0),
            )
        )
        elig = elig.localCheckpoint(eager=True)  # one row per doc; cuts
        # the span-machinery lineage out of the two consumers below
        pool = elig.filter(F.col("eligible"))
        btot = pool.agg(
            F.floor(F.lit(0.4) * F.sum("n_tokens_clean").cast("double"))
            .cast("long")
            .alias("b")
        ).collect()[0]["b"]
        # empty eligible pool -> NULL aggregate: budget 0 keeps nothing,
        # matching the oracle's NULL-join path (code-review finding)
        btot = 0 if btot is None else int(btot)
        manifest = token_budget_allocate(
            pool,
            "doc_id",
            "domain",
            "n_tokens_clean",
            budget_tokens=btot,
            alpha=0.5,
            salt="cur",
        ).select("doc_id", "tok_start")
        return (
            elig.join(manifest, "doc_id", "left")
            .select(
                "doc_id",
                "domain",
                "n_tokens_raw",
                "n_tokens_clean",
                "removed_frac",
                "enc_clean",
                "eligible",
                F.col("tok_start").isNotNull().alias("kept"),
                "tok_start",
            )
        )
    finally:
        toks.unpersist()
        docs.unpersist()
