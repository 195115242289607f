"""Hybrid text retrieval, PQ ANN, incremental maintenance.

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
from .queries_common import _TK_SQL, _cos_sql, _dot_sql  # noqa: F401
from .queries_text_mm_stream import _QUALITY_ORACLE  # noqa: F401


# ---------------------------------------------------------------------------
# Incremental aggregation state
# ---------------------------------------------------------------------------


@register_extra(
    "x_incremental_agg_merge",
    oracle="""
SELECT event_type, CAST(count(value) AS BIGINT) AS n,
       round(CAST(sum(CAST(round(value * 1000000, 0) AS HUGEINT)) AS DOUBLE)
             / 1000000.0, 6) AS sum_v,
       round(CAST(sum(CAST(round(value * 1000000, 0) AS HUGEINT)) AS DOUBLE)
             / 1000000.0 / CAST(count(value) AS DOUBLE), 6) AS mean_v,
       min(value) AS min_v, max(value) AS max_v
FROM events GROUP BY event_type
""",
)
def x_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: the corpus arrives as THREE
    batches (event_id mod 3 slices), each reduced to per-key algebraic
    state, states merged WITHOUT rescanning any batch, then finished
    to serving metrics. The oracle aggregates the whole corpus in one
    shot — the merge must be indistinguishable from full recompute
    (``merge(state(A), state(B), state(C)) == state(A∪B∪C)``), which
    holds because counts/quantized-sums add and mins/maxes combine.
    At 100 TB this is the only affordable refresh: state tables are
    keys-sized, batches are scanned once, ever."""
    ensure_harness_conf(spark)
    from .operators import aggstate

    ev = load(spark, sf_dir, "events")
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    states = [aggstate.agg_state(b, ["event_type"], "value") for b in batches]
    return aggstate.finish_state(aggstate.merge_agg_states(*states))


# ---------------------------------------------------------------------------
# Product quantization ANN
# ---------------------------------------------------------------------------


def _pq_oracle(
    k: int = 5,
    n_queries: int = 8,
    n_sub: int = 8,
    dim: int = 64,
    n_cent: int = 16,
    stride: int = 37,
    rerank_r: int = 100,
    refine_iters: int = 2,
    train_cond: str | None = None,
) -> str:
    d = dim // n_sub
    span = n_cent * stride
    l2 = (
        f"({_dot_sql('t.sv', 't.sv')} - 2.0 * {_dot_sql('t.sv', 'c.cv')}"
        f" + {_dot_sql('c.cv', 'c.cv')})"
    )
    # train_cond restricts codebook TRAINING (init + Lloyd) to a slice
    # of the corpus — the add-after-train oracle: the final encode
    # still runs over every vector
    trows = f"(SELECT * FROM sl WHERE {train_cond})" if train_cond else "sl"

    def assign(src_cb: str, rows: str = "sl") -> str:
        return f"""
  SELECT vec_id, sub_id, sv, cent_id FROM (
    SELECT t.vec_id, t.sub_id, t.sv, c.cent_id,
           row_number() OVER (PARTITION BY t.vec_id, t.sub_id
                              ORDER BY round({l2}, 6), c.cent_id) AS rn
    FROM {rows} t JOIN {src_cb} c USING (sub_id)
  ) WHERE rn = 1"""

    return f"""
WITH subs AS (SELECT unnest(generate_series(0, {n_sub - 1})) AS sub_id),
nemb AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(x AS DOUBLE)
                             / sqrt({_dot_sql("embedding", "embedding")})) AS embedding
  FROM embeddings
),
sl AS (
  SELECT e.vec_id, s.sub_id,
         e.embedding[(s.sub_id * {d} + 1):(s.sub_id * {d} + {d})] AS sv
  FROM nemb e CROSS JOIN subs s
),
cb0 AS (
  SELECT sub_id, CAST(grp AS BIGINT) AS cent_id,
         list_transform(sv, x -> CAST(x AS DOUBLE)) AS cv
  FROM (
    SELECT sub_id, floor((vec_id % {span}) / {stride}) AS grp, sv,
           row_number() OVER (PARTITION BY sub_id, floor((vec_id % {span}) / {stride})
                              ORDER BY vec_id) AS rn
    FROM {trows} WHERE vec_id % {stride} = 0
  ) WHERE rn = 1
),
{",".join(f'''assign{i} AS ({assign(f"cb{i}", trows)}),
means{i} AS (
  SELECT sub_id, cent_id, g.i AS pos,
         round(CAST(SUM(CAST(CAST(sv[g.i] AS DOUBLE) AS DECIMAL(27,12))) AS DOUBLE)
               / COUNT(*), 6) AS m
  FROM assign{i} CROSS JOIN generate_series(1, {d}) AS g(i)
  GROUP BY sub_id, cent_id, g.i
),
cb{i + 1} AS (
  SELECT c.sub_id, c.cent_id, COALESCE(n.v, c.cv) AS cv
  FROM cb{i} c LEFT JOIN (
    SELECT sub_id, cent_id, list(m ORDER BY pos) AS v
    FROM means{i} GROUP BY sub_id, cent_id
  ) n USING (sub_id, cent_id)
)''' for i in range(refine_iters))},
codes AS (
  SELECT vec_id AS n_id, sub_id, cent_id FROM ({assign(f"cb{refine_iters}")})
),
qids AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {n_queries}),
qsl AS (
  SELECT vec_id AS q_id, sub_id, sv AS qv FROM sl
  WHERE vec_id IN (SELECT vec_id FROM qids)
),
lut AS (
  SELECT q.q_id, q.sub_id, c.cent_id,
         round({_dot_sql("q.qv", "c.cv")}, 6) AS part
  FROM qsl q JOIN cb{refine_iters} c USING (sub_id)
),
scored AS (
  SELECT l.q_id, cd.n_id,
         round(CAST(sum(CAST(l.part AS DECIMAL(38,6))) AS DOUBLE), 6) AS adc
  FROM codes cd JOIN lut l ON l.sub_id = cd.sub_id AND l.cent_id = cd.cent_id
  WHERE l.q_id != cd.n_id
  GROUP BY l.q_id, cd.n_id
),
cands AS (
  SELECT q_id, n_id, adc FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS cr
    FROM scored
  ) WHERE cr <= {rerank_r}
),
exact AS (
  SELECT c.q_id, c.n_id, c.adc,
         round({_dot_sql("q.embedding", "n.embedding")}, 6) AS cos
  FROM cands c
  JOIN nemb n ON n.vec_id = c.n_id
  JOIN nemb q ON q.vec_id = c.q_id
)
SELECT q_id, n_id, adc, cos, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
  FROM exact
) WHERE rk <= {k}
"""


@register("x_sim_topk_pq", oracle=_pq_oracle())
def x_sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 8 subspaces × 16 centroids trained by
    deterministic strided init + two exact-mean Lloyd passes (the IVF
    recipe per subspace, all subspaces in ONE plan via a sub_id
    dimension), corpus encoded to 8 codes/vector (32× less data
    motion than float32), queries scored by ADC — a broadcast
    dot-product LUT summed over codes — then the top-100 candidates
    exact-reranked on raw unit vectors (the IVF-PQ+refine serving
    split; the measured knee: 0.85 recall@5 vs 0.22 pure-ADC on the
    clustered fixture). The ENTIRE model+ranking hash-matches the
    SQL oracle: codebooks (decimal means), codes (rounded-L2
    argmin), LUT parts, decimal-summed ADC, and the reranked cosine."""
    ensure_harness_conf(spark)
    from .operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(
        emb, "vec_id", "embedding", k=5, n_queries=8, n_sub=8, dim=64,
        n_cent=16, stride=37, refine_iters=2, rerank_r=100,
    )


# ---------------------------------------------------------------------------
# Incremental EWMA maintenance
# ---------------------------------------------------------------------------


@register(
    "x_ts_ewma_incremental",
    oracle="""
WITH RECURSIVE b AS (
  SELECT user_id, event_id, value,
         CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY CAST(epoch_ns(ts) AS BIGINT), event_id) AS rn
  FROM events
),
r(user_id, event_id, es, rn, s) AS (
  SELECT user_id, event_id, es, rn, value FROM b WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.es, b.rn, 0.3 * b.value + 0.7 * r.s
  FROM r JOIN b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, event_id, round(s, 6) AS ewma
FROM r WHERE es >= 1705400000
""",
)
def x_ts_ewma_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EWMA maintenance — the round-8 maintenance theme
    applied to the time-series family: the corpus BEFORE the cutoff is
    folded once into one double of state per key
    (rolling.ewma_by_key's last row), then ONLY the arriving batch is
    folded from that state (init_state seeding). The EWMA recursion is
    associative-over-prefix — the state after a prefix is everything a
    suffix needs — so the resumed fold is EXACTLY equal to the full
    recompute: the oracle runs the recursion over the WHOLE series and
    filters to the batch rows, and the gate demands bit-equality. Cost
    scales with the batch (one broadcast of P doubles + batch rows),
    never the corpus — the same contract as incremental MinHash/pHash/
    IVF/fingerprint maintenance."""
    ensure_harness_conf(spark)
    from .operators.rolling import ewma_by_key

    cut = 1705400000
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    ev = (
        ev.withColumn("_ns", ep.epoch_ns(ev, "ts"))
        .withColumn("_es", ep.epoch_s(ev, "ts"))
        .drop("ts")
    )
    past = ev.filter(F.col("_es") < cut).drop("_es")
    batch = ev.filter(F.col("_es") >= cut).drop("_es")
    folded = ewma_by_key(past, ["user_id"], ["_ns", "event_id"], "value", 0.3, "_s")
    w = W.partitionBy("user_id").orderBy(F.desc("_ns"), F.desc("event_id"))
    state = (
        folded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", F.col("_s").alias("s0"))
    )
    resumed = ewma_by_key(
        batch, ["user_id"], ["_ns", "event_id"], "value", 0.3, "_s",
        init_state=state,
    )
    return resumed.select(
        "user_id", "event_id", F.round("_s", 6).alias("ewma")
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 + dense cosine, reciprocal-rank fusion
# ---------------------------------------------------------------------------


def _hybrid_oracle(kq: int = 20, kf: int = 10, c: int = 60,
                   k1: float = 1.2, b: float = 0.75) -> str:
    return f"""
WITH tk AS ({_TK_SQL}),
tc AS (SELECT doc_id, unnest(t) AS term FROM tk),
postings AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf_n
  FROM tc GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf_n) AS doc_len FROM postings GROUP BY doc_id),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(doc_len) AS BIGINT) AS sum_dl FROM dl),
qterms AS (
  SELECT DISTINCT doc_id AS query_id, unnest(t) AS term
  FROM tk WHERE doc_id < 8
),
hits AS (SELECT q.query_id, p.doc_id, p.term, p.tf_n
         FROM postings p JOIN (SELECT DISTINCT term FROM qterms) s USING (term)
              JOIN qterms q USING (term)),
dft AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df_n
        FROM hits GROUP BY term),
contrib AS (
  SELECT h.query_id, h.doc_id,
         round(
           round(ln(1.0 + (CAST(s.n_docs AS DOUBLE) - d.df_n + 0.5)
                          / (CAST(d.df_n AS DOUBLE) + 0.5)), 6)
           * (CAST(h.tf_n AS DOUBLE) * {k1 + 1.0})
             / (CAST(h.tf_n AS DOUBLE)
                + {k1} * ({1.0 - b} + {b} * (CAST(l.doc_len AS DOUBLE)
                                             * CAST(s.n_docs AS DOUBLE)
                                             / CAST(s.sum_dl AS DOUBLE)))),
           6) AS cbm
  FROM hits h JOIN dft d USING (term) JOIN dl l USING (doc_id)
       CROSS JOIN stats s
),
bscored AS (
  SELECT query_id, doc_id,
         round(CAST(sum(CAST(cbm AS DECIMAL(38,6))) AS DOUBLE), 6) AS bm25
  FROM contrib GROUP BY query_id, doc_id
),
bm21 AS (
  SELECT query_id, doc_id, bm25,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY bm25 DESC, doc_id) AS rk1
  FROM bscored
),
bm AS (
  SELECT query_id, doc_id, rk_bm FROM (
    SELECT query_id, doc_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rk_bm
    FROM bm21 WHERE rk1 <= {kq + 1} AND doc_id != query_id
  ) WHERE rk_bm <= {kq}
),
cq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
cc AS (SELECT vec_id AS doc_id, embedding AS nv FROM embeddings),
cscored AS (
  SELECT query_id, doc_id, round({_cos_sql('qv', 'nv')}, 6) AS cos
  FROM cc JOIN cq ON query_id != doc_id
),
cr AS (
  SELECT query_id, doc_id, rk_cos FROM (
    SELECT query_id, doc_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, doc_id) AS BIGINT) AS rk_cos
    FROM cscored
  ) WHERE rk_cos <= {kq}
),
f AS (
  SELECT coalesce(bm.query_id, cr.query_id) AS query_id,
         coalesce(bm.doc_id, cr.doc_id) AS doc_id,
         bm.rk_bm, cr.rk_cos
  FROM bm FULL OUTER JOIN cr
       ON bm.query_id = cr.query_id AND bm.doc_id = cr.doc_id
),
sc AS (
  SELECT query_id, doc_id, rk_bm, rk_cos,
         round(coalesce(1.0 / ({c} + rk_bm), 0.0)
               + coalesce(1.0 / ({c} + rk_cos), 0.0), 6) AS rrf
  FROM f
)
SELECT query_id, doc_id, rrf, rk_bm, rk_cos, rk FROM (
  SELECT query_id, doc_id, rrf, rk_bm, rk_cos,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk
  FROM sc
) WHERE rk <= {kf}
"""


@register("x_text_hybrid_retrieval", oracle=_hybrid_oracle())
def x_text_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 keyword top-20 and dense-cosine top-20
    per query, fused by reciprocal-rank fusion (rrf_fuse — Cormack et
    al. SIGIR'09) into a final top-10. Queries are the 8 docs with
    doc_id < 8, used on BOTH sides (their text as the keyword query,
    their embedding as the dense query — the documents/embeddings
    fixtures share the id space), so the whole RAG-style retrieval
    stack composes in-engine: inverted-index scoring, broadcast-query
    brute cosine, and a bounded full-outer fuse whose state is
    queries*K rows, never corpus-sized. BM25's list excludes the
    query doc itself by ranking top-21 then re-ranking the non-self
    survivors (exact: self occupies at most one slot); the cosine
    operator already excludes self-matches. Both ranks, the fused
    score, and the fused ranking hash-match the oracle."""
    ensure_harness_conf(spark)
    from pyspark import StorageLevel

    from .operators import similarity

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    # bounded query set (8 rows of model state — the cosine-query convention)
    qlist = [
        (int(r["doc_id"]), r["text"])
        for r in docs.filter(F.col("doc_id") < 8).select("doc_id", "text").collect()
    ]
    # r13: build the postings index ONCE and persist it. tc feeds two
    # consumers (the query-term prune and the doc-length agg) and dl
    # feeds two more (corpus stats, the scoring join); unpersisted,
    # Spark replans the scan+tokenize+explode subtree per consumer —
    # the corpus was tokenized 3× (audit: 16 exchanges). The eager
    # checkpoint of the (queries×k)-row result releases both caches
    # on exit — the fused-pipeline discipline. (ADVICE r13: the
    # checkpoint's own RDD blocks stay pinned until the driver GCs the
    # returned DataFrame and ContextCleaner collects them — bounded at
    # queries×k rows per invocation, so repeated bench/oracle runs
    # accumulate only result-sized blocks, not corpus-sized ones.)
    tc, dl = text.build_postings(docs, "doc_id", "text")
    tc = tc.persist(StorageLevel.MEMORY_AND_DISK)
    dl = dl.persist(StorageLevel.MEMORY_AND_DISK)
    bm_raw = text.bm25_from_index(spark, tc, dl, "doc_id", qlist, k=21)
    wbm = W.partitionBy("query_id").orderBy(F.col("bm25").desc(), F.col("doc_id"))
    bm = (
        bm_raw.filter(F.col("doc_id") != F.col("query_id"))
        .withColumn("rk", F.row_number().over(wbm).cast("long"))
        .filter(F.col("rk") <= 20)
        .select("query_id", "doc_id", "rk")
    )
    cs = similarity.cosine_topk_brute(
        emb, emb.filter(F.col("vec_id") < 8), "vec_id", "embedding", k=20
    ).select(
        F.col("q_id").alias("query_id"),
        F.col("n_id").alias("doc_id"),
        F.col("rk"),
    )
    fused = similarity.rrf_fuse([bm, cs], "query_id", "doc_id", "rk", k=10)
    try:
        return fused.select(
            "query_id",
            "doc_id",
            "rrf",
            F.col("rk_0").alias("rk_bm"),
            F.col("rk_1").alias("rk_cos"),
            "rk",
        ).localCheckpoint(eager=True)
    finally:
        tc.unpersist()
        dl.unpersist()


# ---------------------------------------------------------------------------
# Trailing-window features
# ---------------------------------------------------------------------------

_EPOCH_US_DUCK = "CAST(epoch_ns(ts) // 1000 AS BIGINT)"


@register(
    "x_feature_trailing_window",
    oracle=f"""
WITH e AS (
  SELECT event_id, user_id, {_EPOCH_US_DUCK} AS us,
         coalesce(CAST(round(value * 1000000, 0) AS BIGINT), 0) AS qv
  FROM events
)
SELECT event_id, user_id, us,
       CAST(count(*) OVER w AS BIGINT) AS n_24h,
       CAST(sum(qv) OVER w AS BIGINT) AS sum_q_24h,
       CAST(count(*) OVER w7 AS BIGINT) AS n_7d,
       CAST(sum(qv) OVER w7 AS BIGINT) AS sum_q_7d
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW),
       w7 AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
""",
)
def x_feature_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time trailing-window features — the feature-engineering
    workhorse (\"this user's activity over the trailing 24h/7d AS OF
    each event\"): RANGE frames over the microsecond epoch, so the
    window is defined by TIME DISTANCE, not row count — co-timestamped
    events all see the same frame (deterministic under ties, unlike a
    ROWS frame), and sums are exact micro-quantized integers. Both
    horizons share one (user, time) sort — a single shuffle; at 100 TB
    this plus the PIT join IS the feature-store backfill path. First
    RANGE-frame operator in the registry (everything prior used ROWS
    frames)."""
    ensure_harness_conf(spark)
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        ep.epoch_us(ev).alias("us"),
        F.coalesce(
            F.round(F.col("value") * 1000000, 0).cast("long"), F.lit(0)
        ).alias("qv"),
    )
    w24 = (
        W.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-86_400_000_000, 0)
    )
    w7 = (
        W.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-604_800_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "us",
        F.count(F.lit(1)).over(w24).cast("long").alias("n_24h"),
        F.sum("qv").over(w24).cast("long").alias("sum_q_24h"),
        F.count(F.lit(1)).over(w7).cast("long").alias("n_7d"),
        F.sum("qv").over(w7).cast("long").alias("sum_q_7d"),
    )
