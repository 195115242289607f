"""Sketches (HLL/CMS/Bloom), corpus-filter pipeline, BM25, sampling.

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


# ---------------------------------------------------------------------------
# Sketches
# ---------------------------------------------------------------------------


def _hll_oracle(b: int = 9) -> str:
    from .operators import sketch

    m = 1 << b
    rem_bits = sketch.HASH_BITS - b
    unit = 2 ** (rem_bits + 1)
    alpha = 0.7213 / (1 + 1.079 / m)
    num = repr(alpha * m * m * unit)  # shared double literal, bit-identical
    small_m = repr(float(m))
    thresh = repr(2.5 * m)
    return f"""
WITH h AS (
  SELECT event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
  FROM events
),
t AS (
  SELECT event_type, hv % {m} AS bkt,
         CASE WHEN (hv >> {b}) = 0 THEN {rem_bits + 1}
              ELSE {rem_bits} - length(bin(hv >> {b})) + 1 END AS rk
  FROM h
),
pb AS (SELECT event_type, bkt, max(rk) AS mj FROM t GROUP BY event_type, bkt),
ag AS (
  SELECT event_type,
         SUM(CAST(1 AS BIGINT) << ({rem_bits + 1} - mj)) AS den_seen,
         CAST(COUNT(*) AS BIGINT) AS nseen
  FROM pb GROUP BY event_type
),
est AS (
  SELECT event_type, nseen,
         {num} / CAST(den_seen + ({m} - nseen) * CAST({unit} AS BIGINT) AS DOUBLE) AS raw
  FROM ag
)
SELECT event_type,
       CAST(floor(CASE WHEN raw <= {thresh} AND ({m} - nseen) > 0
                       THEN {small_m} * ln({small_m} / CAST({m} - nseen AS DOUBLE))
                       ELSE raw END) AS BIGINT) AS hll_estimate,
       nseen AS n_buckets_seen
FROM est
"""


@register_extra("x_sketch_hll_users", oracle=_hll_oracle())
def x_sketch_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog: distinct users per event_type from a
    512-register sketch — md5-derived hashing and an integer-exact
    harmonic denominator make the ESTIMATE itself bit-identical across
    engines (built-in approx_count_distinct can never be cross-checked
    this way). Two hash-aggs, map-side combined; the raw values are
    never distinct-shuffled."""
    ensure_harness_conf(spark)
    from .operators import sketch

    ev = load(spark, sf_dir, "events")
    return sketch.hll_distinct(ev, "user_id", ["event_type"], b=9)


def _cms_oracle(d: int = 4, w: int = 1024, k: int = 20) -> str:
    def h(term: str, row: str) -> str:
        return (
            f"CAST(concat('0x', substr(md5('cms' || {row} || ':' || {term}), 1, 15)) "
            f"AS BIGINT) % {w}"
        )

    return f"""
WITH tk AS ({_TK_SQL}),
tok AS (SELECT unnest(t) AS term FROM tk),
exact AS (SELECT term, CAST(count(*) AS BIGINT) AS n_true FROM tok GROUP BY term),
top AS (
  SELECT term, n_true
  FROM (SELECT term, n_true,
               row_number() OVER (ORDER BY n_true DESC, term) AS rn
        FROM exact)
  WHERE rn <= {k}
),
rows_ AS (SELECT unnest(generate_series(0, {d - 1})) AS i),
cms AS (
  SELECT r.i AS r, {h('term', 'r.i')} AS c, CAST(count(*) AS BIGINT) AS n
  FROM tok CROSS JOIN rows_ r
  GROUP BY 1, 2
)
SELECT t.term, t.n_true, CAST(min(m.n) AS BIGINT) AS cms_count
FROM top t CROSS JOIN rows_ r
JOIN cms m ON m.r = r.i AND m.c = {h('t.term', 'r.i')}
GROUP BY t.term, t.n_true
"""


@register_extra("x_sketch_cms_tokens", oracle=_cms_oracle())
def x_sketch_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter estimation: build a 4×1024 cell
    sketch over the token stream (one tagged explode + one hash agg —
    d·w cells regardless of vocabulary size, cells merge by addition),
    then point-estimate the true top-20 tokens against it. Estimates
    are deterministic (md5 row hashes) so the oracle reproduces every
    cell and every min exactly; CMS never underestimates
    (tests assert cms_count >= n_true)."""
    ensure_harness_conf(spark)
    from .operators import sketch

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(dedup.tokens("text")).alias("term")
    )
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    wr = W.orderBy(F.col("n_true").desc(), "term")
    top = (
        exact.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 20)
        .select("term", "n_true")
    )
    cms = sketch.cms_build(toks, "term", d=4, w=1024)
    est = sketch.cms_lookup(cms, top, "term", d=4, w=1024)
    return top.join(est, "term").select("term", "n_true", "cms_count")


def _strat_oracle() -> str:
    hb = 1 << 60
    t = {
        "click": int(0.5 * hb),
        "view": int(0.2 * hb),
        "purchase": int(1.0 * hb),
    }
    default = int(0.05 * hb)
    h = (
        "CAST(concat('0x', substr(md5(concat('strat:', "
        "CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT)"
    )
    return f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept
FROM events
WHERE {h} < CASE event_type
              WHEN 'click' THEN CAST({t['click']} AS BIGINT)
              WHEN 'view' THEN CAST({t['view']} AS BIGINT)
              WHEN 'purchase' THEN CAST({t['purchase']} AS BIGINT)
              ELSE CAST({default} AS BIGINT) END
GROUP BY event_type
"""


@register_extra("x_sample_stratified", oracle=_strat_oracle())
def x_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balancing stratified sample (curation: downsample the
    majority event classes, keep all purchases, near-drop the rest) —
    a pure per-row hash filter with per-class thresholds, so the kept
    SET is reproducible across engines/partitionings and the oracle
    replicates the identical integer math. No shuffle, no per-class
    passes; the only agg is the count that makes the result small."""
    ensure_harness_conf(spark)
    from .operators import sketch

    ev = load(spark, sf_dir, "events")
    kept = sketch.sample_stratified(
        ev,
        "event_id",
        "event_type",
        {"click": 0.5, "view": 0.2, "purchase": 1.0},
        default=0.05,
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept")
    )


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


def _chunk_oracle(chunk: int = 64, stride: int = 48) -> str:
    return f"""
WITH tk AS ({_TK_SQL}),
st AS (
  SELECT doc_id, t,
         generate_series(0,
           greatest(CAST(0 AS BIGINT),
                    CAST(ceil((len(t) - {chunk}) / {stride}.0) AS BIGINT) * {stride}),
           {stride}) AS starts
  FROM tk
),
w AS (
  SELECT doc_id, u.s AS start, list_slice(t, u.s + 1, u.s + {chunk}) AS win
  FROM st, unnest(starts) AS u(s)
)
SELECT doc_id, CAST(start / {stride} AS BIGINT) AS chunk_idx,
       array_to_string(win, ' ') AS chunk_text,
       CAST(len(win) AS BIGINT) AS n_tokens
FROM w WHERE len(win) > 0
"""


@register_extra("x_udtf_chunk_windows", oracle=_chunk_oracle())
def x_udtf_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunking operator re-expressed through Spark 4's Python
    UDTF extension point (operators/udtfs.ChunkWindowsUDTF): an
    Arrow-batched table function invoked as a LATERAL generator from
    SQL, oracle-gated to the SAME answer as the declarative HOF
    chunking (text.chunk_documents). This is the
    sanctioned imperative escape hatch — per-row Python that EMITS
    ROWS — and the gate proves the extension point preserves every
    row, not just the API shape. The hot path remains the codegen'd
    twin; tests/test_udtf.py pins row-identity between the two."""
    ensure_harness_conf(spark)
    from .operators.udtfs import register_udtfs

    register_udtfs(spark)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    view = f"docs_udtf_{uuid.uuid4().hex[:8]}"
    docs.createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"""
            SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_tokens
            FROM {view} d, LATERAL chunk_windows_udtf(d.text, 64, 48) c
            """
        ).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(view)


@register_extra("x_text_pack_chunks")  # no SQL oracle: sequential
# first-fit bin state is not SQL-expressible; invariants (exactly-one
# pack per chunk, fill <= budget, determinism under repartitioning,
# FFD efficiency) are pytest-enforced in tests/test_text.py.
def x_text_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: 64/48 context windows first-fit-decreasing
    into 256-token packs across 8 hash buckets — the training-batch
    construction step downstream of chunking."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    chunks = text.chunk_documents(docs, "doc_id", "text", chunk_tokens=64, stride=48)
    return text.pack_chunks(
        chunks, ["doc_id", "chunk_idx"], "n_tokens", budget=256, n_buckets=8
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


@register_extra(
    "x_text_vocab_topk",
    oracle=f"""
WITH tk AS ({_TK_SQL}),
tok AS (SELECT doc_id, unnest(t) AS token FROM tk),
c AS (SELECT token,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM tok GROUP BY token),
r AS (SELECT *, row_number() OVER (ORDER BY n DESC, token) AS rk FROM c)
SELECT token, n, n_docs, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 1000
""",
)
def x_text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build: top-1000 tokens by (count desc, token)
    with total and document frequency — the tokenizer-training stage.
    One explode + one map-side-combined hash agg + TakeOrdered top-k;
    the rank window runs over the already-reduced k rows only."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    return text.vocab_topk(docs, "doc_id", "text", k=1000)


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


_BIGRAM_LM_ORACLE = f"""
WITH tk AS ({_TK_SQL}),
uni AS (SELECT unnest(t) AS w FROM tk),
uc AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w),
v AS (SELECT count(*) AS v FROM uc),
occ AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> t[i] || ' ' || t[i+1])) AS bg
  FROM tk
),
o2 AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w FROM occ),
bgc AS (SELECT bg, count(*) AS c2 FROM occ GROUP BY bg),
scored AS (
  SELECT o2.doc_id,
         round(ln(CAST(bgc.c2 + 1 AS DOUBLE) / CAST(uc.c1 + v.v AS DOUBLE)), 6) AS lp
  FROM o2 JOIN bgc USING (bg) JOIN uc USING (w) CROSS JOIN v
),
p AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(CAST(SUM(CAST(lp AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6)
           AS lm_logprob
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       coalesce(p.lm_logprob, 0.0) AS lm_logprob
FROM documents d LEFT JOIN p ON p.doc_id = d.doc_id
"""


@register_extra("x_text_bigram_lm", oracle=_BIGRAM_LM_ORACLE)
def x_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-one bigram LM mean log-probability per doc —
    the perplexity-filter family (CCNet-style curation), exact and
    engine-portable (6dp ln rounding + decimal accumulation, the
    tf_idf precedent). Train = two hash aggs over the same scan."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    return text.bigram_lm_score(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Bloom filter sketches (join pruning)
# ---------------------------------------------------------------------------


def _bloom_pos_sql(val: str, m: int, k: int) -> str:
    """DuckDB list of the k bloom bit positions of ``val`` — mirrors
    sketch._bloom_position_cols (same ONE-md5 Kirsch-Mitzenmacher
    double hashing: h1 = hex[1:15], h2 = hex[17:31] forced odd,
    pos_r = (h1 + r*h2) mod m)."""
    h1 = f"CAST(concat('0x', substr(md5('bloom:' || {val}), 1, 15)) AS BIGINT)"
    h2 = f"(CAST(concat('0x', substr(md5('bloom:' || {val}), 17, 15)) AS BIGINT) | 1)"
    terms = ", ".join(f"({h1} + {r} * {h2}) % {m}" for r in range(k))
    return f"[{terms}]"


def _bloom_probe_oracle(m: int = 4096, k: int = 5) -> str:
    return f"""
WITH members AS (
  SELECT DISTINCT o_custkey AS key FROM orders WHERE o_totalprice > 450000
),
bloom AS (
  SELECT DISTINCT unnest({_bloom_pos_sql("CAST(key AS VARCHAR)", m, k)}) AS pos
  FROM members
),
probes AS (
  SELECT c_custkey AS key,
         unnest({_bloom_pos_sql("CAST(c_custkey AS VARCHAR)", m, k)}) AS pos
  FROM customer
),
hits AS (
  SELECT p.key, count(b.pos) = {k} AS bloom_hit
  FROM probes p LEFT JOIN bloom b USING (pos)
  GROUP BY p.key
)
SELECT h.bloom_hit, m.key IS NOT NULL AS exact_hit,
       CAST(count(*) AS BIGINT) AS n_keys
FROM hits h LEFT JOIN members m USING (key)
GROUP BY 1, 2
"""


@register_extra("x_sketch_bloom_probe", oracle=_bloom_probe_oracle())
def x_sketch_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership sketch: build a m=4096/k=5 filter over
    the big-spender customer set (custkeys holding a >450k order) and
    probe EVERY customer, cross-tabbed against exact membership.

    The (bloom_hit=true, exact_hit=false) cell is the measured
    false-positive count at the classic (1-e^(-kn/m))^k rate; the
    (false, true) cell is structurally empty — a bloom filter has no
    false negatives, and the oracle hash-match proves every bit
    position, not just the rates. m is deliberately undersized here to
    make the FP tradeoff visible at fixture scale; bloom_prefilter
    sizes m to n for the pruning use.

    Scale: build is one explode + distinct over the member set (≤m
    rows out whatever the cardinality, mergeable by union); probe
    explodes keys ×k and broadcast-joins the position table — no
    shuffle of the probed side beyond its own k-row groupBy."""
    ensure_harness_conf(spark)
    from .operators import sketch

    members = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    bloom = sketch.bloom_build(members, "key", m=4096, k=5)
    probed = sketch.bloom_probe(
        bloom,
        load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key")),
        "key",
        m=4096,
        k=5,
    )
    return (
        probed.join(members.withColumn("_m", F.lit(1)), "key", "left")
        .groupBy("bloom_hit", F.col("_m").isNotNull().alias("exact_hit"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    )


def _bloom_prefilter_oracle(m: int = 1 << 18, k: int = 5) -> str:
    return f"""
WITH hot AS (
  SELECT o_orderkey FROM orders WHERE o_totalprice > 250000
),
bloom AS (
  SELECT DISTINCT unnest({_bloom_pos_sql("CAST(o_orderkey AS VARCHAR)", m, k)}) AS pos
  FROM hot
),
probes AS (
  SELECT l_orderkey,
         unnest({_bloom_pos_sql("CAST(l_orderkey AS VARCHAR)", m, k)}) AS pos
  FROM (SELECT DISTINCT l_orderkey FROM lineitem)
),
hitkeys AS (
  SELECT p.l_orderkey
  FROM probes p LEFT JOIN bloom b USING (pos)
  GROUP BY p.l_orderkey HAVING count(b.pos) = {k}
)
SELECT l.l_returnflag,
       CAST(count(*) AS BIGINT) AS n_bloom_kept,
       CAST(count(h.o_orderkey) AS BIGINT) AS n_true
FROM lineitem l
JOIN hitkeys USING (l_orderkey)
LEFT JOIN hot h ON l.l_orderkey = h.o_orderkey
GROUP BY l.l_returnflag
"""


@register_extra("x_sketch_bloom_prefilter", oracle=_bloom_prefilter_oracle())
def x_sketch_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom join-pruning: the 100 TB use of the sketch. A filter
    built on the dimension side's join keys (hot orders) prunes the
    fact table (lineitem) at SCAN SPEED — no shuffle, no semi-join —
    before the exact join runs on the survivors. Per returnflag:
    rows the bloom kept vs rows truly joining; the gap is the
    false-positive carryover the exact join still removes, bounded by
    (1-e^(-kn/m))^k with m sized to n (2^18 bits = a 32 KiB broadcast
    bitmap — the whole point: 100 TB pruned by 32 KiB).

    Spark shape: position table folded to ≤m/64 bit-or words in
    Spark, collected as bounded model state, broadcast as a numpy
    bitmap; JVM-side md5 positions + one Arrow-batched vectorized
    bit-gather per batch (sketch.bloom_prefilter). The oracle
    recomputes every bit position and the exact join."""
    ensure_harness_conf(spark)
    from .operators import sketch

    m, k = 1 << 18, 5
    hot = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 250000)
        .select("o_orderkey")
    )
    bloom = sketch.bloom_build(hot, "o_orderkey", m=m, k=k)
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    kept = sketch.bloom_prefilter(li, bloom, "l_orderkey", m=m, k=k)
    return (
        kept.join(
            F.broadcast(hot.withColumn("_h", F.lit(1))),
            kept["l_orderkey"] == hot["o_orderkey"],
            "left",
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bloom_kept"),
            F.count("_h").cast("long").alias("n_true"),
        )
    )


# ---------------------------------------------------------------------------
# Exact heavy hitters (Misra-Gries candidate screen + exact recount)
# ---------------------------------------------------------------------------


@register_extra(
    "x_sketch_heavy_hitters",
    oracle="""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS t
  FROM documents
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok)
SELECT t AS token, CAST(count(*) AS BIGINT) AS cnt
FROM tok, n
GROUP BY t, n.n
-- exact rational threshold: cnt >= ceil(phi*N) for integer cnt is
-- cnt*q >= p*N with phi = 0.002 = 1/500 exactly (shortest-decimal
-- interpretation, mirroring frequent_items_exact's Fraction(str(phi)))
HAVING CAST(count(*) AS HUGEINT) * 500 >= CAST(1 AS HUGEINT) * n.n
""",
)
def x_sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi=0.002 heavy-hitter tokens over the corpus token
    stream via the two-pass Misra-Gries screen (operators/sketch.py
    frequent_items_exact): per-partition k=500-counter summaries give
    a provably complete candidate set (union error < N/(k+1) < phi*N),
    then a broadcast-semi-joined exact recount — the output is the
    same multiset a full GROUP BY ... HAVING would produce, without
    shuffling the full distinct-token cardinality. The scale
    counterpart of x_text_vocab_topk's exact full agg."""
    ensure_harness_conf(spark)
    from .operators.dedup import tokens
    from .operators.sketch import frequent_items_exact
    from .io import fan_out

    docs = load(spark, sf_dir, "documents")
    tok = fan_out(docs).select(
        F.explode(tokens(F.col("text"))).alias("token")
    )
    return frequent_items_exact(tok, "token", phi=0.002)


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
