"""Graphs (PageRank, k-hop), file sources, stream-stream join, governance.

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
from .queries_text_mm_stream import _run_stream, _stage_events_dir  # noqa: F401


# ---------------------------------------------------------------------------
# Graph centrality: PageRank
# ---------------------------------------------------------------------------


def _pagerank_oracle(iters: int = 3, damping: float = 0.85, k: int = 20) -> str:
    base = repr(1.0 - damping)  # exact IEEE literal (1-0.85 != 0.15)
    rounds = []
    for i in range(iters):
        rounds.append(
            f"""c{i} AS (
  SELECT e.dst AS node, round(r.rank / CAST(d.deg AS DOUBLE), 6) AS c
  FROM r{i} r JOIN e ON e.src = r.node JOIN deg d ON d.src = e.src
),
g{i} AS (
  SELECT node, CAST(sum(CAST(c AS DECIMAL(38,6))) AS DOUBLE) AS s
  FROM c{i} GROUP BY node
),
r{i + 1} AS (
  SELECT nodes.node,
         round({base} / CAST(n AS DOUBLE) + {damping} * coalesce(g.s, 0.0), 6) AS rank
  FROM nodes LEFT JOIN g{i} g USING (node) CROSS JOIN nn
)"""
        )
    return f"""
WITH sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
e AS (
  SELECT 's:' || CAST(l_suppkey AS VARCHAR) AS src,
         'p:' || CAST(l_partkey AS VARCHAR) AS dst FROM sp
  UNION ALL
  SELECT 'p:' || CAST(l_partkey AS VARCHAR),
         's:' || CAST(l_suppkey AS VARCHAR) FROM sp
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e
  )
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
r0 AS (
  SELECT node, round(1.0 / CAST(n AS DOUBLE), 6) AS rank
  FROM nodes CROSS JOIN nn
),
{",".join(rounds)}
SELECT node, rank, CAST(rk AS BIGINT) AS rk FROM (
  SELECT node, rank,
         row_number() OVER (ORDER BY rank DESC, node) AS rk
  FROM r{iters}
) WHERE rk <= {k}
"""


@register_extra("x_graph_pagerank", oracle=_pagerank_oracle())
def x_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the supplier↔part bipartite graph
    (edges = distinct lineitem supplier-part pairs, both directions):
    the importance signal that picks canonical entities and weights
    linked training data — the companion to connected-components'
    identity signal. Three iterations, every rank 6dp-quantized and
    every gather decimal-summed (the Lloyd determinism recipe for
    iterative algorithms), so the oracle unrolls the SAME iterations
    CTE-for-CTE and the final top-20 hash-matches. Per iteration: one
    ranks⋈edges join keyed the same way every round + one hash agg —
    no driver state."""
    ensure_harness_conf(spark)
    from .operators import graph

    sp = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey").distinct()
    fwd = sp.select(
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    bwd = sp.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    ranks = graph.pagerank(fwd.unionAll(bwd), iters=3, damping=0.85)
    w = W.orderBy(F.col("rank").desc(), "node")
    return (
        ranks.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 20)
        .select("node", "rank", "rk")
    )


# ---------------------------------------------------------------------------
# Interchange sources: CSV / JSON-lines round-trips
# ---------------------------------------------------------------------------

_ROUNDTRIP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("price_cents"),
    )


@register_extra("x_source_csv_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def x_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV interchange round-trip: write lineitem's flag/status/price
    columns to a header CSV, read them back through the SCHEMA-FIRST
    source (no inference pass — CSV carries no types; PERMISSIVE so
    malformed rows surface as NULLs, not job kills), and aggregate.
    The oracle reads the original parquet — any serialization drift
    (quoting, null encoding, float text round-trip) breaks the hash.
    Prices compare as exact integer cents: float→text→float is only
    trusted where it is provably exact."""
    ensure_harness_conf(spark)
    import shutil
    import tempfile

    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    from .io import read_csv, write_csv

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    out = tempfile.mkdtemp(prefix="csv_rt_")
    try:
        write_csv(li, out)
        schema = StructType(
            [
                StructField("l_returnflag", StringType()),
                StructField("l_linestatus", StringType()),
                StructField("l_extendedprice", DoubleType()),
            ]
        )
        back = read_csv(spark, out, schema)
        return _roundtrip_agg(back).localCheckpoint()
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register_extra("x_source_jsonl_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def x_source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines interchange round-trip (the training-data export
    format): same schema-first read-back and exact-cents compare as
    the CSV twin."""
    ensure_harness_conf(spark)
    import shutil
    import tempfile

    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    from .io import read_jsonl, write_jsonl

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    out = tempfile.mkdtemp(prefix="jsonl_rt_")
    try:
        write_jsonl(li, out)
        schema = StructType(
            [
                StructField("l_returnflag", StringType()),
                StructField("l_linestatus", StringType()),
                StructField("l_extendedprice", DoubleType()),
            ]
        )
        back = read_jsonl(spark, out, schema)
        return _roundtrip_agg(back).localCheckpoint()
    finally:
        shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# Window-function suite, TPC-H-style relational breadth
# ---------------------------------------------------------------------------


@register(
    "x_stream_stream_join",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es
  FROM events
),
c AS (SELECT event_id, user_id, es FROM e WHERE event_type = 'click'),
p AS (SELECT event_id, user_id, es FROM e WHERE event_type = 'purchase'),
pairs AS (
  SELECT c.user_id
  FROM c JOIN p ON p.user_id = c.user_id
   AND p.es >= c.es AND p.es <= c.es + 3600
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY user_id
""",
)
def x_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join — the last missing face of the
    streaming surface (tumbling/sliding/session windows, stateful
    stats, stream-static enrichment, LWW sink, and dedup are covered;
    this is two UNBOUNDED sides joined on key + time range): clicks
    joined to same-user purchases within the following hour. Both
    sides carry watermarks, so the state store holds only the
    time-bound horizon per key — the join is feasible precisely
    because the range condition lets Spark expire click state once
    the purchase-side watermark passes click_time + 1h. Joined pairs
    stream out in append mode; the per-user pair counts are the
    batch-checkable result (oracle = the equivalent batch interval
    join, second-grain)."""
    ensure_harness_conf(spark)
    import shutil

    from .streaming.ingest import EVENTS_SCHEMA, with_event_time

    stage = _stage_events_dir(spark, sf_dir)
    try:
        def side(tag: str, typ: str):
            s = spark.readStream.schema(EVENTS_SCHEMA).parquet(stage)
            s = with_event_time(s).filter(F.col("event_type") == typ)
            return (
                s.withWatermark("event_time", "3650 days")
                .select(
                    F.col("event_id").alias(f"{tag}_id"),
                    F.col("user_id").alias(f"{tag}_user"),
                    F.col("event_time").alias(f"{tag}_time"),
                )
            )

        clicks = side("c", "click")
        purchases = side("p", "purchase")
        joined = clicks.join(
            purchases,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("p_time") >= F.col("c_time"))
            & (F.col("p_time") <= F.col("c_time") + F.expr("INTERVAL 1 HOUR")),
        ).select(F.col("c_user").alias("user_id"))
        out = _run_stream(spark, joined, "append")
        return (
            out.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


# ---------------------------------------------------------------------------
# Distribution moments, association rules, time-weighted average
# ---------------------------------------------------------------------------


@register_extra(
    "x_moments_value",
    oracle="""
WITH q AS (
  SELECT event_type, CAST(round(value * 1000000, 0) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
),
s AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(y AS HUGEINT)) AS s1,
         sum(CAST(y AS HUGEINT) * y) AS s2,
         sum(CAST(y AS HUGEINT) * y * y) AS s3,
         sum(CAST(CAST(y AS HUGEINT) * y AS HUGEINT) * CAST(CAST(y AS HUGEINT) * y AS HUGEINT)) AS s4
  FROM q GROUP BY event_type
),
d AS (
  SELECT event_type, n,
         CAST(n AS DOUBLE) AS nd,
         CAST(s1 AS DOUBLE) / 1000000.0 AS d1,
         CAST(s2 AS DOUBLE) / 1000000000000.0 AS d2,
         CAST(s3 AS DOUBLE) / 1000000000000000000.0 AS d3,
         CAST(s4 AS DOUBLE) / 1e24 AS d4
  FROM s
),
m AS (
  SELECT event_type, n, d1 / nd AS mean,
         d2 / nd - (d1 / nd) * (d1 / nd) AS var_p,
         d3 / nd AS m3r, d4 / nd AS m4r, d1 / nd AS mu, nd
  FROM d
)
SELECT event_type, n,
       round(mean, 6) AS mean,
       round(var_p, 6) AS var_p,
       round((m3r - 3.0 * mu * var_p - mu * mu * mu)
             / (sqrt(var_p) * var_p), 6) AS skewness,
       round((m4r - 4.0 * mu * m3r + 6.0 * mu * mu * var_p
              + 3.0 * mu * mu * mu * mu)
             / (var_p * var_p), 6) AS kurtosis
FROM m
""",
)
def x_moments_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution sketch from EXACT integer power sums: per-type
    mean, population variance, skewness, kurtosis — all derived from
    (n, Σy, Σy², Σy³, Σy⁴) over 6dp-quantized values, the fully
    MERGEABLE alternative to a quantile sketch (power sums add across
    batches/partitions like the aggstate counts do, and the moments
    finish at read time). One hash agg; the double math is one fixed
    expression tree both engines share, so even the third and fourth
    standardized moments hash-match. Spark side sums in
    DECIMAL(38,0) (y⁴ of 6dp-quantized values needs ~36 digits),
    DuckDB in HUGEINT×HUGEINT."""
    ensure_harness_conf(spark)
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d38 = "decimal(38,0)"
    y = F.round(F.col("value") * 1000000, 0).cast("long")
    q = ev.select("event_type", y.alias("y"))
    yq = F.col("y").cast(d38)
    y2 = (yq * yq).cast(d38)
    s = q.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(yq).alias("s1"),
        F.sum(y2).alias("s2"),
        F.sum((y2 * yq).cast(d38)).alias("s3"),
        F.sum((y2 * y2).cast(d38)).alias("s4"),
    )
    nd = F.col("n").cast("double")
    d1 = F.col("s1").cast("double") / F.lit(1000000.0)
    d2 = F.col("s2").cast("double") / F.lit(1000000000000.0)
    d3 = F.col("s3").cast("double") / F.lit(1000000000000000000.0)
    d4 = F.col("s4").cast("double") / F.lit(1e24)
    mu = d1 / nd
    var_p = d2 / nd - mu * mu
    m3r = d3 / nd
    m4r = d4 / nd
    skew = (m3r - F.lit(3.0) * mu * var_p - mu * mu * mu) / (
        F.sqrt(var_p) * var_p
    )
    kurt = (
        m4r
        - F.lit(4.0) * mu * m3r
        + F.lit(6.0) * mu * mu * var_p
        + F.lit(3.0) * mu * mu * mu * mu
    ) / (var_p * var_p)
    return s.select(
        "event_type",
        "n",
        F.round(mu, 6).alias("mean"),
        F.round(var_p, 6).alias("var_p"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis"),
    )


# ---------------------------------------------------------------------------
# OHLC downsampling
# ---------------------------------------------------------------------------


@register_extra(
    "x_ohlc_downsample",
    oracle="""
WITH e AS (
  SELECT user_id, value,
         CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es, event_id
  FROM events WHERE value IS NOT NULL
),
b AS (
  SELECT user_id,
         CAST(floor(es / 600.0) AS BIGINT) * 600 AS bucket_start,
         value, es, event_id
  FROM e
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, bucket_start
                            ORDER BY es, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id, bucket_start) AS n
  FROM b
)
SELECT user_id, bucket_start,
       max(CASE WHEN rn = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn = n THEN value END) AS close,
       CAST(count(*) AS BIGINT) AS n_obs
FROM r GROUP BY user_id, bucket_start
""",
)
def x_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute OHLC candles of `value` per user with the
    (epoch, event_id) total order: tie resolution decomposed into a
    first hash aggregate on (user, bucket, epoch) so BOTH levels stay
    HashAggregate — a struct-ordered min_by would silently degrade to
    SortAggregate and re-sort the input (pytest-pinned). The oracle
    proves the same result via the row_number formulation the engine
    never pays. Values are untouched doubles → exact."""
    ensure_harness_conf(spark)
    from .operators.resample import downsample_ohlc

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    e = ev.select(
        "user_id", "value", ep.epoch_s(ev).alias("es"), "event_id"
    )
    return downsample_ohlc(
        e, ["user_id"], "es", "value", width=600, tiebreak_col="event_id"
    )


# ---------------------------------------------------------------------------
# k-hop reachability, join cardinality report
# ---------------------------------------------------------------------------


@register_extra(
    "x_graph_khop",
    oracle="""
WITH RECURSIVE e AS (
  SELECT concat('s:', CAST(l_suppkey AS VARCHAR)) AS src,
         concat('p:', CAST(l_partkey AS VARCHAR)) AS dst
  FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
  UNION ALL
  SELECT concat('p:', CAST(l_partkey AS VARCHAR)),
         concat('s:', CAST(l_suppkey AS VARCHAR))
  FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
),
walk(node, d) AS (
  SELECT concat('s:', CAST(s_suppkey AS VARCHAR)), 0
  FROM supplier WHERE s_suppkey < 3
  UNION
  SELECT e.dst, w.d + 1
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.d < 4
)
SELECT node, CAST(min(d) AS BIGINT) AS dist
FROM walk GROUP BY node
""",
)
def x_graph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded 4-hop BFS over the supplier↔part bipartite graph from
    the 3 lowest-id suppliers: minimum hop distance per reachable
    node (operators/graph.bfs_khop — frontier expansion with
    anti-join settling, each edge traversed at most once per
    discovery). The oracle is a recursive CTE whose UNION dedup keeps
    the walk polynomial; the engine's frontier invariant guarantees
    the same minimum distances without enumerating walks at all —
    which is why the frontier plan, not the recursive SQL, is what
    survives at 100 TB."""
    ensure_harness_conf(spark)
    from .operators import graph

    sp = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey").distinct()
    fwd = sp.select(
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    bwd = sp.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    seeds = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") < 3)
        .select(F.concat(F.lit("s:"), F.col("s_suppkey").cast("string")).alias("node"))
    )
    return graph.bfs_khop(fwd.unionByName(bwd), seeds, max_hops=4)


@register_extra(
    "x_join_cardinality_report",
    oracle="""
WITH ca AS (
  SELECT CAST(o_custkey AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n_left
  FROM orders GROUP BY o_custkey
),
cb AS (
  SELECT CAST(user_id AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n_right
  FROM events GROUP BY user_id
),
j AS (
  SELECT ca.key, n_left, n_right, n_left * n_right AS n_pairs
  FROM ca JOIN cb USING (key)
),
hot AS (
  SELECT key, n_left, n_right, n_pairs FROM (
    SELECT *, row_number() OVER (ORDER BY n_pairs DESC, key) AS rk FROM j
  ) WHERE rk <= 10
)
SELECT key, n_left, n_right, n_pairs FROM hot
UNION ALL
SELECT '__total__', CAST(sum(n_left) AS BIGINT), CAST(sum(n_right) AS BIGINT),
       CAST(sum(n_pairs) AS BIGINT)
FROM j
""",
)
def x_join_cardinality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality forecast (operators/skew.
    join_cardinality_report): the exact inner-join output size of
    orders⋈events on the customer/user key plus the ten hottest keys
    — computed from two key-grain aggregates WITHOUT materializing
    the join it predicts. The operational guard before any expensive
    join: a pathological key shows up here as a giant n_pairs row
    (feeding the salting/AQE decision) instead of as a straggler
    task an hour into the job."""
    ensure_harness_conf(spark)
    from .operators.skew import join_cardinality_report

    return join_cardinality_report(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "events"),
        "o_custkey",
        "user_id",
        top=10,
    )


# ---------------------------------------------------------------------------
# SQL front door: native recursive CTE (Spark 4 WITH RECURSIVE)
# ---------------------------------------------------------------------------

_KHOP_RECURSIVE_SQL = """
WITH RECURSIVE reach(node, level) AS (
  SELECT {seed}, 0
  UNION ALL
  SELECT DISTINCT e.dst, t.level + 1
  FROM reach t JOIN {edges} e ON e.src = t.node
  WHERE t.level < {max_level}
)
SELECT node, CAST(min(level) AS INT) AS level
FROM reach GROUP BY node
"""


@register(
    "x_sql_recursive_khop",
    oracle="""
WITH sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
e AS (
  SELECT 's:' || CAST(l_suppkey AS VARCHAR) AS src,
         'p:' || CAST(l_partkey AS VARCHAR) AS dst FROM sp
  UNION ALL
  SELECT 'p:' || CAST(l_partkey AS VARCHAR),
         's:' || CAST(l_suppkey AS VARCHAR) FROM sp
)
SELECT node, CAST(min(level) AS INT) AS level FROM (
  WITH RECURSIVE reach(node, level) AS (
    SELECT 's:0', 0
    UNION ALL
    SELECT DISTINCT e.dst, t.level + 1
    FROM reach t JOIN e ON e.src = t.node
    WHERE t.level < 3
  )
  SELECT * FROM reach
) GROUP BY node
""",
)
def x_sql_recursive_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE through the SQL front door: WITH RECURSIVE runs
    NATIVELY in Spark 4 (iterative union-loop execution inside the
    engine), here computing 3-hop BFS distances over the supplier⇄part
    bipartite graph from seed 's:0' — the same traversal
    operators/graph.khop_bfs builds imperatively with a driver loop.
    The recursive step is a pure equi join (the OR-disjunction
    formulation would degrade to a nested loop; the edge relation is
    pre-oriented as src→dst instead), the per-iteration DISTINCT
    bounds each frontier by the node count, and level < 3 terminates
    the fixpoint. min(level) per node turns path enumeration into BFS
    distance. The oracle is DuckDB's own recursive CTE over the
    identical edge relation — engine-to-engine recursion parity."""
    ensure_harness_conf(spark)
    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey").distinct()
    edges = li.select(
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("dst"),
    ).union(
        li.select(
            F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
    )
    view = f"khop_edges_{uuid.uuid4().hex[:8]}"
    edges.createOrReplaceTempView(view)
    try:
        return spark.sql(
            _KHOP_RECURSIVE_SQL.format(seed="'s:0'", edges=view, max_level=3)
        ).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(view)
