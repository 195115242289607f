"""Driver-facing query registry (SURVEY §2 inventory → named queries).

Every implemented operator from SURVEY.md §2 appears here as a named
query over the fixture tables plus, where SQL-expressible, an exact
DuckDB oracle. Column names/aliases match 1:1 between the Spark query
and the oracle SQL (the driver sorts columns by name before hashing).

Determinism rules used throughout (so exact value-hashes match):
- double SUM/AVG over groups: sum in DECIMAL(38,6) (exact, order-free)
  then cast back to DOUBLE → identical bits in Spark and DuckDB.
- rolling/window FP results computed via different algorithms on the
  two engines are rounded to 6 decimals on both sides.
- timestamps exposed as ISO strings (UTC both sides), never raw.
- row_number/count exposed as BIGINT on both sides.

The ``streams`` derivation: the `events` fixture plays the reference's
activity sensor streams (FIXTURES.md) — `user_id`→activity_id and a
deterministic sparse integer `time_key` built from a running sum of
1 + event_id % 3 (gaps of 1-3 s like paused recordings), so the spine
join (J1/J2) and interpolation (W2) have real work to do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .session import ensure_harness_conf
from .io import load
# the registry core, re-exported (queries_common says why it lives there)
from .queries_common import (  # noqa: F401
    DRIVER_QUERY_CAP,
    EXTRA_ORACLES,
    EXTRA_QUERIES,
    ORACLES,
    QUERIES,
    STREAMS_SQL,
    QueryFn,
    _r6,
    register,
    register_extra,
    streams,
)
from .operators import resample, rolling
from .operators.assemble import collect_samples
from .functions import scalars
from .functions import epoch as ep

#: DuckDB-side epoch seconds — epoch_ns() accepts both physical
#: encodings of events.ts (TIMESTAMP_NS and TIMESTAMP) identically.
#: The Spark side dispatches on the actual dtype instead: functions/
#: epoch.py (bigint-nanos under nanosAsLong vs TIMESTAMP_NTZ from
#: timestamp[us] fixtures).
EPOCH_DUCK = "CAST(epoch_ns(ts) // 1000000000 AS BIGINT)"


def _dsum(c: F.Column | str) -> F.Column:
    """Order-independent double SUM: exact DECIMAL(38,6) accumulation,
    then one deterministic cast back to double — bit-equal to DuckDB's
    SUM(CAST(x AS DECIMAL(38,6)))::DOUBLE regardless of partial-agg
    order."""
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(col.cast("decimal(38,6)")).cast("double")


def _tri_list_sql(w: int, col: str) -> str:
    """DuckDB frame-list formula for a triangular trailing mean of width
    w — compact at any w (the lag formula explodes at w=1200): weights
    generated arithmetically (odd w=2m-1: m-|j-m|; even w=2m:
    2·min(j,w+1-j)-1 — symmetric, so frame orientation is irrelevant),
    applied to `list(col) OVER` the trailing w-row frame; NULL while the
    frame holds fewer than w rows (min_periods)."""
    if w == 1:
        return col
    lst = f"l_{col}_{w}"
    if w % 2 == 1:
        m = (w + 1) // 2
        wt = f"({m} - abs(j - {m}))"
        norm = float(m * m)
    else:
        m = w // 2
        wt = f"(2 * least(j, {w + 1} - j) - 1)"
        norm = float(2 * m * m)
    return (
        f"CASE WHEN len({lst}) = {w} THEN "
        f"list_reduce(list_transform(generate_series(1, {w}), j -> {lst}[j] * {wt}), "
        f"(a, b) -> a + b) / {norm} END"
    )


# ---------------------------------------------------------------------------
# 2.A  Sources / scans / sinks
# ---------------------------------------------------------------------------


@register(
    "a1_incremental_scan",
    oracle=f"""
SELECT event_id, user_id, {EPOCH_DUCK} AS epoch_s, value
FROM events
WHERE {EPOCH_DUCK} > 1705276800
ORDER BY epoch_s DESC, event_id DESC
LIMIT 100
""",
)
def a1_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/T1/S1: watermark-filtered top-N scan (reference
    strava_sdk.py:85-111 `after=max_time`, `per_page`). Catalyst turns
    orderBy+limit into TakeOrderedAndProject; the epoch filter is
    pushed toward the scan."""
    ensure_harness_conf(spark)
    from .operators.incremental import incremental_scan

    ev = load(spark, sf_dir, "events")
    ev = ev.withColumn("epoch_s", ep.epoch_s(ev))
    return incremental_scan(
        ev, "epoch_s", 1705276800, per_page=100, tiebreak=["event_id"]
    ).select("event_id", "user_id", "epoch_s", "value")


@register(
    "a2_a4_lookups",
    oracle="""
SELECT event_id, user_id, event_type, value, props, 'point' AS op
FROM events WHERE event_id = 123
UNION ALL
SELECT event_id, user_id, event_type, value, props, 'batch' AS op
FROM events WHERE event_id IN (7,11,13,17,19,23)
""",
)
def a2_a4_lookups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+A4: single-key point lookup (reference strava_sdk.py:113-128)
    and the loop-of-point-lookups → one IN-filter scan (reference
    strava_sdk.py:183-201), tagged by path. Both predicates push into
    the parquet scan (PushedFilters: EqualTo / In)."""
    ensure_harness_conf(spark)
    ev = load(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "value", "props"]
    point = ev.filter(F.col("event_id") == 123).select(*cols, F.lit("point").alias("op"))
    batch = ev.filter(F.col("event_id").isin([7, 11, 13, 17, 19, 23])).select(
        *cols, F.lit("batch").alias("op")
    )
    return point.unionByName(batch)


@register(
    "a3_stream_align",
    oracle=f"""
WITH s AS ({STREAMS_SQL}),
g AS (SELECT activity_id,
             list(time_key ORDER BY time_key) AS tks,
             list(value    ORDER BY time_key) AS vs
      FROM s GROUP BY activity_id)
SELECT activity_id, tks[i] AS time_key, vs[i] AS v,
       CASE WHEN i = 1 OR i = len(tks) THEN NULL
            WHEN activity_id % 2 = 0 THEN vs[i] * 2
            ELSE NULL END AS v2,
       TRUE AS original
FROM g, LATERAL (SELECT unnest(generate_series(1, len(tks))) AS i) u
""",
)
def a3_stream_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: the full stream-payload alignment (reference
    strava_sdk.py:130-181) — positional zip of parallel series where a
    series missing from the payload is NULL-padded to ``original_size``
    (odd activities lack the second series here), plus the derived
    ``original = TRUE`` flag and the first/last endpoint privacy mask
    (W3, strava_sdk.py:175-176). All generator/array built-ins — the
    null-pad is a ``transform`` to NULL, free at any scale."""
    ensure_harness_conf(spark)
    s = streams(spark, sf_dir)
    g = s.groupBy("activity_id").agg(
        F.array_sort(F.collect_list(F.struct("time_key", "value"))).alias("arr")
    )
    g = g.select(
        "activity_id",
        F.transform("arr", lambda x: x.time_key).alias("tks"),
        F.transform("arr", lambda x: x.value).alias("vs"),
    ).withColumn(
        "vs2",
        F.when(
            F.col("activity_id") % 2 == 0,
            F.transform("vs", lambda v: v * 2),
        ).otherwise(
            # missing series → [NULL] * original_size (strava_sdk.py:154-155)
            F.transform("tks", lambda _: F.lit(None).cast("double"))
        ),
    )
    z = g.select(
        "activity_id",
        F.size("tks").alias("_n"),
        F.posexplode(F.arrays_zip("tks", "vs", "vs2")).alias("pos", "z"),
    )
    return z.select(
        "activity_id",
        F.col("z.tks").alias("time_key"),
        F.col("z.vs").alias("v"),
        F.when(
            (F.col("pos") == 0) | (F.col("pos") == F.col("_n") - 1), F.lit(None)
        )
        .otherwise(F.col("z.vs2"))
        .alias("v2"),
        F.lit(True).alias("original"),
    )


@register(
    "a5_watermark_readback",
    oracle=f"""
SELECT user_id, CAST(coalesce(max({EPOCH_DUCK}), 0) AS BIGINT) AS watermark_epoch
FROM events GROUP BY user_id
""",
)
def a5_watermark_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/G1/T2 + P7: ALL users' watermarks in one aggregation instead
    of the reference's per-user `SELECT max(epoch)` loop
    (main.py:187-197,199-203)."""
    ensure_harness_conf(spark)
    ev = load(spark, sf_dir, "events")
    ev = ev.withColumn("epoch_s", ep.epoch_s(ev))
    from .operators.incremental import watermark

    return watermark(ev, "user_id", "epoch_s")


@register_extra(
    "g1_filtered_max",
    oracle=f"""
SELECT CAST(coalesce(max(CASE WHEN user_id = 1 THEN {EPOCH_DUCK} END), 0) AS BIGINT) AS watermark_epoch,
       CAST(coalesce(max(CASE WHEN user_id = -999 THEN {EPOCH_DUCK} END), 0) AS BIGINT) AS cold_start_epoch
FROM events
""",
)
def g1_filtered_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/T2: the reference's exact single-user watermark shape —
    `SELECT max(epoch) WHERE username = ?`, empty→0 (main.py:187-197)
    — plus the cold-start (no rows → 0) branch in the same pass.
    Bound `lit()` predicate, not the reference's injection-prone
    f-string SQL (§2.K item 7)."""
    ensure_harness_conf(spark)
    ev = load(spark, sf_dir, "events")
    ev = ev.withColumn("epoch_s", ep.epoch_s(ev))
    return ev.agg(
        F.coalesce(
            F.max(F.when(F.col("user_id") == F.lit(1), F.col("epoch_s"))), F.lit(0)
        )
        .cast("long")
        .alias("watermark_epoch"),
        F.coalesce(
            F.max(F.when(F.col("user_id") == F.lit(-999), F.col("epoch_s"))), F.lit(0)
        )
        .cast("long")
        .alias("cold_start_epoch"),
    )


@register(
    "s1_incremental_ingest",
    oracle=f"""
WITH ev AS (SELECT event_id, user_id, {EPOCH_DUCK} AS epoch_s FROM events),
wm AS (SELECT user_id, CAST(coalesce(max(epoch_s), 0) AS BIGINT) AS watermark_epoch
       FROM ev WHERE epoch_s <= 1705276800 GROUP BY user_id)
SELECT e.user_id,
       CAST(count(*) AS BIGINT) AS n_new,
       CAST(max(e.epoch_s) AS BIGINT) AS new_watermark
FROM ev e LEFT JOIN wm w ON e.user_id = w.user_id
WHERE e.epoch_s > coalesce(w.watermark_epoch, 0)
GROUP BY e.user_id
""",
)
def s1_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 end-to-end: per-user watermark read-back from the "already
    loaded" half of the data (epoch <= cutoff plays the sink), then the
    incremental load of strictly-newer rows and the advanced watermark
    — the reference's resume loop (main.py:28,187-197) as ONE set-based
    job. The watermark side is a bounded per-user aggregate →
    broadcast; the big side never shuffles for the join."""
    ensure_harness_conf(spark)
    from .operators.incremental import watermark

    ev = load(spark, sf_dir, "events")
    ev = ev.select("event_id", "user_id", ep.epoch_s(ev).alias("epoch_s"))
    sink = ev.filter(F.col("epoch_s") <= 1705276800)
    wm = watermark(sink, "user_id", "epoch_s")
    return (
        ev.join(F.broadcast(wm), "user_id", "left")
        .filter(F.col("epoch_s") > F.coalesce(F.col("watermark_epoch"), F.lit(0)))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_new"),
            F.max("epoch_s").cast("long").alias("new_watermark"),
        )
    )


@register_extra(
    "t1_topn_page",
    oracle="""
SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
FROM events
WHERE CAST(epoch_us(ts) AS BIGINT) > 1705276800000000
ORDER BY ts_us DESC
LIMIT 25
""",
)
def t1_topn_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: page-1 top-N after the watermark via the incremental_scan
    operator (reference strava_sdk.py:100 `per_page`, page=1).
    orderBy+limit compiles to TakeOrderedAndProject — a per-partition
    heap + driver merge of N rows, never a full sort. Compared at
    microsecond grain (unique in the fixtures; DuckDB truncates
    TIMESTAMP_NS to µs on read, so ns values would never hash-match)."""
    ensure_harness_conf(spark)
    from .operators.incremental import incremental_scan

    ev = load(spark, sf_dir, "events")
    ev = ev.select("event_id", "user_id", ep.epoch_us(ev).alias("ts_us"))
    return incremental_scan(ev, "ts_us", 1705276800000000, per_page=25)


@register(
    "a6_a7_user_lookup",
    oracle="""
SELECT c_custkey, c_name, 'scan' AS op FROM customer
UNION ALL
SELECT c_custkey, c_name, 'lookup' AS op FROM customer
WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000
UNION ALL
SELECT CAST(count(*) AS BIGINT) AS c_custkey,
       c_mktsegment || ':' ||
         CAST((SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) > 0) AS VARCHAR) AS c_name,
       'exists' AS op
FROM customer GROUP BY c_mktsegment
UNION ALL
SELECT CAST(count(*) AS BIGINT) AS c_custkey,
       'purchase_gt_190:' || CAST(count(*) > 0 AS VARCHAR) AS c_name,
       'exists' AS op
FROM events WHERE event_type = 'purchase' AND value > 190
""",
)
def a6_a7_user_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+A7+N12+G3: full keyed scan with key projection (reference
    firebase_functions.py:30-35 get_all_users), the 1-2-predicate
    filtered lookup (reference firebase_functions.py:37-45), and the
    existence predicates at both reference shapes — the per-group
    `len(result) > 0` probe (firebase_functions.py:101-130) and the
    filter-then-count existence check (firebase_functions.py:106-128)
    — all union-tagged by `op`. Column pruning reaches the scan on
    every branch; the lookup predicates push down; the existence
    branches are single partial+final hash aggs. (The standalone
    N12/G3 query shape remains as extra `n12_g3_existence`.)"""
    ensure_harness_conf(spark)
    c = load(spark, sf_dir, "customer")
    scan = c.select("c_custkey", "c_name", F.lit("scan").alias("op"))
    lookup = (
        c.filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 1000))
        .select("c_custkey", "c_name", F.lit("lookup").alias("op"))
    )
    seg = (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c_custkey"),
            (F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0)) > 0).alias("_ex"),
        )
        .select(
            "c_custkey",
            F.concat(F.col("c_mktsegment"), F.lit(":"), F.col("_ex").cast("string")).alias(
                "c_name"
            ),
            F.lit("exists").alias("op"),
        )
    )
    ev = load(spark, sf_dir, "events")
    glob = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 190))
        .agg(F.count(F.lit(1)).cast("long").alias("c_custkey"))
        .select(
            "c_custkey",
            F.concat(F.lit("purchase_gt_190:"), (F.col("c_custkey") > 0).cast("string")).alias(
                "c_name"
            ),
            F.lit("exists").alias("op"),
        )
    )
    return scan.unionByName(lookup).unionByName(seg).unionByName(glob)


@register(
    "a9_s4_upsert_sinks",
    oracle="""
WITH lww AS (
  SELECT user_id, event_id, event_type, value FROM (
    SELECT user_id, event_id, event_type, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
),
app AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_appended FROM (
    SELECT DISTINCT event_id, user_id FROM (
      SELECT event_id, user_id FROM events
      UNION ALL SELECT event_id, user_id FROM events
    )
  ) GROUP BY user_id
)
SELECT l.user_id, l.event_id, l.event_type, l.value, a.n_appended
FROM lww l JOIN app a USING (user_id)
""",
)
def a9_s4_upsert_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/S2 + S4/A8 — both sink disciplines in one driver row: keyed
    last-writer-wins upsert (the Firestore whole-document `set()`,
    reference firebase_functions.py:54-62, as a row_number dedup;
    events play per-user state updates) joined with the idempotent
    re-delivery dedup count (a twice-delivered batch deduped on the
    business key before the sink — fixes reference main.py:157,180
    at-least-once append). Each side is one hash-partitioned pass on
    user_id; the join reuses that partitioning. (The standalone S4
    query shape remains as extra `s4_idempotent_append`.)"""
    ensure_harness_conf(spark)
    from .operators.upsert import idempotent_append, upsert_last_writer_wins

    ev = load(spark, sf_dir, "events")
    merged = upsert_last_writer_wins(None, ev, "user_id", "ts")
    ids = ev.select("event_id", "user_id")
    deduped = idempotent_append(ids.unionByName(ids), None, "event_id")
    counts = deduped.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_appended")
    )
    return merged.select("user_id", "event_id", "event_type", "value").join(
        counts, "user_id"
    )


# ---------------------------------------------------------------------------
# 2.B  Projections / scalar expressions / predicates
# ---------------------------------------------------------------------------


@register(
    "n1_n5_n6_n13_normalize",
    oracle="""
SELECT doc_id,
       coalesce(nullif(source, 'src0'), 'na') AS source_or_na,
       coalesce(json_extract(props, '$.k')::BIGINT, -1) AS k,
       coalesce(json_extract(props, '$.missing')::BIGINT, -1) AS missing_k,
       nullif(source, 'src0') AS source_nulled,
       CAST(n_chars AS VARCHAR) AS n_chars_str,
       coalesce(length(nullif(source, 'src0')) > 4, false) AS connected,
       to_base64(from_hex(md5(source))) AS pw_hash
FROM documents
JOIN events ON events.event_id = documents.doc_id
""",
)
def n1_n5_n6_n13_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1+N5+N6+N13+N11+N9 — the normalization scalar layer in one
    projection: try/except-style defaulting → coalesce (reference
    strava_sdk.py:203-293) incl. permissive JSON field probes (the
    users dynamic-document pattern, firebase_functions.py:68-77);
    sentinel→NULL normalization and cast-to-string (reference
    main.py:65-68); the null-safe strava-connected length predicate
    defaulting False (reference firebase_functions.py:132-140); and
    the md5+base64 password hash (firebase_functions.py:19-28, sane
    semantics per SURVEY §2.K-6). The 8-column output over the
    10+-column join input is itself the N9 column-subset projection
    (reference main.py:71-73) — pruning reaches both scans
    (ReadSchema). All scan-speed column expressions — one select, no
    shuffle. (Standalone shapes remain as extras `n11_md5_base64`,
    `n9_column_subset`.)"""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    ev = load(spark, sf_dir, "events")
    joined = docs.join(ev, docs.doc_id == ev.event_id)
    source_nulled = F.nullif(F.col("source"), F.lit("src0"))
    return joined.select(
        "doc_id",
        F.coalesce(source_nulled, F.lit("na")).alias("source_or_na"),
        F.coalesce(F.get_json_object("props", "$.k").cast("long"), F.lit(-1)).alias("k"),
        F.coalesce(F.get_json_object("props", "$.missing").cast("long"), F.lit(-1)).alias(
            "missing_k"
        ),
        source_nulled.alias("source_nulled"),
        F.col("n_chars").cast("string").alias("n_chars_str"),
        scalars.is_connected(source_nulled, min_len=4).alias("connected"),
        scalars.md5_base64("source").alias("pw_hash"),
    )


import datetime as _dt

_N4_CLAMP_ISO = _dt.datetime.fromtimestamp(
    1767225600 - 62_000_000 + 86_400, _dt.timezone.utc
).strftime("%Y-%m-%dT%H:%M:%SZ")


@register(
    "n2_n3_n4_n8_scalar_transforms",
    oracle=f"""
SELECT event_id,
       strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_iso,
       {EPOCH_DUCK} AS epoch_s,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_load,
       CASE WHEN 1767225600 - {EPOCH_DUCK} > 62000000
            THEN '{_N4_CLAMP_ISO}'
            ELSE strftime(ts, '%Y-%m-%dT%H:%M:%SZ') END AS ts_retained,
       CASE WHEN value - 100 >= 0 THEN value - 100 END AS clamped
FROM events
""",
)
def n2_n3_n4_n8_scalar_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2+N3+N4+N8 — the timestamp/clamp scalar layer in one projection:
    epoch ↔ ISO-8601 string round-trip in UTC (reference
    strava_sdk.py:210; main.py:140,166); the retention-horizon
    timestamp rewrite with a fixed deterministic `now` (reference
    main.py:136-140; horizon 62 000 000 s splits the events fixture);
    and the negative→NULL clamp (reference main.py:109-117). Pure
    column expressions at scan speed — no shuffle."""
    ensure_harness_conf(spark)
    now_epoch, ret = 1767225600, 62_000_000
    ev = load(spark, sf_dir, "events")
    ev = ev.withColumn("epoch0", ep.epoch_s(ev))
    iso = scalars.epoch_to_ts_string(F.col("epoch0"))
    return ev.select(
        "event_id",
        iso.alias("ts_iso"),
        scalars.ts_string_to_epoch(iso).alias("epoch_s"),
        scalars.epoch_to_ts_string(F.col("epoch0"), "yyyy-MM-dd HH:mm:ss").alias("ts_load"),
        scalars.retention_clamp(
            F.col("epoch0"), iso, F.lit(now_epoch), retention_s=ret
        ).alias("ts_retained"),
        scalars.clamp_negative_to_null(F.col("value") - 100).alias("clamped"),
    )


@register_extra(
    "n9_column_subset",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem",
)
def n9_column_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N9: output-column subset projection (reference main.py:71-73);
    pruning reaches the scan. Driver-gated via the consolidated
    `n1_n5_n6_n13_normalize` projection (round-3 cap consolidation)."""
    ensure_harness_conf(spark)
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@register_extra(
    "n11_md5_base64",
    oracle="SELECT c_custkey, to_base64(from_hex(md5(c_name))) AS pw_hash FROM customer",
)
def n11_md5_base64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N11: md5+base64 password hash (reference
    firebase_functions.py:19-28; sane semantics per SURVEY §2.K-6).
    Driver-gated via the consolidated normalize query's pw_hash."""
    ensure_harness_conf(spark)
    return load(spark, sf_dir, "customer").select(
        "c_custkey", scalars.md5_base64("c_name").alias("pw_hash")
    )


@register_extra(
    "n12_g3_existence",
    oracle="""
SELECT c_mktsegment AS probe,
       CAST(count(*) AS BIGINT) AS n,
       (SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) > 0) AS exists_flag
FROM customer GROUP BY c_mktsegment
UNION ALL
SELECT 'purchase_gt_190' AS probe,
       CAST(count(*) AS BIGINT) AS n,
       count(*) > 0 AS exists_flag
FROM events WHERE event_type = 'purchase' AND value > 190
""",
)
def n12_g3_existence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N12+G3 — existence predicates at both reference shapes: the
    per-group `len(result) > 0` probe (reference
    firebase_functions.py:101-130) and the filter-then-count existence
    check (reference firebase_functions.py:106-128), union-tagged by
    probe. Both are single partial+final hash aggs; a `limit(1)` form
    is what production code would use when only the boolean matters."""
    ensure_harness_conf(spark)
    seg = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("probe"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0)) > 0).alias("exists_flag"),
        )
    )
    ev = load(spark, sf_dir, "events")
    glob = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 190))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("purchase_gt_190").alias("probe"), "n", (F.col("n") > 0).alias("exists_flag"))
    )
    return seg.unionByName(glob)


# ---------------------------------------------------------------------------
# 2.C  Joins
# ---------------------------------------------------------------------------


@register(
    "j1_j2_spine_join",
    oracle=f"""
WITH s AS ({STREAMS_SQL}),
mx AS (SELECT activity_id, max(time_key) AS mx FROM s GROUP BY activity_id),
spine AS (SELECT activity_id, unnest(generate_series(0, mx)) AS time_key FROM mx),
j AS (SELECT spine.activity_id, spine.time_key, s.value
      FROM spine LEFT JOIN s USING (activity_id, time_key))
SELECT activity_id,
       CAST(count(*) AS BIGINT) AS spine_rows,
       CAST(sum(time_key) AS BIGINT) AS spine_sum,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps
FROM j GROUP BY activity_id
""",
)
def j1_j2_spine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2: dense integer spine 0…max(time_key) per activity
    (reference main.py:47) left-joined with the sparse samples
    (reference main.py:59) — gap ticks become NULL rows. The spine
    digests (row count, tick sum) pin the generator's exact output;
    n_gaps pins the join. `sequence`+`explode` is a pipelined
    generator — no per-activity array materialization — and the join
    is a co-partitioned equi-join on (key, ord)."""
    ensure_harness_conf(spark)
    dd = resample.densify(
        streams(spark, sf_dir).select("activity_id", "time_key", "value"),
        "activity_id",
        "time_key",
    )
    return dd.groupBy("activity_id").agg(
        F.count(F.lit(1)).cast("long").alias("spine_rows"),
        F.sum("time_key").cast("long").alias("spine_sum"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).cast("long").alias("n_gaps"),
    )


@register_extra(
    "j3_zip_explode",
    oracle=f"""
WITH s AS ({STREAMS_SQL}),
g AS (SELECT activity_id,
             list(time_key ORDER BY time_key) AS tks,
             list(value ORDER BY time_key) AS vs
      FROM s GROUP BY activity_id)
SELECT activity_id, CAST(i - 1 AS BIGINT) AS pos, tks[i] AS t, vs[i] AS v
FROM g, LATERAL (SELECT unnest(generate_series(1, len(tks))) AS i) u
""",
)
def j3_zip_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/A3: positional zip-join of parallel series (reference
    strava_sdk.py:138-156) — arrays_zip + posexplode round-trips the
    columnar payload to rows."""
    ensure_harness_conf(spark)
    s = streams(spark, sf_dir)
    g = s.groupBy("activity_id").agg(
        F.array_sort(F.collect_list(F.struct("time_key", "value"))).alias("arr")
    )
    g = g.select(
        "activity_id",
        F.transform("arr", lambda x: x.time_key).alias("tks"),
        F.transform("arr", lambda x: x.value).alias("vs"),
    )
    return g.select(
        "activity_id", F.posexplode(F.arrays_zip("tks", "vs")).alias("pos", "z")
    ).select(
        "activity_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("z.tks").alias("t"),
        F.col("z.vs").alias("v"),
    )


@register(
    "j4_users_activities_join",
    oracle="""
SELECT c.c_custkey,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_spend
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey
""",
)
def j4_users_activities_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: the users⋈activities join replacing the reference's N+1
    driver loop (main.py:199-203). Small dim broadcast — shuffle-free
    on the fact side."""
    ensure_harness_conf(spark)
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").cast("long").alias("n_orders"),
            _dsum("o_totalprice").alias("total_spend"),
        )
    )


# ---------------------------------------------------------------------------
# 2.E  Window / time-series (the analytical core)
# ---------------------------------------------------------------------------

#: The reference's real metric set (main.py:83-106): heartrate, watts,
#: velocity — derived deterministically from the fixture streams.
_G2_METRICS = ("hr", "watts", "vel")


def _w1_wide_oracle() -> str:
    wins = rolling.REFERENCE_WINDOWS
    list_wins = [w for w in wins if w > 1]
    window_defs = ",\n       ".join(
        f"w{w} AS (PARTITION BY activity_id ORDER BY time_key "
        f"ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)"
        for w in list_wins
    )
    list_cols = ",\n       ".join(
        f"list({c}) OVER w{w} AS l_{c}_{w}" for c in _G2_METRICS for w in list_wins
    )
    tri_cols = ",\n       ".join(
        f"round({_tri_list_sql(w, c)}, 6) AS tri_{c}_{w}"
        for c in _G2_METRICS
        for w in wins
    )
    return f"""
WITH s AS ({STREAMS_SQL}),
m AS (SELECT activity_id, time_key, event_id,
             value AS hr,
             value * 0.5 AS watts,
             CAST(event_id % 97 AS DOUBLE) AS vel
      FROM s),
l AS (SELECT activity_id, time_key, hr, watts, vel,
       {list_cols}
      FROM m
      WINDOW {window_defs})
SELECT activity_id, time_key,
       {tri_cols}
FROM l
"""


@register_extra("w1_rolling_triang", oracle=_w1_wide_oracle())
def w1_rolling_triang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 at the reference's REAL shape (main.py:83-106): the per-row
    triangular-weighted trailing-mean SERIES for 3 metrics
    (hr/watts/velocity stand-ins) × the 11 reference windows
    {1,5,…,1200} = 33 rolling output columns, both weight parities
    (odd: m-|j-m| weights; even via the 2·box∘box − box correction) —
    pandas win_type='triang'. Engine path is the double-prefix-sum
    stencil: all 33 outputs share ONE partition+sort (the reference
    runs 11 separate full pandas passes per metric), O(1)/row at any
    window size; windows longer than the series are NULL (min_periods).
    g2_rolling_maxes_wide is the per-activity max reduction of this
    series; the Arrow grouped-map twin lives in EXTRA_QUERIES
    (w1_rolling_triang_pandas_udf)."""
    ensure_harness_conf(spark)
    wins = rolling.REFERENCE_WINDOWS
    s = streams(spark, sf_dir, keep_source_order=True).select(
        "activity_id",
        "time_key",
        "ts",
        "event_id",
        F.col("value").alias("hr"),
        (F.col("value") * 0.5).alias("watts"),
        (F.col("event_id") % 97).cast("double").alias("vel"),
    )
    # ord_cols=(ts, event_id): same row order as time_key (a strictly
    # increasing cumsum over them) but lets the planner skip the
    # rolling stage's re-sort of the stream (rolling.py r13 note)
    r = rolling.rolling_mean_triang(
        s, "activity_id", "time_key", list(_G2_METRICS), wins,
        ord_cols=("ts", "event_id"),
    )
    return r.select(
        "activity_id",
        "time_key",
        *[
            _r6(F.col(f"{c}_tri_{w}")).alias(f"tri_{c}_{w}")
            for c in _G2_METRICS
            for w in wins
        ],
    )


_INTERP_SQL = f"""
WITH s AS ({STREAMS_SQL}),
mx AS (SELECT activity_id, max(time_key) AS mx FROM s GROUP BY activity_id),
spine AS (SELECT activity_id, unnest(generate_series(0, mx)) AS time_key FROM mx),
j AS (SELECT spine.activity_id, spine.time_key, s.value
      FROM spine LEFT JOIN s USING (activity_id, time_key)),
k AS (
  SELECT activity_id, time_key, value,
    last_value(value IGNORE NULLS) OVER wb AS prev_v,
    last_value(CASE WHEN value IS NOT NULL THEN time_key END IGNORE NULLS) OVER wb AS prev_t,
    first_value(value IGNORE NULLS) OVER wf AS next_v,
    first_value(CASE WHEN value IS NOT NULL THEN time_key END IGNORE NULLS) OVER wf AS next_t
  FROM j
  WINDOW wb AS (PARTITION BY activity_id ORDER BY time_key ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY activity_id ORDER BY time_key ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT activity_id, time_key,
  CASE WHEN value IS NOT NULL THEN value
       WHEN prev_v IS NULL THEN NULL
       WHEN next_v IS NULL THEN prev_v
       ELSE prev_v + (next_v - prev_v) * (CAST(time_key - prev_t AS DOUBLE) / CAST(next_t - prev_t AS DOUBLE))
  END AS value
FROM k
"""


@register("w2_interpolate_linear", oracle=_INTERP_SQL)
def w2_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: densify + linear interpolation with pandas edge semantics
    (reference main.py:47-59): interior gaps linear, trailing ffill,
    leading stay NULL. Identical expression tree both engines → exact
    double match, no rounding. r13: the one-pass gap-fill of
    resample.densify_interpolate_fused — the join-shape densify
    planned the streams subtree twice (scan+shuffle+window ×2,
    plans/r13/w2_interpolate_linear_before.txt) just to build the
    spine; the one-pass gap-fill emits the same rows from one subtree
    with no join (J2's join shape itself stays certified by
    j1_j2_spine_join)."""
    ensure_harness_conf(spark)
    # r14: densify_interpolate_fused — the interpolation that cost two
    # window passes (DESC+ASC) over the DENSE table is computed at
    # explode time from sparse-row state (each gap tick's generating
    # sample IS its next neighbor; the previous one is a lag in the
    # gap-fill's own window). Bit-identical under the fixture contract
    # (unique ticks, non-null values — tests/test_resample.py pins
    # both the equivalence and the contract); zero dense-table window
    # passes remain in this query.
    out = resample.densify_interpolate_fused(
        streams(spark, sf_dir).select("activity_id", "time_key", "value"),
        "activity_id",
        "time_key",
        ["value"],
    )
    return out.select("activity_id", "time_key", "value")


@register_extra(
    "w3_w4_position_ops",
    oracle=f"""
WITH s AS ({STREAMS_SQL}),
r AS (SELECT activity_id, time_key, value,
             row_number() OVER (PARTITION BY activity_id ORDER BY time_key) AS rn,
             count(*) OVER (PARTITION BY activity_id) AS cnt
      FROM s)
SELECT activity_id, time_key,
       CASE WHEN rn = 1 OR rn = cnt THEN NULL ELSE value END AS masked_value,
       CAST(rn - 1 AS BIGINT) AS time_new
FROM r
""",
)
def w3_w4_position_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3+W4/T3 — the row-position operators in one pass: NULL
    first/last sample per activity (the latlng privacy mask, reference
    strava_sdk.py:175-176) and the dense 0-based row position with
    EXPLICIT ordering — Spark has no implicit row order (reference
    main.py:47,63 relied on the pandas index). Both share one window
    partition+sort; Catalyst collapses the row_number/count specs into
    a single Window node."""
    ensure_harness_conf(spark)
    s = streams(spark, sf_dir).select("activity_id", "time_key", "value")
    masked = resample.mask_endpoints(s, "activity_id", "time_key", ["value"])
    pos = resample.row_position(masked, "activity_id", "time_key")
    return pos.select(
        "activity_id", "time_key", F.col("value").alias("masked_value"), "time_new"
    )


# ---------------------------------------------------------------------------
# 2.D  Aggregations
# ---------------------------------------------------------------------------


def _g2_oracle() -> str:
    wins = rolling.REFERENCE_WINDOWS
    list_wins = [w for w in wins if w > 1]
    window_defs = ",\n       ".join(
        f"w{w} AS (PARTITION BY activity_id ORDER BY time_key "
        f"ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)"
        for w in list_wins
    )
    list_cols = ",\n       ".join(
        f"list({c}) OVER w{w} AS l_{c}_{w}" for c in _G2_METRICS for w in list_wins
    )
    tri_cols = ",\n       ".join(
        f"{_tri_list_sql(w, c)} AS tri_{c}_{w}" for c in _G2_METRICS for w in wins
    )
    # negative-to-NULL clamp mirrored from activity_maxes(
    # clamp_negative=True) — identical by construction even on fixtures
    # with negative metrics (ADVICE r5, same fix as the e2e oracle)
    max_cols = ",\n       ".join(
        f"CASE WHEN max(tri_{c}_{w}) >= 0 THEN round(max(tri_{c}_{w}), 6) END"
        f" AS max_{c}_{w}"
        for c in _G2_METRICS
        for w in wins
    )
    return f"""
WITH s AS ({STREAMS_SQL}),
m AS (SELECT activity_id, time_key,
             value AS hr,
             value * 0.5 AS watts,
             CAST(event_id % 97 AS DOUBLE) AS vel
      FROM s),
l AS (SELECT activity_id, hr, watts, vel,
       {list_cols}
      FROM m
      WINDOW {window_defs}),
r AS (SELECT activity_id,
       {tri_cols}
      FROM l)
SELECT activity_id,
       {max_cols}
FROM r GROUP BY activity_id
"""


@register("g2_rolling_maxes_wide", oracle=_g2_oracle())
def g2_rolling_maxes_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2+N8+P4 at the reference's REAL shape (main.py:83-106): 3
    metrics (hr/watts/velocity stand-ins derived from the fixture) ×
    the 11 reference windows {1,5,…,1200} = 33 rolling columns, then
    the per-activity max of every column in ONE aggregation pass — the
    reference runs 11 separate full pandas passes. All 33 stencils
    share a single partition+sort (one shuffle); windows longer than an
    activity's series are NULL via the min_periods mask, exactly like
    pandas, and the N8 negative clamp applies to every max. Cost is
    O(rows × 33) with O(1)/row constants at ANY window size — the
    w=1200 column costs the same per row as w=5."""
    ensure_harness_conf(spark)
    wins = rolling.REFERENCE_WINDOWS
    s = streams(spark, sf_dir, keep_source_order=True).select(
        "activity_id",
        "time_key",
        "ts",
        "event_id",
        F.col("value").alias("hr"),
        (F.col("value") * 0.5).alias("watts"),
        (F.col("event_id") % 97).cast("double").alias("vel"),
    )
    # ord_cols=(ts, event_id): same row order as time_key (a strictly
    # increasing cumsum over them) but lets the planner skip the
    # rolling stage's re-sort of the stream (rolling.py r13 note)
    r = rolling.rolling_mean_triang(
        s, "activity_id", "time_key", list(_G2_METRICS), wins,
        ord_cols=("ts", "event_id"),
    )
    maxed = rolling.activity_maxes(
        r, "activity_id", list(_G2_METRICS), wins, clamp_negative=True
    )
    return maxed.select(
        "activity_id",
        *[
            _r6(F.col(f"max_{c}_{w}")).alias(f"max_{c}_{w}")
            for c in _G2_METRICS
            for w in wins
        ],
    )


@register(
    "g4_n7_nested_assembly",
    oracle=f"""
WITH s AS ({STREAMS_SQL})
SELECT activity_id,
       'act_' || activity_id AS name_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       arg_min(value, time_key) AS first_value,
       arg_max(value, time_key) AS last_value,
       max(value) AS max_value
FROM s GROUP BY activity_id
""",
)
def g4_n7_nested_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4+N7: nested-record assembly (reference main.py:142-178) —
    array_sort(collect_list(struct(…))) for determinism under shuffle,
    digested to scalars for the oracle (nested values are exercised:
    first/last come out of the sorted array itself)."""
    ensure_harness_conf(spark)
    s = streams(spark, sf_dir).select("activity_id", "time_key", "value")
    nested = collect_samples(s, "activity_id", "time_key", ["value"])
    return nested.select(
        "activity_id",
        F.concat_ws("_", F.lit("act"), F.col("activity_id")).alias("name_id"),
        F.size("streams").cast("long").alias("n_samples"),
        F.element_at("streams", 1)["value"].alias("first_value"),
        F.element_at("streams", -1)["value"].alias("last_value"),
        F.array_max(F.transform("streams", lambda x: x.value)).alias("max_value"),
    )


@register(
    "n10_cohort_split",
    oracle=f"""
WITH s AS ({STREAMS_SQL}),
mx AS (SELECT activity_id, max(time_key) AS mx FROM s GROUP BY activity_id),
short AS (SELECT s.* FROM s JOIN mx USING (activity_id) WHERE mx.mx < 130),
long_ AS (SELECT s.* FROM s JOIN mx USING (activity_id) WHERE mx.mx >= 130),
spine AS (SELECT activity_id, unnest(generate_series(0, mx)) AS time_key
          FROM mx WHERE mx < 130),
j AS (SELECT spine.activity_id, spine.time_key, short.value
      FROM spine LEFT JOIN short USING (activity_id, time_key)),
interp AS (
  SELECT activity_id, time_key, value,
    last_value(value IGNORE NULLS) OVER wb AS prev_v,
    first_value(value IGNORE NULLS) OVER wf AS next_v,
    last_value(CASE WHEN value IS NOT NULL THEN time_key END IGNORE NULLS) OVER wb AS prev_t,
    first_value(CASE WHEN value IS NOT NULL THEN time_key END IGNORE NULLS) OVER wf AS next_t
  FROM j
  WINDOW wb AS (PARTITION BY activity_id ORDER BY time_key ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY activity_id ORDER BY time_key ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT activity_id, time_key,
  CASE WHEN value IS NOT NULL THEN value
       WHEN prev_v IS NULL THEN NULL
       WHEN next_v IS NULL THEN prev_v
       ELSE prev_v + (next_v - prev_v) * (CAST(time_key - prev_t AS DOUBLE) / CAST(next_t - prev_t AS DOUBLE))
  END AS value,
  'interpolated' AS cohort
FROM interp
UNION ALL
SELECT activity_id, time_key, value, 'passthrough' AS cohort FROM long_
""",
)
def n10_cohort_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N10: the elapsed_time<100000 pipeline branch (reference
    main.py:56-63) — short activities densify+interpolate, long ones
    pass through; cohorts re-merged with unionByName (§2.G)."""
    ensure_harness_conf(spark)
    s = streams(spark, sf_dir).select("activity_id", "time_key", "value")
    mx = s.groupBy("activity_id").agg(F.max("time_key").alias("mx"))
    s2 = s.join(F.broadcast(mx), "activity_id")
    short = s2.filter(F.col("mx") < 130).drop("mx")
    long_ = s2.filter(F.col("mx") >= 130).drop("mx")
    interp = resample.densify_interpolate_fused(
        # r14: densify + interpolation in one sparse-grain pass (see
        # w2) — same rows, zero dense-table window passes
        short,
        "activity_id",
        "time_key",
        ["value"],
    ).withColumn("cohort", F.lit("interpolated"))
    passthrough = long_.withColumn("cohort", F.lit("passthrough"))
    return interp.unionByName(passthrough).select(
        "activity_id", "time_key", "value", "cohort"
    )


@register_extra(
    "s4_idempotent_append",
    oracle="""
SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT DISTINCT event_id, user_id FROM (
    SELECT event_id, user_id FROM events UNION ALL SELECT event_id, user_id FROM events
  )
) GROUP BY user_id
""",
)
def s4_idempotent_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: idempotent write — re-delivered batch deduped on the business
    key before the sink (fixes reference main.py:157,180 at-least-once
    append)."""
    ensure_harness_conf(spark)
    from .operators.upsert import idempotent_append

    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    redelivered = ev.unionByName(ev)
    deduped = idempotent_append(redelivered, None, "event_id")
    return deduped.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n"))


# ---------------------------------------------------------------------------
# Relational engine surface (free once declarative — SURVEY §2.D/§2.F/§2.G
# closing notes; these are the bench-shaped workloads)
# ---------------------------------------------------------------------------

#: lineitem/orders timestamps are microsecond TIMESTAMP_NTZ (unlike
#: events.ts which is nano → long); compare against timestamp literals.
#: (Built lazily — Column construction needs an active session.)
def _ts_cmp(df: DataFrame, col: str, epoch_utc: int) -> tuple[F.Column, F.Column]:
    """(column, threshold) pair for comparing a fixture timestamp column
    against a UTC instant, valid on EITHER physical encoding
    (bigint-nanos or timestamp/timestamp_ntz — the round-3 lesson
    applied to the relational tables: l_shipdate / o_orderdate flip
    encodings with the fixture generator exactly like events.ts).
    The literal is adapted to the column, never the other way around,
    so the predicate still pushes into the parquet scan."""
    return F.col(col), ep.utc_literal(df, col, epoch_utc)


@register(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the pivot-shaped wide agg
    workload (SURVEY §2.D closing). Partial+final hash agg, scan-level
    filter pushdown, exact decimal accumulation."""
    ensure_harness_conf(spark)
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    ship, cutoff = _ts_cmp(li, "l_shipdate", 904_694_400)  # 1998-09-02Z
    return (
        li.filter(ship <= cutoff)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            (_dsum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            (_dsum("l_discount") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


@register_extra(
    "q3_revenue_join",
    oracle="""
SELECT o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1998-03-15'
GROUP BY o.o_orderkey, orderdate
HAVING SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) > 1000
""",
)
def q3_revenue_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join + agg. Dimension filter first, small
    sides broadcast, revenue accumulated exactly."""
    ensure_harness_conf(spark)
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders")
    od, cutoff = _ts_cmp(o, "o_orderdate", 889_920_000)  # 1998-03-15Z
    orderdate = F.date_format(ep.as_timestamp(o, "o_orderdate"), "yyyy-MM-dd")
    o = o.filter(od < cutoff).withColumn("orderdate", orderdate)
    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "orderdate")
        .agg(_dsum(rev).alias("revenue"))
        .filter(F.col("revenue") > 1000)
    )


@register_extra(
    "q_ranking_topk",
    oracle="""
SELECT event_id, user_id, value,
       CAST(rk AS BIGINT) AS rk,
       CAST(rnk AS BIGINT) AS rnk,
       CAST(drnk AS BIGINT) AS drnk,
       CAST(quartile AS BIGINT) AS quartile,
       prev_value, next_value
FROM (
  SELECT event_id, user_id, value,
         row_number() OVER wv AS rk,
         rank() OVER wp AS rnk,
         dense_rank() OVER wp AS drnk,
         ntile(4) OVER wt AS quartile,
         lag(value) OVER wt AS prev_value,
         lead(value) OVER wt AS next_value
  FROM events
  WINDOW wv AS (PARTITION BY user_id ORDER BY value DESC, event_id),
         wp AS (PARTITION BY user_id ORDER BY value DESC),
         wt AS (PARTITION BY user_id ORDER BY ts, event_id)
) WHERE rk <= 3
""",
)
def q_ranking_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking family + top-K-per-group in one pass (SURVEY
    §2.E/§2.F closing: reference never ranks; the engine ships it
    anyway): row_number/rank/dense_rank/ntile/lag/lead, then the rk<=3
    filter. rank/dense_rank rank over the ties-possible value-only
    ordering (so they genuinely differ from row_number); the top-k
    filter lets Spark push WindowGroupLimit (partial per-partition
    top-k) below the row_number window at scale. Two window specs →
    two sorts max, one shuffle."""
    ensure_harness_conf(spark)
    ev = load(spark, sf_dir, "events")
    wv = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    wp = Window.partitionBy("user_id").orderBy(F.col("value").desc())
    wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            "value",
            F.row_number().over(wv).cast("long").alias("rk"),
            F.rank().over(wp).cast("long").alias("rnk"),
            F.dense_rank().over(wp).cast("long").alias("drnk"),
            F.ntile(4).over(wt).cast("long").alias("quartile"),
            F.lag("value").over(wt).alias("prev_value"),
            F.lead("value").over(wt).alias("next_value"),
        )
        .filter(F.col("rk") <= 3)
    )


@register_extra(
    "q_sessionize",
    oracle="""
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_ns(ts) - epoch_ns(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   > 3600000000000 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT user_id, event_id, ts,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       strftime(min(ts), '%Y-%m-%dT%H:%M:%SZ') AS session_start,
       strftime(max(ts), '%Y-%m-%dT%H:%M:%SZ') AS session_end
FROM s GROUP BY user_id, session_id
""",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 1h) via lag + running sum — the batch face
    of session_window (S-family extension; guide 'Sessionization')."""
    ensure_harness_conf(spark)
    ev = load(spark, sf_dir, "events")
    # gap math at µs grain — sub-second exact, but NOT finer: DuckDB's
    # parquet reader truncates TIMESTAMP(NANOS) to µs, so on the
    # bigint-nanos encoding a ns-grain comparison here could flip a
    # boundary gap the oracle cannot see (ADVICE r4). Ordering uses the
    # same µs key so a sub-µs tie breaks on event_id in both engines.
    # (Truncating to SECONDS would be wrong the other way — it moves
    # sub-second gaps across the 1h threshold.)
    native, ups = ep.native_epoch(ev)
    us_div = max(ups // 10**6, 1)  # 1000 on ns encodings, 1 on µs
    ev = ev.withColumn("_e", native).withColumn(
        "_us", F.expr(f"_e div {us_div}") if us_div > 1 else native
    )
    wt = Window.partitionBy("user_id").orderBy("_us", "event_id")
    gap = 3600 * 10**6
    prev = F.lag("_us").over(wt)
    new_session = F.when(prev.isNull() | ((F.col("_us") - prev) > gap), 1).otherwise(0)
    sess = ev.withColumn("new_session", new_session).withColumn(
        "session_id",
        F.sum("new_session").over(wt.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    iso = F.date_format(
        F.timestamp_seconds(F.expr(f"_e div {ups}")), "yyyy-MM-dd'T'HH:mm:ss'Z'"
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min(iso).alias("session_start"),
        F.max(iso).alias("session_end"),
    )


# ---------------------------------------------------------------------------
# Flagship (SURVEY §7 M0): trailing rolling mean + per-activity max —
# the reference's analytical heart (main.py:83-106) on fixture streams.
# ---------------------------------------------------------------------------


@register(
    "flagship_rolling_max",
    oracle=f"""
WITH s AS ({STREAMS_SQL}),
r AS (
  SELECT activity_id,
         (1*lag(value,4) OVER w + 2*lag(value,3) OVER w + 3*lag(value,2) OVER w
          + 2*lag(value,1) OVER w + 1*value) / 9.0 AS tri5
  FROM s WINDOW w AS (PARTITION BY activity_id ORDER BY time_key)
)
SELECT activity_id,
       round(max(tri5), 6) AS max_tri5,
       CAST(count(tri5) AS BIGINT) AS n_windows
FROM r GROUP BY activity_id
""",
)
def flagship_rolling_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+G2 simplified: triangular 5-row trailing mean of `value` per
    activity (ordered by time_key), then max per activity."""
    ensure_harness_conf(spark)
    s = streams(spark, sf_dir, keep_source_order=True)
    r = rolling.rolling_mean_triang(
        s, "activity_id", "time_key", ["value"], [5], ord_cols=("ts", "event_id")
    )
    return r.groupBy("activity_id").agg(
        _r6(F.max("value_tri_5")).alias("max_tri5"),
        F.count("value_tri_5").cast("long").alias("n_windows"),
    )


def entry_flagship(spark: SparkSession) -> DataFrame:
    return flagship_rolling_max(spark, "/root/testdata/sf0.001")


# SURVEY_COVERAGE (§2 id → certifying queries) and QUERY_ORDER (the
# driver-facing iteration order + per-slot rotation rationale) live
# in queries_order.py (round-9 split); re-exported here because the
# registry, the tests, and the driver all import them from this
# module.
from .queries_order import QUERY_ORDER, SURVEY_COVERAGE  # noqa: E402


# North-star extension queries (dedup / similarity / text / multimodal /
# streaming) register themselves on import — must stay at module bottom
# so `register` and the shared helpers above exist.
from . import queries_ext  # noqa: E402,F401  (registry side-effect)


def _finalize_registry() -> None:
    missing = set(QUERY_ORDER) - set(QUERIES)
    extra = set(QUERIES) - set(QUERY_ORDER)
    assert not missing and not extra, f"registry drift: missing={missing} extra={extra}"
    assert len(QUERY_ORDER) <= DRIVER_QUERY_CAP, len(QUERY_ORDER)
    for d in (QUERIES, ORACLES):
        ordered = {n: d[n] for n in QUERY_ORDER if n in d}
        d.clear()
        d.update(ordered)


_finalize_registry()
