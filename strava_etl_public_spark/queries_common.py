"""North-star extension queries (SURVEY §7 M6 / BASELINE.json):
dedup, similarity search, text analysis, multimodal plumbing, and the
Structured Streaming face of the incremental semantics — each as a
driver-checkable query with (where expressible) an exact DuckDB oracle.

Determinism: every text op is string/integer math (md5, regex, counts)
— bit-identical across engines. Cosine similarity is a sequential left
fold both sides (Spark `aggregate` init 0.0 vs DuckDB `list_reduce`;
0.0 + x == x in IEEE), so doubles match exactly; results are rounded
to 6dp only where they feed an ordering.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .io import load

# ---------------------------------------------------------------------------
# Registry core (re-exported by queries.py). Family modules register
# through these, not through queries.py: queries.py imports every
# family module at its bottom, so a family module that imported it
# would be half-initialised when its siblings need it.
# ---------------------------------------------------------------------------

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: Secondary registry: implementation twins and redundant §2 aliases
#: whose semantics are already driver-verified through a primary query.
#: The driver's correctness harness caps at 50 queries, so these are
#: NOT exported through __spark_entry__ — they stay oracle-verified
#: locally (scripts/verify_oracle.py --extra, tests/test_registry.py).
EXTRA_QUERIES: dict[str, QueryFn] = {}
EXTRA_ORACLES: dict[str, str] = {}

#: Hard cap observed in the driver's correctness harness (round 1 ran
#: exactly the first 50 registrations of 66). _finalize_registry
#: enforces it so every exported query gets an official row.
DRIVER_QUERY_CAP = 50


def _assert_fresh(name: str) -> None:
    # dict registration silently overwrites on a duplicate name — the
    # rotation that promoted x_stream_stream_join (r8) collided with a
    # same-named draft in another family module and only the
    # structural tests caught it. Fail at import instead. Must be a
    # real raise, not assert: under `python -O` asserts are stripped
    # and the silent overwrite comes back.
    if name in QUERIES or name in EXTRA_QUERIES:
        raise ValueError(f"duplicate query registration: {name}")


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _assert_fresh(name)
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def register_extra(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _assert_fresh(name)
        EXTRA_QUERIES[name] = fn
        if oracle is not None:
            EXTRA_ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Shared derivations
# ---------------------------------------------------------------------------

STREAMS_SQL = """
SELECT user_id AS activity_id,
       CAST(SUM(1 + event_id % 3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS time_key,
       value, event_type, event_id
FROM events
"""


def streams(
    spark: SparkSession, sf_dir: str, keep_source_order: bool = False
) -> DataFrame:
    """events → reference-shaped sparse sensor streams (FIXTURES.md §B).

    The rename to activity_id happens BEFORE the window so the window
    partitions on the surviving column: partitioning then propagates
    through the projection and every downstream per-activity window
    (W1/W2/G2/flagship) reuses THIS shuffle instead of adding its own
    — windowing on user_id and renaming after drops the partitioning
    (the alias-introducing projection sits below the exchange, so the
    post-window projection outputs an attribute Spark no longer maps),
    measured one extra full exchange per consumer."""
    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("activity_id"), "ts", "event_id", "value", "event_type"
    )
    w = Window.partitionBy("activity_id").orderBy("ts", "event_id")
    # keep_source_order (r13): also expose ts, letting window consumers
    # order by the (ts, event_id) columns this node is ALREADY sorted
    # on — time_key is a strictly-increasing cumsum over exactly that
    # order, so the row order is identical, but Spark's syntactic
    # sort-equivalence check can then elide the consumer's re-sort
    # (see rolling_mean_triang's ord_cols).
    out_cols = [
        "activity_id",
        F.sum(F.lit(1) + F.col("event_id") % 3).over(w).cast("long").alias("time_key"),
        "value",
        "event_type",
        "event_id",
    ]
    if keep_source_order:
        out_cols.append("ts")
    return ev.select(*out_cols)


def _r6(c):
    return F.round(c, 6)



# ---------------------------------------------------------------------------
# Shared oracle fragments
# ---------------------------------------------------------------------------

#: tokens / 3-token shingles of documents.text — mirrors dedup.tokens /
#: dedup.shingles (same RE2 pattern, same n=3 windowing, distinct per doc).
_TK_SQL = "SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS t FROM documents"
_SH_SQL = f"""
tk AS ({_TK_SQL}),
shs AS (
  SELECT doc_id,
         md5(unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS m
  FROM tk
),
sh AS (
  SELECT DISTINCT doc_id,
         CAST(concat('0x', substr(m, 1, 15)) AS BIGINT) AS shingle,
         CAST(concat('0x', substr(m, 17, 15)) AS BIGINT) AS sh2
  FROM shs
)"""


def _minhash_oracle(k: int = 8, bands: int = 4, threshold: float = 0.5) -> str:
    rows = k // bands
    sig_cols = ",\n         ".join(
        f"min(shingle + {j} * sh2) AS mh{j}" for j in range(k)
    )
    band_cases = " ".join(
        f"WHEN {b} THEN concat_ws('_', "
        + ", ".join(f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))
        + ")"
        for b in range(bands)
    )
    return f"""
WITH {_SH_SQL},
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
banded AS (
  SELECT doc_id, band_idx, CASE band_idx {band_cases} END AS h
  FROM sig, (SELECT unnest(generate_series(0, {bands - 1})) AS band_idx)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band_idx = b.band_idx AND a.h = b.h
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       CAST(i.i AS DOUBLE) / CAST(za.sz + zb.sz - i.i AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE CAST(i.i AS DOUBLE) / CAST(za.sz + zb.sz - i.i AS DOUBLE) >= {threshold}
"""


#: Recursive-closure fragment shared by every connected-components
#: oracle (clusters / entity resolution / keep-list): expects a
#: ``pairs(doc_a, doc_b)`` CTE in scope and yields ``cc(doc_id,
#: rep_id)`` — ONE definition so a change to the closure cannot drift
#: between oracles.
_CC_CLOSURE_SQL = """
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, lab) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
cc AS (SELECT id AS doc_id, min(lab) AS rep_id FROM reach GROUP BY id)"""


def _clusters_oracle() -> str:
    """Recursive-closure twin of dedup.duplicate_clusters over the
    minhash near-dup pair set: enumerate every label reachable from
    each node through the (bidirectional) edge set, keep the min —
    the same fixed point min-label propagation converges to, computed
    a structurally different way (closure vs iteration), so the two
    engines cross-check the COMPONENT STRUCTURE, not just each other's
    arithmetic."""
    return f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),{_CC_CLOSURE_SQL}
SELECT cc.doc_id, cc.rep_id, CAST(sz.n AS BIGINT) AS cluster_size
FROM cc JOIN (SELECT rep_id, count(*) AS n FROM cc GROUP BY rep_id) sz
  USING (rep_id)
"""


def _dot_sql(a: str, b: str, dim_of: str | None = None) -> str:
    """DuckDB dot product matching dedup.cosine's left fold exactly."""
    n = dim_of or a
    return (
        f"list_reduce(list_transform(generate_series(1, len({n})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (acc, x) -> acc + x)"
    )


def _cos_sql(a: str, b: str) -> str:
    return (
        f"({_dot_sql(a, b)} / "
        f"(sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"
    )
