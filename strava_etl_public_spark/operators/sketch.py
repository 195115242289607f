"""Deterministic md5 hashing for sampling, splits and bloom positions.

Why md5 and not ``hash()``/``xxhash64``: md5 is the engine-portable
hash used across this repo, so every predicate built here (hash
samples, train/val/test splits, bloom bit positions, the token-budget
pack order) is a pure function of its inputs, bit-identical in Spark
and a SQL oracle, and stable across runs, partitionings and cluster
sizes. Every helper is a projection or a filter over one md5 per row
(scan-speed, no shuffle), except :func:`token_budget_allocate`, which
adds one per-domain window sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: md5-derived 60-bit value hash: the first 15 hex digits of md5.
HASH_BITS = 60


def _hash60(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def _bloom_position_cols(value_col: str, m: int, k: int) -> list[Column]:
    """The k bit positions of one value — ONE definition shared by
    every bloom manifest writer (``layout``, ``manifest``), whose
    driver-side probe ``layout._bloom_positions_py`` must hash
    identically. Kirsch-Mitzenmacher
    double hashing: ONE md5 yields two independent 60-bit halves
    (h1 = hex[1:15], h2 = hex[17:31] — the fingerprint-split
    convention the MinHash shingles use) and ``pos_r = (h1 + r·(h2|1))
    mod m`` — k positions for one hash evaluation (the dominant
    manifest-build cost), with the classic proof that
    the FP rate is asymptotically unchanged. h2 forced odd so the
    stride never degenerates to a single repeated position. k caps at
    8: r·h2 with r ≥ 9 overflows int64 into negative positions
    (code-review finding); k=8 already reaches FP rates below 1e-4
    at m/n=16."""
    if not 1 <= k <= 8:
        raise ValueError(f"bloom k must be in [1, 8], got {k}")
    m5 = F.md5(F.concat(F.lit("bloom:"), F.col(value_col).cast("string")))
    h1 = F.conv(F.substring(m5, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(m5, 17, 15), 16, 10).cast("long").bitwiseOR(F.lit(1))
    return [((h1 + r * h2) % m).cast("long") for r in range(k)]


def _bloom_positions(value_col: str, m: int, k: int) -> Column:
    return F.array(*_bloom_position_cols(value_col, m, k))


def sample_by_hash(df: DataFrame, id_col: str, fraction: float, salt: str = "sample") -> DataFrame:
    """Stable uniform sample: keep rows whose md5-derived 60-bit hash
    of (salt, id) falls below fraction * 2^60. Unlike df.sample(), the
    kept SET is a pure function of (salt, ids) — identical across
    runs, engines, partitionings, and cluster sizes, which is what a
    training pipeline needs for reproducible ablations. Changing the
    salt draws an independent sample. Pure filter — scan-speed,
    pushdown-friendly, no shuffle."""
    h = _hash60(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    return df.filter(h < int(fraction * (1 << HASH_BITS)))


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    salt: str = "split",
) -> DataFrame:
    """Deterministic disjoint split assignment (train/val/test):
    bucket = hash % 1e6 mapped to cumulative weight ranges. Every id
    lands in exactly one split, stable under reruns and engine moves;
    adding rows later never reassigns existing ids. Adds a `split`
    column; one projection, no shuffle."""
    h = _hash60(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    bucket = h % 1_000_000
    expr = None
    acc = 0.0
    for name, wgt in weights.items():
        acc += wgt
        cond = bucket < int(acc * 1_000_000)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr.otherwise(list(weights)[-1]))


# ---------------------------------------------------------------------------
# Temperature-based domain mixing (α-power resampling across sources)
# ---------------------------------------------------------------------------


def token_budget_allocate(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    ntok_col: str,
    budget_tokens: int,
    alpha: float = 0.5,
    salt: str = "tb",
) -> DataFrame:
    """Token-budget curriculum manifest: split an overall training
    TOKEN budget across domains by α-power temperature (T_d^α
    flattens the mix toward small domains; budgeted in tokens, which
    is what a pretraining run actually spends), then
    fill each domain's budget with hash-ordered documents until the
    next doc would START past the budget. Emits, per kept doc,
    ``(id, domain, tok_start)`` — tok_start is the doc's token offset
    inside its domain's allocation, so the manifest doubles as a
    deterministic pack order.

    Determinism/portability: domain token totals are exact integer
    sums; weights quantize to BIGINT (floor(T_d^α·10⁶), α=0.5 → sqrt
    is IEEE-exact); each domain budget is one double expression over
    exact ints + floor (products must stay < 2⁵³); doc order inside a domain is the
    (salt, id) md5 hash with an id tie-break; the keep rule is an
    EXCLUSIVE running sum (window: rows unbounded preceding to 1
    preceding) compared to the budget — so every domain except
    possibly the last kept doc's tail fits, order is never broken,
    and the whole manifest is a pure function of
    (corpus, budget, α, salt).

    Scale shape: one P-row domain agg (bounded model state,
    broadcast), then ONE per-domain window sort — the same shuffle
    any per-domain ordering pays; no driver-side loops, no
    SinglePartition funnel."""
    from pyspark.sql import Window

    t_of = F.sum(F.col(ntok_col)).cast("long")
    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        t_of.alias("_t")
    )
    w_of = (
        F.sqrt(F.col("_t").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("_t").cast("double"), F.lit(float(alpha)))
    )
    counts = counts.withColumn(
        "_wq", F.floor(w_of * F.lit(1000000.0)).cast("long")
    )
    totals = counts.agg(F.sum("_wq").cast("long").alias("_sumwq"))
    budget_d = F.floor(
        F.lit(float(budget_tokens))
        * counts["_wq"].cast("double")
        / totals["_sumwq"].cast("double")
    ).cast("long")
    plan = counts.crossJoin(F.broadcast(totals)).select(
        "domain", budget_d.alias("tok_budget")
    )
    h = _hash60(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    ordered = df.select(
        F.col(id_col),
        F.col(domain_col).alias("domain"),
        F.col(ntok_col).cast("long").alias("_nt"),
        h.alias("_h"),
    )
    w = (
        Window.partitionBy("domain")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ordered.withColumn(
            "tok_start", F.coalesce(F.sum("_nt").over(w), F.lit(0)).cast("long")
        )
        .join(F.broadcast(plan), "domain")
        .filter(F.col("tok_start") < F.col("tok_budget"))
        .select(id_col, "domain", "tok_start")
    )
