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
