"""Python UDTFs — the imperative table-function extension point.

Spark 4's Python UDTF is the sanctioned escape hatch when an operator
genuinely needs per-row imperative logic that EMITS ROWS: the class's
eval() consumes input rows, terminate() yields output rows, and the
engine plans the call as a table function whose result composes with
ordinary relational operators downstream.

Discipline: the hot path stays declarative — the UDTF here has a
vectorized twin (ewma_final_udtf ≡ the last row per key of
rolling.ewma_by_key); the UDTF exists to prove the TABLE-argument
EXTENSION POINT works and is pinned to the same answer. A production
pipeline reaches for this only when the per-row logic can't be
expressed with built-ins (external tokenizers, stateful parsers).

Reference semantics: the reference walks per-activity payloads with
imperative Python loops (strava_sdk.py:137-176); this is the
Spark-native shape such loop logic should take when it must stay
imperative.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType="user_id bigint, n bigint, ewma double")
class EwmaFinalUDTF:
    """TABLE-argument UDTF — the Python table-function
    invocation form: `ewma_final_udtf(TABLE(v) PARTITION BY user_id
    ORDER BY (_ns, event_id))`. The engine shuffles rows by the
    PARTITION BY key, sorts each partition by the ORDER BY, and feeds
    one UDTF INSTANCE per partition row-by-row — per-partition
    imperative state via the SQL front door (the shape
    applyInPandasWithState covers in streaming, here for batch SQL
    users). Computes the FINAL per-key EWMA state (α=0.3), running
    literally the same s = 0.3·x + 0.7·s recursion as
    rolling.ewma_by_key — tests pin bit-identity between the two and
    the oracle is the recursive-CTE last-value query."""

    def __init__(self):
        self._key = None
        self._n = 0
        self._s = None

    def eval(self, row):
        self._key = row["user_id"]
        self._n += 1
        v = row["value"]
        # NULL → NaN, matching the pandas-path twin: ewma_by_key reads
        # the value column through pandas (NULL becomes NaN) and lets
        # NaN propagate through the recursion; float(None) would
        # instead raise and fail the whole query (code-review r8 low).
        x = float("nan") if v is None else float(v)
        self._s = x if self._s is None else 0.3 * x + 0.7 * self._s

    def terminate(self):
        if self._key is not None:
            s = self._s
            # the twin surfaces the poisoned state as NULL (Spark's
            # Arrow serializer maps pandas NaN → null on the way back)
            yield (self._key, self._n, None if s != s else s)


def register_udtfs(spark) -> None:
    """Idempotently register the UDTF inventory on a session."""
    spark.udtf.register("ewma_final_udtf", EwmaFinalUDTF)
