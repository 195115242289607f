"""Watermark-based incremental ingest (SURVEY §2 A1/A5/G1/S1/T1).

The reference resumes from ``SELECT max(epoch) … WHERE username = ?``
read back from the warehouse, one user at a time (reference
main.py:187-197,199-203; per-row watermark coercion None→0 at
strava_sdk.py:87-90). The rebuild is set-based: ONE aggregation
computes every user's watermark (kills the per-user N+1 loop, SURVEY §4
P7), and the incremental scan is a filter + top-N that Catalyst
compiles to TakeOrderedAndProject with the predicate pushed into the
parquet scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def watermark(sink: DataFrame, user_col: str, epoch_col: str) -> DataFrame:
    """Per-user high-watermark, NULL→0 (A5/G1; reference main.py:190-195)."""
    return sink.groupBy(user_col).agg(
        F.coalesce(F.max(epoch_col), F.lit(0)).cast("long").alias("watermark_epoch")
    )


def watermark_for(sink: DataFrame, user_col: str, epoch_col: str, user: str) -> int:
    """Single-user watermark — the exact reference shape (main.py:187-197).

    Driver-side scalar read is legitimate here: it is ingest control
    flow, not the data path.
    """
    row = (
        sink.filter(F.col(user_col) == F.lit(user))
        .agg(F.coalesce(F.max(epoch_col), F.lit(0)).alias("w"))
        .first()
    )
    return int(row["w"]) if row and row["w"] is not None else 0


def incremental_scan(
    source: DataFrame,
    epoch_col: str,
    after_epoch: int,
    per_page: int | None = None,
    order_desc: bool = True,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Rows strictly newer than the watermark, newest-first, top-N
    (A1/T1; reference strava_sdk.py:85-111, ``after=max_time`` +
    ``per_page``). The filter is pushed into the scan; ``limit`` after
    ``orderBy`` becomes TakeOrderedAndProject (no full sort).

    ``tiebreak`` columns (e.g. the event id) make the page boundary
    deterministic when ``epoch_col`` has duplicates — ordering
    discipline T3: a limit without a total order is nondeterministic
    under retries/shuffles."""
    out = source.filter(F.col(epoch_col) > F.lit(after_epoch))
    if order_desc:
        out = out.orderBy(
            F.col(epoch_col).desc(), *[F.col(c).desc() for c in tiebreak]
        )
    if per_page is not None:
        out = out.limit(per_page)
    return out
