"""Scalar expression layer (SURVEY §2 N2-N6, N8, N11-N13, §2.H).

Column-in/Column-out builders over pyspark.sql.functions only — every
expression stays inside whole-stage codegen; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"
#: 5 years in seconds — BigQuery partition-retention workaround constant
#: (reference main.py:138).
RETENTION_SECONDS = 157_680_000


def ts_string_to_epoch(col: Column | str, fmt: str = ISO_FMT) -> Column:
    """ISO-8601 string → epoch seconds (N2; reference strava_sdk.py:210,
    UTC forced via session timezone like the reference's TZ env)."""
    return F.unix_timestamp(F.col(col) if isinstance(col, str) else col, fmt).cast("long")


def epoch_to_ts_string(col: Column | str, fmt: str = ISO_FMT) -> Column:
    """Epoch seconds → formatted UTC string (N3; reference main.py:140)."""
    return F.date_format(F.from_unixtime(F.col(col) if isinstance(col, str) else col), fmt)


def retention_clamp(
    epoch_col: Column, ts_col: Column, now_epoch: Column, retention_s: int = RETENTION_SECONDS
) -> Column:
    """Rewrite timestamps older than the retention horizon to
    ``now - retention + 1d`` (N4; reference main.py:136-140)."""
    clamped = epoch_to_ts_string(now_epoch - F.lit(retention_s) + F.lit(86_400))
    return F.when(now_epoch - epoch_col > retention_s, clamped).otherwise(ts_col)


def md5_base64(col: Column | str) -> Column:
    """base64(md5_digest(x)) (N11; reference firebase_functions.py:19-22).

    Spark's ``md5`` returns hex, so ``unhex`` recovers the raw 16-byte
    digest before base64 — semantically the sane version of the
    reference (which keeps a stray quote from the bytes repr,
    firebase_functions.py:22; SURVEY §2.K-6 documents the delta).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.base64(F.unhex(F.md5(c)))


def clamp_negative_to_null(col: Column | str) -> Column:
    """x if x >= 0 else NULL (N8; reference main.py:109-117)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c >= 0, c)


def is_connected(code_col: Column | str, min_len: int = 3) -> Column:
    """Null-safe ``len(strava_code) > 3`` predicate, default False
    (N13; reference firebase_functions.py:132-140)."""
    c = F.col(code_col) if isinstance(code_col, str) else code_col
    return F.coalesce(F.length(c) > min_len, F.lit(False))
