"""Correctness gate, run after the timed window.

* :func:`activity_oracle` — records in a table against the DuckDB
  oracle of ``x_pipeline_activity_e2e`` (``_e2e_oracle``) computed on
  the same generated events, for a seeded sample of activities (the
  oracle is per activity, so restricting its input to the sample
  leaves each sampled activity's result unchanged).
* :func:`same_digest` — two tables hold the same rows: their commit
  digests (row count, XOR and modular sum of row hashes) agree.
* :func:`corpus_oracle` — per-document keep flags against the DuckDB
  oracle of ``x_pipeline_corpus_filter`` (``_corpus_filter_oracle``).

Each returns ``(check, ok, detail)``.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import pipeline
from strava_etl_public_spark.queries_dedup_sim import _e2e_oracle
from strava_etl_public_spark.queries_sketch import _corpus_filter_oracle

CURATION_FLAGS = (
    "lang_ok",
    "quality_ok",
    "repetition_ok",
    "decontam_ok",
    "dedup_keep",
    "keep",
)


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    return con


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return v.item() if hasattr(v, "item") else v


def _rows(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    return sorted(
        (tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False)),
        key=repr,
    )


def _compare(name: str, got: pd.DataFrame, want: pd.DataFrame, cols: list[str]):
    g, w = _rows(got, cols), _rows(want, cols)
    if g == w:
        return name, True, f"{len(g)} rows equal"
    diff = next((i for i, (a, b) in enumerate(zip(g, w)) if a != b), min(len(g), len(w)))
    return name, False, (
        f"{len(g)} rows vs {len(w)} expected; first difference at row {diff}: "
        f"{g[diff] if diff < len(g) else None} vs {w[diff] if diff < len(w) else None}"
    )


def activity_oracle(check: str, table, src_dir: str, sample: list[int]):
    key = pipeline.KEY
    maxes = [f"max_{c}_{w}" for c in pipeline.METRICS for w in pipeline.WINDOWS]
    got = (
        table.read()
        .filter(F.col(key).isin(sample))
        .select(
            key,
            "name_id",
            F.size("streams").cast("long").alias("n_ticks"),
            F.filter("streams", lambda x: x["hr"].isNotNull())[0]["hr"].alias("first_hr"),
            F.element_at("streams", -1)["hr"].alias("last_hr"),
            *[F.col("maxs")[0][m].alias(m) for m in maxes],
        )
        .toPandas()
    )
    ids = ", ".join(str(i) for i in sample)
    with _duck() as con:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{os.path.join(src_dir, 'events.parquet')}') WHERE user_id IN ({ids})"
        )
        want = con.execute(_e2e_oracle()).df()
    cols = [key, "name_id", "n_ticks", "first_hr", "last_hr", *maxes]
    return _compare(check, got, want, cols)


def same_digest(synced, version: int, backfilled):
    """``synced`` as of ``version`` holds the rows ``backfilled`` holds now."""

    def digest(t, v):
        row = t.history().filter(F.col("version") == v).first()
        return (row["n_rows"], row["xor_hash"], row["sum_hash_mod"])

    da, db = digest(synced, version), digest(backfilled, backfilled.version())
    return "sync_vs_backfill_digest", da == db, f"{da} vs {db}"


def corpus_oracle(flags: DataFrame, src_dir: str):
    got = flags.select("doc_id", *CURATION_FLAGS).toPandas()
    with _duck() as con:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(src_dir, 'documents.parquet')}')"
        )
        want = con.execute(_corpus_filter_oracle()).df()
    return _compare("corpus_oracle", got, want, ["doc_id", *CURATION_FLAGS])
