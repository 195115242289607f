"""Fixture-table readers (TESTDATA.md parquet layout)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Raise scan-side parallelism when the source arrives in fewer
    splits than the cluster has cores.

    Parquet is splittable only at row-group boundaries; a small file
    (or one written with a single row group, like the fixtures) scans
    as ONE task, which serializes every pre-shuffle map stage — regex
    tokenization, shingling, vector math — onto one core no matter the
    cluster size. The guard, not the repartition, is the 100 TB
    discipline: a real-scale scan already has >= cores splits, so this
    is a plan-time no-op there, while pathologically-packed inputs get
    an explicit round-robin fan-out (one bounded shuffle of the raw
    scan, repaid immediately by map-stage parallelism).
    """
    spark = df.sparkSession
    n = target or spark.sparkContext.defaultParallelism
    # Estimate scan splits from file metadata (count + bytes /
    # maxPartitionBytes) instead of df.rdd.getNumPartitions(): the RDD
    # translation forces a full plan conversion at build time, while
    # inputFiles() + os.path metadata is a driver-side stat call.
    files = df.inputFiles()
    if not files:  # not a file scan — nothing to estimate, leave as-is
        return df
    local = [f.removeprefix("file:") for f in files if f.startswith("file:")]
    total = sum(os.path.getsize(f) for f in local if os.path.exists(f))
    max_split = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    est_splits = max(len(files), -(-total // max_split))
    if est_splits < n:
        return df.repartition(n)
    return df


def _parse_bytes(v: str) -> int:
    """'128m' / '16m' / '134217728' / '134217728b' → bytes."""
    s = v.strip().lower()
    for suffix, mult in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if s.endswith(suffix):
            return int(s[: -len(suffix)]) * mult
    return int(s)


def load(spark: SparkSession, sf_dir: str, name: str, fan: bool = False) -> DataFrame:
    """Read one fixture table. Parquet scan → Catalyst pushes filters &
    prunes columns of downstream plans into this scan for free.

    ``fan=True`` opts in to :func:`fan_out` — use it for pipelines whose
    map stage is CPU-heavy (regex tokenization, shingling, vector math),
    where a single-split scan would serialize that work onto one core.
    Relational/window queries should leave it off: their map side is
    scan-speed and parallelism returns at the first shuffle, so the
    extra round-robin shuffle is pure cost.
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return fan_out(df) if fan else df


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink with header — the interchange face (exports, legacy
    consumers). Nulls serialize as empty fields; readers must supply
    an explicit schema (CSV carries none — inference rescans and
    guesses, both wrong at scale)."""
    df.write.mode(mode).option("header", "true").csv(path)


def read_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """Schema-first CSV source: explicit StructType, header skipped,
    PERMISSIVE mode (malformed rows become NULLs instead of killing
    the job — count them via a required-column IS NULL filter). No
    inference pass, splittable scan."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink — the training-data interchange format (one
    document per line, append-friendly, splittable)."""
    df.write.mode(mode).json(path)


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """Schema-first JSON-lines source; PERMISSIVE like read_csv."""
    return spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)
