"""SparkSession factory.

UTC session timezone mirrors the reference forcing ``os.environ['TZ'] =
'UTC'`` (reference main.py:11, strava_sdk.py:9). AQE + coalesce handle
skewed activity sizes (reference main.py:56 allows elapsed_time up to
100 000 s, so per-activity row counts are highly skewed).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: AQE reducer sizing policy, env-parameterized (r14; optimization
#: guide §2.2 and the round rule that scale-dependent settings stay
#: conf/env knobs with local defaults). "false" (default) sizes
#: reducers by BYTES (16 MB advisory): measured 2-8× on the fixture
#: tiers, where core-count-many tiny tasks cost more scheduler/codegen
#: overhead than they recover. The cost appears at tiers where
#: data/16 MB < cores: gen-sf1 coalesces the activity-e2e dense-table
#: stages to ~10 partitions, so 8 cores already saturate them
#: (SCALE_r14.json: 8v32 ratio 1.0; parallelismFirst=true recovers
#: −16% at 32 cores there). At 100 TB data/advisory ≥ 10⁶ partitions
#: and the policy is irrelevant; on mid-size clusters set
#: SPARK_GRAFT_AQE_PARALLELISM_FIRST=true.
AQE_PARALLELISM_FIRST_ENV = "SPARK_GRAFT_AQE_PARALLELISM_FIRST"


def aqe_parallelism_first() -> str:
    """The AQE policy knob, read when a session is built or pinned (not
    at import, so a later setting takes effect), as ``"true"`` or
    ``"false"``; any other spelling raises instead of reaching Spark."""
    raw = os.environ.get(AQE_PARALLELISM_FIRST_ENV, "false")
    value = raw.strip().lower()
    if value not in ("true", "false"):
        raise ValueError(
            f"{AQE_PARALLELISM_FIRST_ENV} must be true or false, got {raw!r}"
        )
    return value


def get_spark(
    app_name: str = "strava_etl_public_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local SparkSession tuned for the test/bench harness.

    On a real cluster the master/memory settings come from spark-submit;
    everything here that matters at scale (UTC, AQE, Arrow, shuffle
    sizing) is cluster-appropriate as-is.
    """
    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 32)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # size reducers by bytes, not core count: tiny inputs coalesce to
        # a few tasks (measured 2-8x on multi-stage pipelines), large
        # inputs still get advisory-size-granular parallelism. 16m (not
        # the 64m default) so CPU-heavy window stages over mid-size
        # shuffles don't collapse to one core before data >> cores×64m.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            aqe_parallelism_first(),
        )
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # let AQE re-partition reads of cached plans (persisted
        # intermediates otherwise pin their partition count)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # some fixture generations carry parquet TIMESTAMP(NANOS), which
        # vanilla Spark rejects (PARQUET_TYPE_ILLEGAL) — read those as
        # long nanos; harmless for timestamp[us] generations. Queries
        # dispatch on the resulting dtype (functions/epoch.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_harness_conf(spark: SparkSession) -> SparkSession:
    """Pin the session settings correctness depends on.

    Called at the top of every driver-facing query so results are
    deterministic regardless of how the harness built its session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # TIMESTAMP(NANOS) fixture generations error in vanilla Spark
    # (PARQUET_TYPE_ILLEGAL) — read as long nanos; no-op for the
    # timestamp[us] generations. Downstream arithmetic dispatches on
    # the actual dtype either way (functions/epoch.py).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # byte-sized AQE reducers + cached-plan repartitioning (see get_spark)
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst",
        aqe_parallelism_first(),
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    return spark
