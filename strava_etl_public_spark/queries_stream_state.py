"""Streaming sink / state queries: the ManagedTable streaming sinks
and sources (MERGE, CDF, Arrow and JVM append, multi-writer).

Split from queries_sketch.py and queries_curation.py (round 9, verdict #6 file-size
discipline): registrations, names, and oracle SQL are unchanged —
the aggregator queries_ext.py imports this module after its source
modules, and driver-query iteration order is fixed by
queries.QUERY_ORDER regardless of module layout.
"""

from __future__ import annotations

import uuid  # noqa: F401  (shared header across family modules)

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import Window as W  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .functions import epoch as ep  # noqa: F401
from .io import load  # noqa: F401
from .session import ensure_harness_conf  # noqa: F401
from .queries_common import register, register_extra, streams  # noqa: F401
from .queries_text_mm_stream import _run_stream, _stage_events_dir  # noqa: F401


@register_extra(
    "x_stream_table_merge",
    oracle="""
WITH latest AS (
  SELECT user_id,
         max(event_id) AS event_id
  FROM events GROUP BY user_id
)
SELECT l.user_id,
       CAST(l.event_id AS BIGINT) AS event_id,
       e.event_type,
       CAST(round(e.value * 1000000, 0) AS BIGINT) AS vmic,
       TRUE AS replay_skipped, TRUE AS every_batch_versioned
FROM latest l JOIN events e
  ON e.user_id = l.user_id AND e.event_id = l.event_id
""",
)
def x_stream_table_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE into the MANAGED TABLE — the Delta
    streaming-sink contract closing the table layer's streaming face:
    each micro-batch publishes one table version whose commit record
    carries the batch id ATOMICALLY (the txn marker rides in the same
    record write), so after the stream drains the table holds the
    batch LWW state AND every micro-batch is a time-travelable
    version. Exactly-once is then checkpoint-INDEPENDENT: a second run
    of the same stream from a FRESH checkpoint replays every batch id
    from 0, and the published chain's high-water txn skips them all —
    proven in-row (version count unchanged after the replay run). The
    oracle recomputes the LWW state relationally (arg-max per user);
    event_id is a unique total order so the state is micro-batch-
    slicing-invariant. Reference parity: the Firestore doc.set() store
    (firebase_functions.py:50-60) upgraded to a versioned, replay-safe
    table."""
    ensure_harness_conf(spark)
    import os
    import shutil
    import tempfile

    from .operators.table import ManagedTable
    from .streaming.ingest import EVENTS_SCHEMA, table_merge_sink

    stage = _stage_events_dir(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="stream_table_")
    path = os.path.join(root, "t")
    cols = ["event_id", "ts", "user_id", "event_type", "value"]

    def _stream():
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 4)
            .parquet(stage)
            .select(*cols)
        )

    try:
        empty = spark.read.parquet(stage).select(*cols).filter(F.lit(False))
        t = ManagedTable.create(empty, path, key="user_id")
        q = table_merge_sink(
            _stream(), path, "user_id", "event_id",
            os.path.join(root, "ck1"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        v_drained = t.version()
        every_batch_versioned = v_drained == t.last_txn() + 2  # v1 = create

        # checkpoint-loss replay: fresh checkpoint, same files — every
        # batch id repeats from 0 and must be skipped by the txn chain
        q2 = table_merge_sink(
            _stream(), path, "user_id", "event_id",
            os.path.join(root, "ck2"),
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        replay_skipped = t.version() == v_drained

        out = t.read().select(
            "user_id",
            F.col("event_id").cast("long").alias("event_id"),
            "event_type",
            F.round(F.col("value") * 1000000, 0).cast("long").alias("vmic"),
        )
        return out.withColumns(
            {
                "replay_skipped": F.lit(bool(replay_skipped)),
                "every_batch_versioned": F.lit(bool(every_batch_versioned)),
            }
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


@register_extra(
    "x_stream_table_cdf",
    oracle="""
WITH base AS (
  SELECT event_id, user_id % 8 AS bucket,
         CAST(floor(value * 1000000) AS BIGINT) AS vmic
  FROM events
),
s1 AS (SELECT * FROM base WHERE event_id % 3 <> 0),
s2 AS (SELECT * FROM s1 WHERE event_id % 5 <> 0),
s3 AS (SELECT event_id, bucket,
              CASE WHEN bucket = 1 THEN vmic + 1000000 ELSE vmic END AS vmic
       FROM s2),
s4 AS (SELECT * FROM s3
       UNION ALL SELECT * FROM base WHERE event_id % 3 = 0),
s5 AS (SELECT event_id, bucket,
              CASE WHEN bucket = 2 THEN vmic + 7 ELSE vmic END AS vmic
       FROM s4)
SELECT bucket, CAST(sum(vmic) AS BIGINT) AS total,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(5 AS BIGINT) AS n_batches,
       TRUE AS caught_up_zero, TRUE AS rollback_replayed
FROM s5 GROUP BY bucket
""",
)
def x_stream_table_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming READ of the managed table — the readChangeFeed face
    (round-10 verdict #4): a consumer tails the source table's commit
    chain one version per micro-batch (streaming.ingest.table_cdf_tail)
    and maintains a per-bucket (SUM, COUNT) aggregate by retraction
    arithmetic over ManagedTable.changes_signed. For DV/append windows
    the signed delta is read from the PHYSICAL change files (DV delta +
    window _upd rows — cost ∝ change volume, never a table scan); the
    MERGE commit in the chain exercises the snapshot-diff fallback in
    the same row.

    Exactly-once needs NO external checkpoint: the cursor is the
    result table's own txn marker, stamped atomically with each folded
    batch. Proven in-row: n_batches = 5 (initial snapshot + one per
    source commit — multi-batch consumption), a fresh caught-up
    consumer applies 0 batches, and a ROLLBACK of the result table
    re-opens exactly the rolled-back batch (replayed once, state exact
    again). The oracle recomputes the final aggregate relationally
    through the whole DML history. Reference parity: the reference's
    consumers re-read its whole store per poll (main.py history
    scan); this is change-volume-priced consumption of the same
    state."""
    ensure_harness_conf(spark)
    import os
    import shutil
    import tempfile

    from .operators.table import ManagedTable
    from .streaming.ingest import table_cdf_tail

    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        (F.col("user_id") % 8).cast("long").alias("bucket"),
        F.floor(F.col("value") * 1000000).cast("long").alias("vmic"),
    )
    root = tempfile.mkdtemp(prefix="cdf_tail_")
    src_path = os.path.join(root, "src")
    out_path = os.path.join(root, "agg")
    try:
        t = ManagedTable.create(
            base.filter(F.col("event_id") % 3 != 0).repartition(8),
            src_path,
            key="event_id",
        )
        t.delete(F.col("event_id") % 5 == 0)
        t.update(F.col("bucket") == 1, {"vmic": F.col("vmic") + 1000000})
        t.append(base.filter(F.col("event_id") % 3 == 0))
        merge_src = (
            t.read()
            .filter(F.col("bucket") == 2)
            .withColumn("vmic", F.col("vmic") + 7)
        )
        t.merge(merge_src)

        n_batches = table_cdf_tail(t, out_path, "bucket", "vmic")
        caught_up_zero = (
            table_cdf_tail(t, out_path, "bucket", "vmic") == 0
        )
        out = ManagedTable(spark, out_path)
        before = sorted(map(tuple, out.read().collect()))
        out.rollback(out.version() - 1)
        replayed = table_cdf_tail(t, out_path, "bucket", "vmic")
        after = sorted(map(tuple, out.read().collect()))
        rollback_replayed = replayed == 1 and before == after

        return (
            out.read()
            .select(
                "bucket",
                F.col("total").cast("long").alias("total"),
                F.col("n_rows").cast("long").alias("n_rows"),
            )
            .withColumns(
                {
                    "n_batches": F.lit(int(n_batches)).cast("long"),
                    "caught_up_zero": F.lit(bool(caught_up_zero)),
                    "rollback_replayed": F.lit(bool(rollback_replayed)),
                }
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_stream_table_cdf_source",
    oracle="""
WITH base AS (
  SELECT event_id, user_id % 8 AS bucket,
         CAST(floor(value * 1000000) AS BIGINT) AS vmic
  FROM events
),
s2 AS (SELECT * FROM base WHERE event_id % 5 <> 0),
s3 AS (SELECT event_id, bucket,
              CASE WHEN bucket = 1 THEN vmic + 1000000 ELSE vmic END AS vmic
       FROM s2),
s4 AS (SELECT * FROM s3
       UNION ALL
       SELECT event_id + 1000000000, bucket, vmic + 3
       FROM base WHERE event_id % 7 = 0),
s5 AS (SELECT * FROM s4
       UNION ALL
       SELECT CAST(9000000000 AS BIGINT), CAST(0 AS BIGINT),
              CAST(42 AS BIGINT))
SELECT bucket, CAST(sum(vmic) AS BIGINT) AS total,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(4 AS BIGINT) AS n_batches,
       TRUE AS resume_exact
FROM s5 GROUP BY bucket
""",
)
def x_stream_table_cdf_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The managed table as a REAL Structured Streaming source —
    ``spark.readStream.format("table_cdf")`` (sources/table_cdf.py, the
    Spark-4 Python DataSource streaming API): offsets are table
    VERSIONS in the engine's own checkpoint, each micro-batch is one
    commit window's signed delta, and every InputPartition is ONE
    physical change file read executor-side with pyarrow (positions
    reconstructed by sequential read order — the _metadata.row_index
    contract the DV writer used). The driver touches only commit
    metadata and the DV sidecar's _file column; cost ∝ change volume.

    The run drives DELETE → UPDATE → APPEND through FOUR sequential
    drains of one checkpoint lineage (so multi-batch consumption is
    structural, n_batches = 4), folds the signed rows onto the v1
    snapshot relationally, and proves engine-offset exactly-once by
    asserting the final drain consumed EXACTLY the one appended row
    (resume_exact). The oracle recomputes the final per-bucket
    aggregate through the whole DML history. Copy-commit windows
    raise by contract (Delta's readChangeFeed cut) — that arm is
    pinned in tests/test_table_cdf_source.py."""
    ensure_harness_conf(spark)
    import os
    import shutil
    import tempfile
    import uuid as _uuid

    from .operators.table import ManagedTable
    from .sources.table_cdf import register_cdf_stream

    register_cdf_stream(spark)
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        (F.col("user_id") % 8).cast("long").alias("bucket"),
        F.floor(F.col("value") * 1000000).cast("long").alias("vmic"),
    )
    root = tempfile.mkdtemp(prefix="cdf_src_")
    src_path = os.path.join(root, "src")
    acc_dir = os.path.join(root, "acc")
    ckpt = os.path.join(root, "ck")
    try:
        t = ManagedTable.create(base.repartition(8), src_path, key="event_id")
        v0 = t.version()

        counts = {"batches": 0, "last": 0}

        def _drain():
            counts["last"] = 0

            def sink(df, bid):
                n = df.count()
                if n:
                    counts["batches"] += 1
                    counts["last"] += n
                    df.write.mode("append").parquet(acc_dir)

            q = (
                spark.readStream.format("table_cdf")
                .option("path", src_path)
                .option("starting_version", v0)
                .load()
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .queryName(f"cdf_{_uuid.uuid4().hex[:8]}")
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        t.delete(F.col("event_id") % 5 == 0)
        _drain()
        t.update(F.col("bucket") == 1, {"vmic": F.col("vmic") + 1000000})
        _drain()
        t.append(
            base.filter(F.col("event_id") % 7 == 0).select(
                (F.col("event_id") + 1000000000).alias("event_id"),
                "bucket",
                (F.col("vmic") + 3).alias("vmic"),
            )
        )
        _drain()
        t.append(
            spark.createDataFrame(
                [(9000000000, 0, 42)],
                "event_id long, bucket long, vmic long",
            )
        )
        _drain()
        resume_exact = counts["last"] == 1

        signed = spark.read.parquet(acc_dir).select(
            "bucket", "vmic", F.col("sign").cast("long").alias("sign")
        )
        snap = t.read(version=v0).select(
            "bucket", "vmic", F.lit(1).cast("long").alias("sign")
        )
        out = (
            snap.unionByName(signed)
            .groupBy("bucket")
            .agg(
                F.sum(F.col("vmic") * F.col("sign"))
                .cast("long")
                .alias("total"),
                F.sum("sign").cast("long").alias("n_rows"),
            )
            .withColumns(
                {
                    "n_batches": F.lit(int(counts["batches"])).cast("long"),
                    "resume_exact": F.lit(bool(resume_exact)),
                }
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_stream_table_sink",
    oracle="""
WITH base AS (
  SELECT event_id, user_id, event_type FROM events
),
fp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(bit_xor(h) AS BIGINT) AS xor_hash,
         CAST(sum(h) % 1152921504606846976 AS BIGINT) AS sum_hash_mod
  FROM (SELECT CAST(concat('0x', substr(md5(concat_ws(chr(31),
           coalesce(CAST(event_id AS VARCHAR), chr(30)),
           coalesce(CAST(user_id AS VARCHAR), chr(30)),
           coalesce(event_type, chr(30)))), 1, 15)) AS BIGINT) AS h
        FROM base)
)
SELECT 'sink_events' AS dataset, fp.n_rows, fp.xor_hash, fp.sum_hash_mod,
       TRUE AS multi_batch, TRUE AS digest_chain_exact,
       TRUE AS replay_dropped
FROM fp
""",
)
def x_stream_table_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine-native streaming WRITE path into the managed table
    — ``df.writeStream.format("managed_table_sink")``
    (sources/table_sink.py, the Spark-4.1 Arrow stream-writer API),
    completing the table's DataSource matrix (batch read with
    pushdown, streaming CDF read, streaming append write). Executors
    stream Arrow batches straight into staged parquet files and fold
    per-partition content digests into their commit messages
    (commutative monoids — task retries reproduce, never corrupt);
    the driver's commit() publishes each micro-batch as ONE
    blind-append reference commit whose digest derives by group-op
    addition and whose txn marker is the engine batchId, atomic with
    the version.

    The run seeds the table with a third of events, streams the other
    two thirds from a two-file parquet dir (maxFilesPerTrigger=1 →
    two commits, multi_batch proven by the version delta), audits the
    DERIVED digest chain against a live fingerprint of the final
    table (digest_chain_exact — the executor md5 replica and the
    group-op addition must both be exact), and replays the same data
    through a FRESH checkpoint (checkpoint loss): the txn guard drops
    every batch, version unchanged (replay_dropped). Oracle: the
    fingerprint of all of events."""
    ensure_harness_conf(spark)
    import json as _json
    import os
    import shutil
    import tempfile

    from .operators.layout import dataset_fingerprint
    from .operators.table import ManagedTable
    from .sources.table_sink import register_table_sink

    register_table_sink(spark)
    ev = load(spark, sf_dir, "events")
    base = ev.select("event_id", "user_id", "event_type")
    root = tempfile.mkdtemp(prefix="sink_gate_")
    path = os.path.join(root, "t")
    src = os.path.join(root, "src")
    try:
        t = ManagedTable.create(
            base.filter(F.col("event_id") % 3 == 0).repartition(4),
            path,
            key="event_id",
        )
        base.filter(F.col("event_id") % 3 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        base.filter(F.col("event_id") % 3 == 2).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        v0 = t.version()

        def run(ckpt: str) -> None:
            q = (
                spark.readStream.schema(
                    "event_id long, user_id long, event_type string"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .writeStream.format("managed_table_sink")
                .option("path", path)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run(os.path.join(root, "ck1"))
        v1 = t.version()
        multi_batch = v1 - v0 == 2  # one commit per micro-batch
        rec = _json.load(
            open(os.path.join(path, "_commits", f"{v1}.json"))
        )
        live = dataset_fingerprint(t.read()).collect()[0].asDict()
        chain_exact = (
            rec["n_rows"],
            rec["xor_hash"],
            rec["sum_hash_mod"],
        ) == (live["n_rows"], live["xor_hash"], live["sum_hash_mod"])
        run(os.path.join(root, "ck2"))  # checkpoint loss → txn guard
        replay_dropped = t.version() == v1

        cols = ["event_id", "user_id", "event_type"]
        fp = dataset_fingerprint(
            t.read().select(*cols), cols, label="sink_events"
        )
        return fp.withColumns(
            {
                "multi_batch": F.lit(bool(multi_batch)),
                "digest_chain_exact": F.lit(bool(chain_exact)),
                "replay_dropped": F.lit(bool(replay_dropped)),
            }
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register_extra(
    "x_stream_table_sink_jvm",
    oracle="""
WITH base AS (
  SELECT event_id, user_id, event_type FROM events
),
fp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(bit_xor(h) AS BIGINT) AS xor_hash,
         CAST(sum(h) % 1152921504606846976 AS BIGINT) AS sum_hash_mod
  FROM (SELECT CAST(concat('0x', substr(md5(concat_ws(chr(31),
           coalesce(CAST(event_id AS VARCHAR), chr(30)),
           coalesce(CAST(user_id AS VARCHAR), chr(30)),
           coalesce(event_type, chr(30)))), 1, 15)) AS BIGINT) AS h
        FROM base)
)
SELECT 'sink_events_jvm' AS dataset, fp.n_rows, fp.xor_hash,
       fp.sum_hash_mod, TRUE AS multi_batch,
       TRUE AS digest_chain_exact, TRUE AS replay_dropped
FROM fp
""",
)
def x_stream_table_sink_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM-NATIVE streaming append path (r13, verdict #2):
    checkpointed ``foreachBatch`` → ``ManagedTable.append`` with the
    engine batchId as an atomic txn marker
    (streaming.ingest.table_append_sink_jvm). The micro-batch's
    parquet lands via Spark's JVM writer at full parallelism and the
    content digest is the engine-side conv/substring/md5 aggregate —
    no Arrow transport, which SCALE.md's r12 decomposition proved is
    the Python-DataSource sink's whole 3.3× floor (a do-nothing
    Arrow sink costs the same). Measured in
    scripts/scale.py sink; the Arrow sink
    (``x_stream_table_sink_multi``'s path) stays as the no-closure
    fallback.

    Because this path runs THROUGH the engine it has none of the
    Arrow sink's restrictions — the run streams the ``value`` DOUBLE
    column (which the Arrow sink's cast-stability gate refuses) and
    the commit-chain audit still proves digest_chain_exact, since
    both the commit digest and the live fingerprint render
    engine-side. Same three-way gate as the Arrow sink face:
    multi-batch versioning, derived-digest exactness, checkpoint-loss
    replay dropped by the lineage txn guard. Oracle: fingerprint of
    all of events on the cast-stable columns."""
    ensure_harness_conf(spark)
    import os
    import shutil
    import tempfile

    from .operators.layout import dataset_fingerprint
    from .operators.table import ManagedTable
    from .streaming.ingest import table_append_sink_jvm

    ev = load(spark, sf_dir, "events")
    base = ev.select("event_id", "user_id", "event_type", "value")
    root = tempfile.mkdtemp(prefix="sink_jvm_gate_")
    path = os.path.join(root, "t")
    src = os.path.join(root, "src")
    try:
        t = ManagedTable.create(
            base.filter(F.col("event_id") % 3 == 0).repartition(4),
            path,
            key="event_id",
        )
        base.filter(F.col("event_id") % 3 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        base.filter(F.col("event_id") % 3 == 2).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        v0 = t.version()

        def run(ckpt: str) -> None:
            q = table_append_sink_jvm(
                spark.readStream.schema(
                    "event_id long, user_id long, event_type string, "
                    "value double"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                path,
                ckpt,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run(os.path.join(root, "ck1"))
        v1 = t.version()
        multi_batch = v1 - v0 == 2  # one commit per micro-batch
        rec = t._record(v1)
        live = dataset_fingerprint(t.read()).collect()[0].asDict()
        chain_exact = (
            rec["n_rows"],
            rec["xor_hash"],
            rec["sum_hash_mod"],
        ) == (live["n_rows"], live["xor_hash"], live["sum_hash_mod"])
        run(os.path.join(root, "ck2"))  # checkpoint loss → txn guard
        replay_dropped = t.version() == v1

        cols = ["event_id", "user_id", "event_type"]
        fp = dataset_fingerprint(
            t.read().select(*cols), cols, label="sink_events_jvm"
        )
        return fp.withColumns(
            {
                "multi_batch": F.lit(bool(multi_batch)),
                "digest_chain_exact": F.lit(bool(chain_exact)),
                "replay_dropped": F.lit(bool(replay_dropped)),
            }
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_stream_table_sink_multi",
    oracle="""
WITH base AS (
  SELECT event_id, user_id, event_type FROM events
),
fp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(bit_xor(h) AS BIGINT) AS xor_hash,
         CAST(sum(h) % 1152921504606846976 AS BIGINT) AS sum_hash_mod
  FROM (SELECT CAST(concat('0x', substr(md5(concat_ws(chr(31),
           coalesce(CAST(event_id AS VARCHAR), chr(30)),
           coalesce(CAST(user_id AS VARCHAR), chr(30)),
           coalesce(event_type, chr(30)))), 1, 15)) AS BIGINT) AS h
        FROM base)
)
SELECT 'sink_multi_events' AS dataset, fp.n_rows, fp.xor_hash,
       fp.sum_hash_mod, TRUE AS second_query_landed,
       TRUE AS per_id_replay_dropped, TRUE AS cursors_independent
FROM fp
""",
)
def x_stream_table_sink_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAMESPACED SINK TXN CURSORS (the r11 advice fix, oracle-gated):
    two independent streaming queries — distinct ``txnAppId``s, fresh
    checkpoints, overlapping batchIds both starting at 0 — write
    disjoint slices into ONE managed table through the Arrow sink.
    Without namespacing, the second query's early micro-batches were
    silently dropped as replays of the first lineage's batchIds
    (Delta's (appId, version) txn contract is exactly this fix).

    Packed invariants, each recomputed live: the second query's rows
    LANDED; a checkpoint-loss replay of EACH query (same id, fresh
    checkpoint) drops — the per-id guard still holds; the two ids'
    high-water cursors read independently via
    ``last_txn(txn_id)`` from the O(1) per-record fold. Final state
    hash-matches the relational union of the three slices."""
    ensure_harness_conf(spark)
    import os
    import shutil
    import tempfile

    from .operators.layout import dataset_fingerprint
    from .operators.table import ManagedTable
    from .sources.table_sink import register_table_sink

    register_table_sink(spark)
    ev = load(spark, sf_dir, "events")
    base = ev.select("event_id", "user_id", "event_type")
    root = tempfile.mkdtemp(prefix="sink_multi_")
    path = os.path.join(root, "t")
    try:
        t = ManagedTable.create(
            base.filter(F.col("event_id") % 3 == 0).repartition(4),
            path,
            key="event_id",
        )

        def run(which: int, ckpt: str, app_id: str) -> None:
            src = os.path.join(root, f"src{which}")
            if not os.path.isdir(src):
                base.filter(
                    F.col("event_id") % 3 == which
                ).coalesce(1).write.mode("append").parquet(src)
            q = (
                spark.readStream.schema(
                    "event_id long, user_id long, event_type string"
                )
                .parquet(src)
                .writeStream.format("managed_table_sink")
                .option("path", path)
                .option("checkpointLocation", os.path.join(root, ckpt))
                .option("txnAppId", app_id)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run(1, "ck1", "ingest-one")  # batchId 0 under id one
        n1 = t.read().count()
        run(2, "ck2", "ingest-two")  # batchId 0 AGAIN, different id
        n2 = t.read().count()
        second_landed = n2 > n1

        # checkpoint-loss replay per id: same data, same id, fresh
        # checkpoint — batchId 0 is at-or-below that id's high-water
        run(1, "ck1b", "ingest-one")
        run(2, "ck2b", "ingest-two")
        replay_dropped = t.read().count() == n2

        cursors_independent = (
            t.last_txn("ingest-one") == 0
            and t.last_txn("ingest-two") == 0
            and t.last_txn("ingest-three") == -1
            and t.last_txn() == -1  # no un-namespaced lineage
        )
        fp = dataset_fingerprint(
            t.read(), label="sink_multi_events"
        )
        return fp.withColumns(
            {
                "second_query_landed": F.lit(bool(second_landed)),
                "per_id_replay_dropped": F.lit(bool(replay_dropped)),
                "cursors_independent": F.lit(bool(cursors_independent)),
            }
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
