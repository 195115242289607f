"""Structured Streaming face of the incremental semantics (SURVEY §2.I).

The reference's batch watermark loop (S1, main.py:187-197) becomes a
checkpointed streaming source over events staged by
``normalize_events`` and read back with ``EVENTS_SCHEMA``; late data
is bounded with `withWatermark`. Two operators run on that stream:
tumbling/sliding ``windowed_counts`` and the stateful
``running_user_stats``. The Firestore upsert (S2) becomes a
checkpointed foreachBatch commit into a ManagedTable
(``table_merge_sink``, ``table_append_sink_jvm``), and
``table_cdf_tail`` consumes a table's commit chain incrementally.

Tests drive these with the file source + memory sink +
processAllAvailable() — the local-mode way to run a real streaming
query to completion synchronously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import epoch as ep

#: Schema of STAGED streaming input — ``ts`` is normalized epoch
#: nanoseconds (bigint). The fixture's physical encoding varies between
#: generations (TIMESTAMP_NS read as long vs timestamp[us] read as
#: TIMESTAMP_NTZ); ``normalize_events`` converts either to this schema
#: *before* staging, so the static readStream schema can never silently
#: reinterpret raw int64 values at the wrong grain.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # epoch NANOSECONDS (normalized)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def normalize_events(ev: DataFrame) -> DataFrame:
    """Rewrite ``ts`` to bigint epoch-nanos whatever its source dtype —
    the one type-dispatch point for the streaming staging path."""
    return ev.withColumn("ts", ep.epoch_ns(ev))


def with_event_time(stream: DataFrame) -> DataFrame:
    """Second-grain event time, dispatching on the actual ``ts`` dtype
    (normalized bigint-nanos from staging, or raw timestamp columns if
    a caller streams unstaged data)."""
    return stream.withColumn("event_time", ep.event_time(stream))


def windowed_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling-window counts with late-data bound (§2.I extension).

    ``slide`` makes the window SLIDING (e.g. 1-hour windows every 15
    minutes): each event lands in duration/slide overlapping windows —
    state rows multiply by that factor but stay watermark-bounded, and
    the grouping stays one hash-agg; no other change."""
    win = (
        F.window("event_time", window, slide)
        if slide
        else F.window("event_time", window)
    )
    return (
        with_event_time(stream)
        .withWatermark("event_time", watermark)
        .groupBy(win, "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            # decimal accumulation → order-independent double (queries.py header)
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("w_start"),
            F.col("window.end").alias("w_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def running_user_stats(stream: DataFrame) -> DataFrame:
    """Custom stateful operator (§2.I S2 / §2.J): per-user running
    event count + running max(value), maintained across micro-batches
    with ``applyInPandasWithState`` — the engine shape for streaming
    state the built-in windowed aggs can't express (the reference's
    Firestore doc mutation, generalized).

    Emits the updated running row for each user seen in each batch
    (update mode); the latest row per user (highest n_events) is the
    final state. Only order-independent aggregates (count, max) are
    kept so results are exactly comparable to the batch oracle
    regardless of micro-batch slicing.

    Scale: state lives in the state store keyed by user — partitioned,
    checkpointed, incrementally maintained; one shuffle on user_id per
    batch. Arrow moves rows, so the per-batch Python cost is columnar.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            n, m = state.get
        else:
            n, m = 0, None
        for pdf in pdfs:
            n += len(pdf)
            vals = pd.to_numeric(pdf["value"], errors="coerce").dropna()
            if len(vals):
                bm = float(vals.max())
                m = bm if m is None else max(m, bm)
        state.update((n, m))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [m]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType="user_id long, n_events long, max_value double",
        stateStructType="n long, m double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def table_merge_sink(
    stream: DataFrame,
    table_path: str,
    key: str,
    order_col: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    txn_id: str | None = None,
) -> "StreamingQuery":
    """Streaming MERGE into a ManagedTable with exactly-once batch
    markers — the Delta streaming-sink txn contract: each micro-batch
    publishes ONE table version whose commit record carries the batch
    id ATOMICALLY (the marker rides in the same commit-record write,
    so no crash window can separate them), and on restart a batch at
    or below the published chain's high-water txn is SKIPPED instead
    of re-merged. The LWW fold itself is idempotent for a
    deterministic source, but the marker is what makes the guarantee
    hold for ANY fold and makes replays free (no re-shuffle of the
    table). The table gains full time travel over the stream's
    history: every micro-batch is a queryable version.

    The table must exist (ManagedTable.create with the initial state,
    possibly empty). Returns the started StreamingQuery."""
    from ..operators.table import ManagedTable
    from ..operators.upsert import upsert_last_writer_wins

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        if bdf.isEmpty():
            return
        t = ManagedTable(bdf.sparkSession, table_path)
        if batch_id <= t.last_txn(txn_id):
            return  # replayed batch: already in the published lineage
        merged = upsert_last_writer_wins(t.read(), bdf, key, order_col)
        extra: dict = {"txn": int(batch_id)}
        if txn_id is not None:
            # namespaced replay cursor (Delta's appId txn): several
            # independent queries can merge into one table without
            # one lineage's batchIds masking another's
            extra["txn_id"] = str(txn_id)
        t._commit(merged, extra=extra)

    return (
        stream.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_sink)
        .start()
    )


def table_append_batch_jvm(
    table_path: str, txn_id: str | None = None
):
    """The per-micro-batch function behind
    :func:`table_append_sink_jvm`, exposed so tests can drive replay
    semantics directly (call it twice with one batch id — the second
    is a no-op)."""
    from ..operators.table import ManagedTable

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        if bdf.isEmpty():
            return
        t = ManagedTable(bdf.sparkSession, table_path)
        if batch_id <= t.last_txn(txn_id):
            return  # replayed batch: already in the published lineage
        # append runs the micro-batch once (its digest is observed on
        # the write), so nothing needs caching here
        t.append(bdf, txn=int(batch_id), txn_id=txn_id)

    return _sink


def table_append_sink_jvm(
    stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    txn_id: str | None = None,
) -> "StreamingQuery":
    """JVM-native streaming APPEND into a ManagedTable (r13, verdict
    #2): checkpointed ``foreachBatch`` → ``ManagedTable.append`` —
    the batch's parquet files are written by Spark's JVM writer at
    full parallelism and the content digest is the engine-side
    aggregate (conv/substring/md5 inside whole-stage codegen), so the
    per-row cost is exactly the bulk-load path's. This closes the
    measured 3.3× Python-DataSource transport floor of the Arrow sink
    (``writeStream.format("managed_table_sink")``, which stays as the
    no-closure fallback): SCALE.md's r12 decomposition proved that
    floor is the Arrow transport itself, so the only faster path is
    to keep the rows in the JVM — this one (measured in
    scripts/scale.py sink).

    Exactly-once composes the same two guards as the Arrow sink and
    ``table_merge_sink``: Spark's checkpoint replays uncommitted
    batches, and the ``batchId`` txn marker — riding IN the commit
    record, atomic with the version — makes a replayed batch a no-op
    even after checkpoint loss. ``txn_id`` namespaces the replay
    cursor (Delta's appId contract) so several queries can append to
    one table. A commit conflict rebases inside ``append`` (blind
    appends commute).

    Unlike the Arrow sink this path runs through the engine, so it
    has none of its restrictions: CHECK constraints are enforced,
    and float/double/timestamp columns digest engine-side (no
    cast-stability gate needed). Returns the started query."""
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(table_append_batch_jvm(table_path, txn_id))
        .start()
    )


def table_cdf_tail(
    src,
    out_path: str,
    group_col: str,
    val_col: str,
    max_versions_per_batch: int = 1,
) -> int:
    """Tail a ManagedTable's commit chain incrementally — the
    readChangeFeed face of the table contract (round-10 verdict #4):
    maintain a per-``group_col`` (SUM(val), COUNT) aggregate at
    ``out_path`` from the SOURCE table's commits, consuming at most
    ``max_versions_per_batch`` source versions per micro-batch and
    returning how many batches this call processed (0 = caught up).

    Exactly-once WITHOUT any external checkpoint: the consumer's
    cursor IS the result table's txn marker (the consumed source
    version, stamped atomically into each result commit — the
    table_merge_sink pattern pointed the other way). Losing every
    piece of consumer state except the result table itself loses
    nothing: a fresh process reads ``last_txn`` and resumes; a
    rollback of the result table re-opens exactly the rolled-back
    batches for replay.

    Each batch folds ManagedTable.changes_signed — retraction
    arithmetic whose input is O(change volume) when the source window
    is DV ops/appends (the physical change files), falling back to the
    snapshot diff across copy commits. Groups whose row count reaches
    zero are dropped (exact retraction, not tombstones)."""
    from pyspark.sql import functions as F

    from ..operators.table import ManagedTable
    from ..operators.table_log import create_config, has_config

    spark = src.spark
    cur = src.version()
    n_batches = 0
    if not has_config(out_path):
        # initial snapshot batch: the aggregate of the EARLIEST
        # consumable version, marked as consumed-through that version
        create_config(out_path, {"key": [group_col], "stat_cols": []})
        out = ManagedTable(spark, out_path)
        init = (
            src.read(version=1)
            .groupBy(group_col)
            .agg(
                F.sum(F.col(val_col)).cast("long").alias("total"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
            )
        )
        out._commit(init, extra={"txn": 1, "op": "cdf_consume"})
        n_batches += 1
    out = ManagedTable(spark, out_path)
    last = out.last_txn()
    while last < cur:
        to = min(last + max_versions_per_batch, cur)
        delta = (
            src.changes_signed(last, to)
            .groupBy(group_col)
            .agg(
                F.sum(F.col(val_col) * F.col("sign")).cast("long").alias("_dt"),
                F.sum(F.col("sign")).cast("long").alias("_dn"),
            )
        )
        state = out.read()
        folded = (
            state.join(delta, group_col, "full_outer")
            .select(
                F.col(group_col),
                (
                    F.coalesce(F.col("total"), F.lit(0))
                    + F.coalesce(F.col("_dt"), F.lit(0))
                ).alias("total"),
                (
                    F.coalesce(F.col("n_rows"), F.lit(0))
                    + F.coalesce(F.col("_dn"), F.lit(0))
                ).alias("n_rows"),
            )
            .filter(F.col("n_rows") > 0)
        )
        out._commit(folded, extra={"txn": to, "op": "cdf_consume"})
        last = to
        n_batches += 1
    return n_batches
