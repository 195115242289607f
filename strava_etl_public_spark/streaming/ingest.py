"""Structured Streaming face of the incremental semantics (SURVEY §2.I).

The reference's batch watermark loop (S1, main.py:187-197) becomes a
checkpointed streaming source; its Firestore upsert (S2) becomes a
foreachBatch LWW merge; late data is bounded with `withWatermark`.
Tumbling/sliding/session windows are the §7 extensions on `events`.

Tests drive these with the file source + memory sink +
processAllAvailable() — the local-mode way to run a real streaming
query to completion synchronously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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


def session_windows(
    stream: DataFrame, gap: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """session_window aggregation — the streaming twin of the batch
    q_sessionize query."""
    return (
        with_event_time(stream)
        .withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", gap), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            F.col("session_window.start").alias("s_start"),
            F.col("session_window.end").alias("s_end"),
            "user_id",
            "n_events",
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


def transform_with_state_available() -> bool:
    """Whether transformWithStateInPandas can run in this environment:
    its Python worker talks to the JVM state server over protobuf, so
    a missing/broken ``google.protobuf`` breaks the runner at
    execution time (this container ships none and installs are
    barred). Probe pattern of operators/multimodal.py:32 — the code
    path below exists either way and ACTIVATES the moment the
    environment gains a working protobuf."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def running_user_stats_v2(stream: DataFrame) -> DataFrame:
    """The transformWithStateInPandas twin of
    :func:`running_user_stats` — Spark 4's StatefulProcessor API (the
    successor to applyInPandasWithState): state is a named ValueState
    owned by a processor object with an explicit lifecycle
    (init/handleInputRows/close), which adds composable multiple
    state variables, TTL, and timers over the single-tuple
    GroupState model. Same semantics as the v1 operator: per-user
    running count + running max(value), update-mode emission, only
    order-independent aggregates so micro-batch slicing can't change
    the answer.

    ENVIRONMENT-GATED (SURVEY §6 bound #2): raises immediately with
    the probe's diagnosis when protobuf is absent, instead of failing
    deep inside the streaming runner; tests/test_streaming.py carries
    a skipif-gated equivalence test that runs wherever the probe
    passes."""
    if not transform_with_state_available():
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf, which is "
            "not importable in this environment — use running_user_stats "
            "(applyInPandasWithState) instead; this path activates "
            "automatically once protobuf is available"
        )
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("stats", "n long, m double")

        def handleInputRows(self, key, rows, timerValues):
            n, m = (
                tuple(self._state.get()) if self._state.exists() else (0, None)
            )
            for pdf in rows:
                n += len(pdf)
                vals = pd.to_numeric(pdf["value"], errors="coerce").dropna()
                if len(vals):
                    bm = float(vals.max())
                    m = bm if m is None else max(m, bm)
            self._state.update((n, m))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_value": [m]}
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningStats(),
        outputStructType="user_id long, n_events long, max_value double",
        outputMode="Update",
        timeMode="None",
    )


def merge_batch_lww(
    updates: DataFrame, state_path: str, key: str, order_col: str
) -> None:
    """One micro-batch of the streaming LWW upsert sink: merge
    ``updates`` into the keyed parquet state table at
    ``<state_path>/current`` with :func:`upsert_last_writer_wins`.

    Crash-safe directory swap (local/HDFS rename semantics): the merged
    state is written to a staging dir FIRST, then swapped in via
    renames (current → _old, staging → current), so a reader never sees
    a half-written table and a crash in any window is recoverable —
    ``_read_state`` falls back to ``_old`` when ``current`` is missing
    (the only crash window that loses ``current`` is after it was
    renamed to ``_old``).

    Exactly-once EFFECT under replay: Structured Streaming re-runs a
    failed batch from the checkpoint, and re-merging the same updates
    into an already-merged state is a fixpoint — LWW with a
    deterministic total tie-break is idempotent — so at-least-once
    delivery plus this sink equals exactly-once state. (With a real
    table format, this whole function is a MERGE INTO; see module
    header.)
    """
    from ..operators.upsert import upsert_last_writer_wins

    spark = updates.sparkSession
    current = _read_state(spark, state_path)
    merged = upsert_last_writer_wins(current, updates, key, order_col)
    _swap_in(state_path, merged)


def _swap_in(
    state_path: str, merged: DataFrame, applied: dict | None = None
) -> None:
    """Crash-safe publication of a merged state table: write to a
    staging dir FIRST, then swap via renames (current → _old, staging
    → current) so a reader never sees a half-written table; see
    :func:`merge_batch_lww`'s docstring for the recovery argument.

    ``applied`` (optional, for NON-idempotent folds like the EWMA
    sink): a ``{"last": batch_id, "count": n}`` record written as
    ``_staging/_applied`` BEFORE the rename, so the replay marker and
    the state it certifies publish in the SAME atomic rename and can
    never disagree — there is no crash window in which the state is
    updated but the marker is missing (underscore-prefixed files are
    ignored by the parquet reader, like ``_SUCCESS``)."""
    import json
    import os
    import shutil

    cur = os.path.join(state_path, "current")
    stg = os.path.join(state_path, "_staging")
    old = os.path.join(state_path, "_old")
    merged.write.mode("overwrite").parquet(stg)
    if applied is not None:
        with open(os.path.join(stg, "_applied"), "w") as f:
            json.dump(applied, f)
    # _old may only be deleted while `current` exists: on the recovery
    # path (crash between the two renames left state ONLY in _old) an
    # early rmtree would destroy the last copy if we then crashed
    # before staging was swapped in (code-review r6 finding).
    if os.path.isdir(cur):
        shutil.rmtree(old, ignore_errors=True)
        os.rename(cur, old)
    os.rename(stg, cur)
    shutil.rmtree(old, ignore_errors=True)


def _read_state(spark: SparkSession, state_path: str):
    """Current LWW state table, or None before the first merge.
    Falls back current → _old to cover the mid-swap crash window."""
    import os

    for d in ("current", "_old"):
        p = os.path.join(state_path, d)
        if os.path.isdir(p) and os.listdir(p):
            return spark.read.parquet(p)
    return None


def _applied_info(state_path: str) -> dict | None:
    """The ``_applied`` replay record of the SAME state directory
    :func:`_read_state` would read (current, falling back to _old) —
    the marker travels with the table it certifies, so the pair is
    consistent in every crash window. None before the first marked
    merge (or for sinks that never pass ``applied``)."""
    import json
    import os

    for d in ("current", "_old"):
        p = os.path.join(state_path, d)
        if os.path.isdir(p) and os.listdir(p):
            m = os.path.join(p, "_applied")
            if os.path.isfile(m):
                with open(m) as f:
                    return json.load(f)
            return None
    return None


def upsert_stream_sink(
    stream: DataFrame,
    state_path: str,
    key: str,
    order_col: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    on_batch=None,
):
    """S2 as a first-class streaming operator: the reference's
    Firestore ``doc_ref.set(full_doc)`` LWW upsert (reference
    firebase_functions.py:50-51,59-60) as a checkpointed foreachBatch
    sink over :func:`merge_batch_lww`. Returns the started
    StreamingQuery; the caller drives/stops it.

    ``on_batch(batch_df, batch_id)``: optional observability hook
    invoked before each merge (tests use it to inject crashes for the
    kill-and-resume exactly-once check).
    """

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        if on_batch is not None:
            on_batch(bdf, batch_id)
        merge_batch_lww(bdf, state_path, key, order_col)

    return (
        stream.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_sink)
        .start()
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


# ---------------------------------------------------------------------------
# Streaming near-dup ingest filter (r7): MinHash-LSH dedup as a
# checkpointed foreachBatch sink over min-merged bucket state
# ---------------------------------------------------------------------------


def _merge_min_state(updates: DataFrame, state_path: str, key_cols, val_col) -> None:
    """Merge a keyed MIN-value table into the parquet state at
    ``state_path`` via the crash-safe swap. Min-merge is associative,
    commutative, and idempotent, so replaying a failed batch from the
    checkpoint converges to the same state — at-least-once delivery
    plus this merge equals exactly-once state (the LWW sink argument,
    with min instead of last-writer)."""
    spark = updates.sparkSession
    current = _read_state(spark, state_path)
    if current is None:
        merged = updates
    else:
        merged = (
            current.unionByName(updates)
            .groupBy(*key_cols)
            .agg(F.min(val_col).alias(val_col))
        )
    _swap_in(state_path, merged)


def neardup_merge_batch(
    bdf: DataFrame,
    state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
) -> None:
    """One micro-batch of the streaming near-dup filter.

    Semantics: an arriving doc is a DUPLICATE iff it shares any LSH
    band bucket with a smaller-id doc among everything seen so far
    (prior batches' state plus this batch). Per doc we store the MIN
    bucket owner over its buckets (its own id when it owns all of
    them, or it has no buckets — short docs), so ``is_dup`` is just
    ``owner < id``. Both state tables are min-merges → replay-
    idempotent (exactly-once effect); with id-ordered arrival the
    verdict set equals the batch rule "shares a bucket with any
    smaller id", which is what the oracle and the batch-equivalence
    test pin. Out-of-order arrival keeps per-stream determinism but a
    later smaller id cannot retract an earlier keep — the honest
    streaming contract, documented.

    State scale: buckets table is one row per DISTINCT (band, h) ever
    seen — the corpus's bucket cardinality, compacted on every merge
    by the swap write; verdicts are one row per doc. At 100 TB both
    become a real table format's MERGE INTO (same argument as the LWW
    sink)."""
    import os

    from ..operators.dedup import band_buckets

    bdf = bdf.select(id_col, text_col).localCheckpoint(eager=True)
    bk = band_buckets(bdf, id_col, text_col, n=n, k=k, bands=bands)
    bk = bk.localCheckpoint(eager=True)  # consumed 3x (mins, join, merge)

    spark = bdf.sparkSession
    bstate = os.path.join(state_path, "buckets")
    vstate = os.path.join(state_path, "verdicts")

    batch_min = bk.groupBy("band_idx", "h").agg(F.min(id_col).alias("owner"))
    prior = _read_state(spark, bstate)
    owners = (
        batch_min
        if prior is None
        else batch_min.unionByName(prior)
        .groupBy("band_idx", "h")
        .agg(F.min("owner").alias("owner"))
    )
    per_doc = (
        bk.join(owners, ["band_idx", "h"])
        .groupBy(id_col)
        .agg(F.min("owner").alias("_mo"))
    )
    verdicts = (
        bdf.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(F.col("_mo"), F.col(id_col)).cast("long").alias("owner"),
        )
    )
    # verdict merge first: if we crash between the two merges, replay
    # recomputes verdicts against a bucket state that may already
    # contain this batch — same min-semantics, same verdicts
    _merge_min_state(verdicts, vstate, ["doc_id"], "owner")
    _merge_min_state(batch_min, bstate, ["band_idx", "h"], "owner")


def neardup_stream_sink(
    stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
):
    """MinHash-LSH near-duplicate filtering as a REAL streaming
    operator: documents arrive on a stream, every micro-batch updates
    the bucket-owner state and records a keep/duplicate verdict per
    doc (foreachBatch over :func:`neardup_merge_batch`, checkpointed).
    The streaming face of the batch minhash_lsh_dedup family — what a
    continuously-ingesting training-data pipeline runs instead of
    re-deduplicating the full corpus per drop. Returns the started
    StreamingQuery."""

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        neardup_merge_batch(
            bdf, state_path, id_col, text_col, n=n, k=k, bands=bands
        )

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_sink)
        .start()
    )


def incremental_clusters_merge_batch(
    bdf: DataFrame,
    batch_id: int,
    state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> None:
    """One micro-batch of streaming DUPLICATE-CLUSTER maintenance —
    the streaming face of dedup.incremental_minhash_clusters (round-8
    verdict #5's parenthetical): per batch, update

    * ``<state>/docs/b{batch_id}``  — the seen-document texts (one
      overwrite-idempotent dir per batch; verification re-shingles
      affected docs from here),
    * ``<state>/buckets`` — lsh_bucket_state shape (id, band_idx, h,
      n_bucket, min_id), singletons kept, occupancy/min refreshed for
      AFFECTED buckets only,
    * ``<state>/pairs``   — the verified near-dup pair set of
      everything seen so far,

    such that after every batch, ``duplicate_clusters(pairs state)``
    equals a full batch recompute over all docs seen — the same
    decomposition proof as the batch operator (unaffected buckets
    retain exactly their prior pairs; affected buckets regenerate
    through the shared `_pairs_from_annotated` core).

    Replay-idempotent (at-least-once ⇒ exactly-once state): bucket
    keys are pure functions of text, membership is DISTINCT-merged,
    and a replayed batch regenerates byte-identical affected-bucket
    facts — every state table is a fixpoint under re-merge. Crash
    windows converge for the same reason the batch proof holds: a
    (corpus, batch)-pair is either attributable to an unaffected
    bucket (retained) or regenerated fresh, regardless of which state
    table a crash left ahead. Write order: docs, pairs, buckets."""
    import os

    from ..operators.dedup import (
        _annotate_buckets,
        _pairs_from_annotated,
        DEFAULT_MAX_BUCKET,
        band_buckets,
        doc_shingles,
        jaccard_verify,
    )

    if max_bucket is None:
        max_bucket = DEFAULT_MAX_BUCKET
    spark = bdf.sparkSession
    bdf = bdf.select(id_col, text_col).localCheckpoint(eager=True)
    bdf.write.mode("overwrite").parquet(
        os.path.join(state_path, "docs", f"b{batch_id}")
    )

    bstate = os.path.join(state_path, "buckets")
    pstate = os.path.join(state_path, "pairs")
    prior_b = _read_state(spark, bstate)
    prior_p = _read_state(spark, pstate)

    bk = band_buckets(bdf, id_col, text_col, n=n, k=k, bands=bands)
    bk = bk.localCheckpoint(eager=True)
    affected = bk.select("band_idx", "h").distinct()

    members = bk
    if prior_b is not None:
        members = members.unionByName(
            prior_b.join(F.broadcast(affected), ["band_idx", "h"], "left_semi")
            .select(id_col, "band_idx", "h")
        )
    members = members.distinct().localCheckpoint(eager=True)  # replay-safe

    # affected-bucket facts: occupancy/min over the merged membership
    # (keep singletons for the STATE; pair gen filters them)
    from pyspark.sql import Window

    w = Window.partitionBy("band_idx", "h")
    annotated_all = members.withColumn(
        "n_bucket", F.count(F.lit(1)).over(w)
    ).withColumn("min_id", F.min(id_col).over(w))
    pairs_aff = _pairs_from_annotated(
        _annotate_buckets(members, id_col), id_col, max_bucket
    ).localCheckpoint(eager=True)

    docs_seen = spark.read.parquet(os.path.join(state_path, "docs", "*"))
    affected_ids = members.select(id_col).distinct()
    sh_aff = doc_shingles(
        docs_seen.join(affected_ids, id_col, "left_semi"), id_col, text_col, n
    )
    new_verified = jaccard_verify(pairs_aff, sh_aff, id_col, threshold).select(
        "doc_a", "doc_b"
    )

    if prior_p is not None and prior_b is not None:
        sa = prior_b.select(
            F.col(id_col).alias("doc_a"), "band_idx", "h", "n_bucket", "min_id"
        )
        sb = prior_b.select(F.col(id_col).alias("doc_b"), "band_idx", "h")
        retained = (
            prior_p.select("doc_a", "doc_b")
            .join(sa, "doc_a")
            .join(sb, ["doc_b", "band_idx", "h"])
            .join(F.broadcast(affected), ["band_idx", "h"], "left_anti")
            .filter(
                (F.col("n_bucket") <= F.lit(max_bucket))
                | (F.col("min_id") == F.col("doc_a"))
            )
            .select("doc_a", "doc_b")
        )
        all_pairs = new_verified.unionByName(retained).distinct()
    else:
        all_pairs = new_verified.distinct()
    all_pairs = all_pairs.localCheckpoint(eager=True)

    new_buckets = annotated_all
    if prior_b is not None:
        new_buckets = (
            prior_b.join(F.broadcast(affected), ["band_idx", "h"], "left_anti")
            .unionByName(annotated_all)
        )
    new_buckets = new_buckets.localCheckpoint(eager=True)

    _swap_in(pstate, all_pairs)
    _swap_in(bstate, new_buckets)


def incremental_clusters_stream_sink(
    stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Checkpointed foreachBatch sink over
    :func:`incremental_clusters_merge_batch`; read the maintained
    clusters back with :func:`read_incremental_clusters`."""

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        incremental_clusters_merge_batch(bdf, batch_id, state_path, id_col, text_col)

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_sink)
        .start()
    )


def read_incremental_clusters(spark: SparkSession, state_path: str) -> DataFrame:
    """Duplicate clusters of everything the stream has seen — CC over
    the maintained verified-pair state."""
    import os

    from ..operators.dedup import duplicate_clusters

    p = _read_state(spark, os.path.join(state_path, "pairs"))
    if p is None:
        return spark.createDataFrame(
            [], "doc_id long, rep_id long, cluster_size long"
        )
    return duplicate_clusters(p, "doc_a", "doc_b")


def state_metrics(spark: SparkSession, state_path: str) -> dict:
    """Observability for the parquet-swap state stores (round-8
    verdict #6): ``{rows, bytes}`` of the state table at
    ``state_path`` (the dir holding ``current``/``_old``). Rows are
    exact (a count over the current table); bytes are the on-disk
    parquet footprint of the published copy. The growth CONTRACT every
    sink here satisfies: state rows are bounded by the DISTINCT KEY
    count of everything ingested (min-merge / LWW compaction on every
    swap), never by the event count — pinned per-batch in
    tests/test_state.py and measured flat at gen scale in
    scripts/scale.py stream_state / SCALE.md."""
    import os

    df = _read_state(spark, state_path)
    rows = 0 if df is None else df.count()
    nbytes = 0
    for d in ("current", "_old"):
        p = os.path.join(state_path, d)
        if os.path.isdir(p):
            nbytes = sum(
                os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p)
                if not f.startswith("_")
            )
            break
    return {"rows": rows, "bytes": nbytes}


def read_neardup_verdicts(spark: SparkSession, state_path: str) -> DataFrame:
    """(doc_id, is_dup) from the filter's verdict state."""
    import os

    v = _read_state(spark, os.path.join(state_path, "verdicts"))
    if v is None:
        return spark.createDataFrame([], "doc_id long, is_dup boolean")
    return v.select(
        "doc_id", (F.col("owner") < F.col("doc_id")).alias("is_dup")
    )


def attribution_join(
    stream: DataFrame,
    left_type: str = "click",
    right_type: str = "view",
    window_s: int = 21600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join — the attribution
    pattern (every click joined to the views it could credit, within
    a trailing window). Both sides carry their own watermark, and the
    time-range condition is what lets the engine BOUND the join state:
    a buffered view can be evicted as soon as the click-side watermark
    passes ``view_time + window``, so state is O(events inside the
    window), not O(stream history) — the property that makes a
    stream-stream join survivable at 100 TB/day. Inner join: rows emit
    as soon as both sides have arrived, and with a finite source every
    qualifying pair emits exactly once, which is what the batch-join
    oracle checks.

    The two sides are carved out of one normalized event stream (the
    engine plans them as two independent stateful inputs); joining two
    physically distinct sources is the same code with two readStreams.
    """
    s = with_event_time(stream)
    left = (
        s.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("l_id"),
            F.col("value").alias("l_value"),
            F.col("event_time").alias("l_time"),
        )
        .withWatermark("l_time", watermark)
    )
    right = (
        s.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("r_id"),
            F.col("event_time").alias("r_time"),
        )
        .withWatermark("r_time", watermark)
    )
    return left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("l_time") >= F.col("r_time"))
        & (F.col("l_time") <= F.col("r_time") + F.expr(f"INTERVAL {window_s} SECONDS")),
    )


def dedup_within_watermark(
    stream: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exactly-once dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps one row per key and — the
    scale contract plain ``dropDuplicates`` cannot make — EVICTS a
    key's dedup state once the watermark passes its event time, so
    state is O(keys inside the watermark horizon), not O(all keys
    ever). The trade is explicit: duplicates separated by more than
    the watermark delay are NOT collapsed; an at-least-once upstream
    (Kafka redelivery, file-source replay) re-emits within seconds, so
    a horizon of hours bounds state while holding exactly-once for
    every real redelivery mode."""
    return with_event_time(stream).withWatermark(
        "event_time", watermark
    ).dropDuplicatesWithinWatermark(keys)


def ewma_merge_batch(
    bdf: DataFrame,
    state_path: str,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
    batch_id: int | None = None,
) -> None:
    """One micro-batch of the STREAMING EWMA: fold the batch from the
    persisted per-key state (rolling.ewma_by_key's init_state seeding
    — exact, because the recursion is associative-over-prefix), keep
    untouched keys' state verbatim, and publish crash-safely via the
    LWW sink's staging swap.

    The fold is NOT naturally idempotent (re-folding a batch from the
    updated state double-applies it — unlike the min-merge and LWW
    sinks), so replay safety comes from a per-batch marker published
    ATOMICALLY with the state: ``_swap_in`` writes an ``_applied``
    record ({"last": batch_id, "count": n}) into the staging
    directory BEFORE the rename, so the marker and the state it
    certifies land in one atomic rename and can never disagree. A
    replayed ``batch_id <= last`` is skipped (foreachBatch ids are
    monotonically increasing — the standard transactional discipline);
    every crash window replays the batch against exactly the state
    whose marker it reads: pre-swap crashes leave the pre-batch table
    without this batch's marker (re-fold — correct), post-swap
    crashes leave the post-batch table WITH it (skip — correct).
    There is no window with updated state and missing marker.

    CONTRACT (the caller's staging discipline, asserted by the gate):
    batches must arrive key-time-ordered — every event in batch k
    sorts after every batch < k for its key (time-partitioned staged
    files with one file per trigger give this for free).
    """
    spark = bdf.sparkSession
    info = _applied_info(state_path) if batch_id is not None else None
    if info is not None and batch_id <= info["last"]:
        return
    from pyspark.sql import Window

    from ..operators.rolling import ewma_by_key

    state = _read_state(spark, state_path)
    init = state.select(*key_cols, "s0") if state is not None else None
    folded = ewma_by_key(
        bdf, key_cols, order_cols, value_col, alpha, "_s", init_state=init
    )
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.desc(c) for c in order_cols]
    )
    new = (
        folded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*key_cols, F.col("_s").alias("s0"))
    )
    if state is not None:
        untouched = state.select(*key_cols, "s0").join(
            new.select(*key_cols), key_cols, "left_anti"
        )
        merged = untouched.unionByName(new)
    else:
        merged = new
    merged = merged.localCheckpoint(eager=True)  # sever the read of `current`
    applied = None
    if batch_id is not None:
        applied = {
            "last": batch_id,
            "count": (info["count"] if info is not None else 0) + 1,
        }
    _swap_in(state_path, merged, applied=applied)


def ewma_stream_sink(
    stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
):
    """Checkpointed foreachBatch wrapper over :func:`ewma_merge_batch`
    — the streaming face of the time-series family's incremental
    maintenance. Returns the started StreamingQuery."""

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        ewma_merge_batch(
            bdf, state_path, key_cols, order_cols, value_col, alpha, batch_id
        )

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_sink)
        .start()
    )


def bm25_index_merge_batch(bdf: DataFrame, state_path: str, batch_id: int) -> None:
    """One micro-batch of STREAMING inverted-index maintenance: build
    the batch's postings + doc lengths (text.build_postings — one
    tokenize of the batch only) and land them under a per-batch
    subdirectory. Because doc-disjoint postings compose by pure UNION,
    the state is APPEND-ONLY — no read-modify-write, no merge job —
    and replay idempotence is free: a replayed batch overwrites ITS
    OWN subdirectory with identical content. The accumulated index is
    simply the union of all batch directories at read time."""
    from ..operators.text import build_postings

    tc, dl = build_postings(bdf, "doc_id", "text")
    tc.write.mode("overwrite").parquet(f"{state_path}/postings/b{batch_id}")
    dl.write.mode("overwrite").parquet(f"{state_path}/doclen/b{batch_id}")


def bm25_index_stream_sink(stream: DataFrame, state_path: str, checkpoint_dir: str):
    """Checkpointed foreachBatch wrapper over
    :func:`bm25_index_merge_batch`; returns the started query."""

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        bm25_index_merge_batch(bdf, state_path, batch_id)

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_sink)
        .start()
    )


def read_bm25_index(spark: SparkSession, state_path: str):
    """(postings, doclen) accumulated across all batch directories."""
    tc = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{state_path}/postings"
    )
    dl = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{state_path}/doclen"
    )
    return tc, dl


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
    import json as _json
    import os

    from pyspark.sql import functions as F

    from ..operators.table import ManagedTable

    spark = src.spark
    cur = src.version()
    n_batches = 0
    if not os.path.isfile(os.path.join(out_path, "_table.json")):
        # initial snapshot batch: the aggregate of the EARLIEST
        # consumable version, marked as consumed-through that version
        os.makedirs(out_path, exist_ok=True)
        with open(os.path.join(out_path, "_table.json"), "x") as f:
            _json.dump({"key": [group_col], "stat_cols": []}, f)
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


def table_cdf_resilient_drain(
    spark,
    table_path: str,
    checkpoint_dir: str,
    sink,
    starting_version: int | None = None,
    max_restarts: int = 4,
) -> int:
    """Drain all available ``table_cdf`` changes, auto-restarting
    across schema-evolution commits — Delta's schemaTrackingLocation
    recipe as code (round 11).

    A RUNNING table_cdf query pins its declared schema at start, so a
    rename or widen of a declared column mid-stream fails it loudly
    (sources/table_cdf.py's classification). The loss-free recovery is
    a SAME-CHECKPOINT restart: the new run re-derives the schema from
    the current version (rename-stable physical names, widened read
    types, null-backfilled adds), and the engine's offsets replay the
    pending window exactly-once — including the window's
    pre-evolution commits, which a fresh checkpoint "from the named
    version" would silently skip. This helper is that loop. Note the
    consequence the consumer owns: batches delivered after a restart
    carry the NEW schema (renamed column names / widened types) even
    for replayed pre-evolution commits.

    Returns the number of restarts taken (0 = clean drain). Errors
    other than the source's evolution raise propagate unchanged."""
    restarts = 0
    while True:
        reader = spark.readStream.format("table_cdf").option(
            "path", table_path
        )
        if starting_version is not None:
            reader = reader.option("starting_version", starting_version)
        q = (
            reader.load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
        try:
            q.processAllAvailable()
            q.stop()
            return restarts
        except Exception as e:  # noqa: BLE001 — classify, then re-raise
            q.stop()
            if "restart the query on the SAME checkpoint" not in str(e):
                raise
            restarts += 1
            if restarts > max_restarts:
                raise
