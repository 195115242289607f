"""spark.readStream.format("table_cdf") — the streaming change-feed
source over ManagedTable commits (executor-side partition reads).

Pins: signed deltas across a multi-commit DML window fold to the
table's exact final state; retractions and update pre/post images
carry the right signs; intra-window births-and-deaths cancel;
checkpointed restart consumes ONLY the new window (engine-offset
exactly-once); copy commits and renames in the window raise loudly
(the documented Delta-readChangeFeed-style cut) instead of inventing
a delta."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from strava_etl_public_spark.operators.table import ManagedTable
from strava_etl_public_spark.sources.table_cdf import register_cdf_stream
from tests.vdir_helper import vd as _vd

SCHEMA = "id long, bucket long, val long"


@pytest.fixture(scope="module")
def spark():
    from strava_etl_public_spark.session import get_spark

    s = get_spark()
    register_cdf_stream(s)
    return s


def _mk(spark, path, n=60):
    df = spark.createDataFrame(
        [(i, i % 4, i * 10) for i in range(1, n + 1)], SCHEMA
    ).repartition(4)
    return ManagedTable.create(df, path, key="id")


def _drain(spark, path, start_version, ckpt):
    """Run the stream to caught-up; return list of (batch_id, rows)."""
    batches = []

    def sink(df, bid):
        batches.append((bid, [tuple(r) for r in df.collect()]))

    q = (
        spark.readStream.format("table_cdf")
        .option("path", path)
        .option("starting_version", start_version)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return batches


def _fold(rows):
    """Apply signed rows to a dict model {id: (bucket, val)}."""
    state: dict = {}
    for (i, b, v, sign) in rows:
        if sign == 1:
            state[i] = (b, v)
        else:
            state.pop(i, None)
    return state


def test_signed_window_folds_to_final_state(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    v0 = t.version()
    t.delete(F.col("id") % 5 == 0)
    t.update(F.col("bucket") == 1, {"val": F.col("val") + 7})
    t.append(
        spark.createDataFrame([(100, 0, 1), (101, 1, 2)], SCHEMA)
    )
    batches = _drain(spark, path, v0, str(tmp_path / "ck"))
    rows = [r for _, rs in batches for r in rs]
    assert rows, "stream produced no rows"
    # fold signed changes ONTO the v0 snapshot (the stream serves
    # changes SINCE starting_version, not the initial state);
    # a batch's -1s apply before its +1s
    state: dict = {
        r["id"]: (r["bucket"], r["val"])
        for r in t.read(version=v0).collect()
    }
    for _, rs in batches:
        for r in sorted(rs, key=lambda x: x[3]):
            if r[3] == 1:
                state[r[0]] = (r[1], r[2])
            else:
                state.pop(r[0], None)
    want = {r["id"]: (r["bucket"], r["val"]) for r in t.read().collect()}
    assert state == want


def test_update_emits_both_images(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _mk(spark, path, n=20)
    v0 = t.version()
    t.update(F.col("id") == 7, {"val": F.lit(999)})
    rows = [
        r
        for _, rs in _drain(spark, path, v0, str(tmp_path / "ck"))
        for r in rs
    ]
    assert sorted(rows) == [(7, 3, 70, -1), (7, 3, 999, 1)]


def test_intra_window_birth_and_death_cancels(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _mk(spark, path, n=20)
    v0 = t.version()
    t.append(spark.createDataFrame([(500, 0, 5)], SCHEMA))
    t.delete(F.col("id") == 500)  # dies inside the same window
    rows = [
        r
        for _, rs in _drain(spark, path, v0, str(tmp_path / "ck"))
        for r in rs
    ]
    assert not [r for r in rows if r[0] == 500]


def test_checkpoint_resume_consumes_only_new_window(spark, tmp_path):
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    t = _mk(spark, path)
    v0 = t.version()
    t.delete(F.col("id") <= 10)
    first = _drain(spark, path, v0, ckpt)
    n_first = len([r for _, rs in first for r in rs])
    assert n_first == 10  # ten retractions
    t.append(spark.createDataFrame([(200, 2, 3)], SCHEMA))
    second = _drain(spark, path, v0, ckpt)
    rows = [r for _, rs in second for r in rs]
    # ONLY the append's row — the first window is checkpointed away
    assert rows == [(200, 2, 3, 1)]


def test_multibatch_when_commits_straddle_triggers(spark, tmp_path):
    """Each _drain run opens its own query; two sequential runs with
    DML in between prove per-window batching through one checkpoint
    lineage (the exactly-once loop a long-lived stream executes)."""
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    t = _mk(spark, path)
    v0 = t.version()
    seen = []
    for i in range(3):
        t.delete(F.col("id") == 11 + i)
        seen += [
            r
            for _, rs in _drain(spark, path, v0, ckpt)
            for r in rs
        ]
    assert sorted(r[0] for r in seen) == [11, 12, 13]
    assert all(r[3] == -1 for r in seen)


def test_copy_commit_in_window_raises(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    path = str(tmp_path / "t")
    t = _mk(spark, path)
    v0 = t.version()
    t.delete(F.col("id") == 1)
    t.optimize()  # copy commit — not CDF-able
    with pytest.raises(Exception) as ei:
        _drain(spark, path, v0, str(tmp_path / "ck"))
    assert "table_cdf" in str(ei.value)
    # a DV version whose base dir is gone: the named error, not a bare
    # FileNotFoundError from a directory listing
    p2 = str(tmp_path / "t2")
    t2 = _mk(spark, p2)
    t2.delete(F.col("id") == 1)
    shutil.rmtree(_vd(p2, 1))
    with pytest.raises(Exception, match="no longer exists"):
        _drain(spark, p2, 1, str(tmp_path / "ck2"))


def test_rename_in_window_schema_contract(spark, tmp_path):
    """The rename cut, refined (r11): what breaks is a MISMATCH
    between the stream's declared schema and the window's schema —
    not the rename commit itself. A stream STARTED after the rename
    declares the new names and serves pre-rename windows exactly
    (physical names are rename-stable); a stream declared BEFORE the
    rename raises with the restart recipe (see
    test_rename_restart_recipe_resumes_with_new_schema)."""
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    v0 = t.version()
    t.delete(F.col("id") == 9)            # pre-rename DML
    t.rename_column("val", "speed")
    batches = []

    def sink(df, bid):
        batches.append([r.asDict() for r in df.collect()])

    q = (
        spark.readStream.format("table_cdf")
        .option("path", path)
        .option("starting_version", v0)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = [r for b in batches for r in b]
    # the pre-rename delete serves under the NEW logical name
    assert rows == [
        {"id": 9, "bucket": 1, "speed": 90, "sign": -1}
    ]


def test_stream_reads_renamed_and_added_schema(spark, tmp_path):
    """A stream STARTED after a rename + add_column serves the new
    logical schema (renamed column, typed-null backfill for the added
    one)."""
    path = str(tmp_path / "t")
    t = _mk(spark, path, n=20)
    t.rename_column("val", "speed")
    t.add_column("note", "string")
    v0 = t.version()
    t.delete(F.col("id") == 5)
    batches = []

    def sink(df, bid):
        batches.append([r.asDict() for r in df.collect()])

    q = (
        spark.readStream.format("table_cdf")
        .option("path", path)
        .option("starting_version", v0)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = [r for b in batches for r in b]
    assert rows == [
        {"id": 5, "bucket": 1, "speed": 50, "note": None, "sign": -1}
    ]


def test_compaction_mid_window_is_tolerated(spark, tmp_path):
    """Maintenance must not kill the stream: a minor compaction in
    the window contributes zero rows (the window segments around it),
    and DML before AND after it is still served — including the
    pre-compact deletes whose DV entries the compaction dropped."""
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    v0 = t.version()
    t.delete(F.col("id") <= 20)            # pre-compact
    assert t.compact(dead_frac=0.2) is not None
    t.delete(F.col("id") == 30)            # post-compact
    t.append(spark.createDataFrame([(700, 1, 7)], SCHEMA))
    rows = [
        r
        for _, rs in _drain(spark, path, v0, str(tmp_path / "ck"))
        for r in rs
    ]
    retracted = sorted(r[0] for r in rows if r[3] == -1)
    assert retracted == list(range(1, 21)) + [30]
    assert [r for r in rows if r[3] == 1] == [(700, 1, 7, 1)]



# -- schema-evolution matrix against a LIVE stream (r10 verdict #7) ---------
#
# The contract is about the DECLARED schema, not the commit type: a
# stream derives its fields once at start, so evolution under a
# RUNNING query is what each arm must handle. (A RESTARTED query
# re-derives the schema and serves any window exactly — physical
# names are rename-stable, pre-widen files upcast, pre-add files
# null-backfill — pinned by test_rename_in_window_schema_contract and
# test_stream_reads_renamed_and_added_schema.)


def _live(spark, path, v0, ckpt):
    """Start a long-lived table_cdf query collecting dict-rows."""
    rows: list[dict] = []

    def sink(df, bid):
        rows.extend(r.asDict() for r in df.collect())

    q = (
        spark.readStream.format("table_cdf")
        .option("path", path)
        .option("starting_version", v0)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    return q, rows


def test_add_column_under_running_stream_is_served(spark, tmp_path):
    """ADD COLUMN lands while the query RUNS: the commit yields zero
    rows, post-add DML is served PROJECTED to the declared (pre-add)
    schema, and the stream keeps running — maintenance-grade schema
    growth must not kill a consumer that doesn't need the new column."""
    path = str(tmp_path / "t")
    t = _mk(spark, path, n=20)
    q, rows = _live(spark, path, t.version(), str(tmp_path / "ck"))
    try:
        t.delete(F.col("id") == 3)
        q.processAllAvailable()
        assert {"id": 3, "bucket": 3, "val": 30, "sign": -1} in rows

        t.add_column("note", "string")        # under the running query
        t.append(
            spark.createDataFrame(
                [(100, 0, 1000, "hi")],
                "id long, bucket long, val long, note string",
            )
        )
        t.update(F.col("id") == 7, {"val": F.lit(777)})
        q.processAllAvailable()               # still alive, still exact
    finally:
        q.stop()
    assert {"id": 100, "bucket": 0, "val": 1000, "sign": 1} in rows
    assert {"id": 7, "bucket": 3, "val": 777, "sign": 1} in rows
    assert not any("note" in r for r in rows)  # declared schema fixed


def test_widen_under_running_stream_raises_with_recipe(spark, tmp_path):
    """Widen of a DECLARED column under a running query raises (the
    narrow declared type cannot hold post-widen values — serving
    would overflow silently), naming the version; the recipe — a new
    stream from the widen version — serves the wide type."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 4, i * 10) for i in range(1, 21)], SCHEMA
    ).withColumn("val", F.col("val").cast("int"))
    t = ManagedTable.create(df, path, key="id")
    q, rows = _live(spark, path, t.version(), str(tmp_path / "ck1"))
    try:
        t.delete(F.col("id") == 2)
        q.processAllAvailable()
        assert any(r["id"] == 2 and r["sign"] == -1 for r in rows)

        vw = t.widen_column("val", "bigint")
        t.append(
            spark.createDataFrame(
                [(200, 0, 6_000_000_000)], "id long, bucket long, val long"
            )
        )  # a value only the WIDE type can hold
        with pytest.raises(Exception) as ei:
            q.processAllAvailable()
        assert "widened" in str(ei.value) and f"v{vw}" in str(ei.value)
    finally:
        q.stop()
    # restart recipe: new stream from the widen version, new checkpoint
    batches = _drain(spark, path, vw, str(tmp_path / "ck2"))
    rows2 = [r for _, b in batches for r in b]
    assert (200, 0, 6_000_000_000, 1) in rows2


def test_rename_under_running_stream_raises_with_recipe(spark, tmp_path):
    """The rename cut end-to-end on ONE lineage: the running query
    consumes pre-rename windows under the OLD name, the rename kills
    it with the version named, and a NEW stream from the rename
    version serves post-rename changes under the NEW name — nothing
    double-consumed, nothing lost."""
    path = str(tmp_path / "t")
    t = _mk(spark, path, n=20)
    q, rows = _live(spark, path, t.version(), str(tmp_path / "ck1"))
    try:
        t.delete(F.col("id") == 4)
        q.processAllAvailable()
        assert {"id": 4, "bucket": 0, "val": 40, "sign": -1} in rows

        vr = t.rename_column("val", "speed")
        t.update(F.col("id") == 8, {"speed": F.lit(888)})
        with pytest.raises(Exception) as ei:
            q.processAllAvailable()
        assert "renamed" in str(ei.value)
    finally:
        q.stop()
    # recipe: NEW stream from the rename version with the new schema
    batches = []

    def sink(df, bid):
        batches.append([r.asDict() for r in df.collect()])

    q2 = (
        spark.readStream.format("table_cdf")
        .option("path", path)
        .option("starting_version", vr)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows2 = [r for b in batches for r in b]
    post = [r for r in rows2 if r["sign"] == 1 and r["id"] == 8]
    assert post and post[0]["speed"] == 888
    # the pre-rename delete was consumed exactly once (by stream 1)
    assert not any(r["id"] == 4 for r in rows2)


def test_replayed_pre_add_window_serves_with_backfill(spark, tmp_path):
    """Replay nuance (r11): after a restart, the engine can replay a
    checkpointed batch whose commits PREDATE an ADD COLUMN (the
    declared schema is re-derived from the current version each run).
    The declared-but-absent column was added LATER — the reader
    null-backfills it, so that window must SERVE, not raise; only a
    map NEWER than the declaration missing a declared column (a real
    drop/rename) raises."""
    from strava_etl_public_spark.operators.table_log import TableLog
    from strava_etl_public_spark.sources.table_cdf import TableCDFStreamReader

    path = str(tmp_path / "t")
    t = _mk(spark, path, n=10)
    v0 = t.version()
    t.delete(F.col("id") == 2)          # the pre-add commit
    v_pre = t.version()
    t.add_column("note", "string")      # schema grows
    v_add = t.version()

    # a reader declared NOW (post-add), asked for the PRE-add window —
    # the replayed-batch shape
    rdr = TableCDFStreamReader(
        {"path": path}, TableLog(path).table_fields()
    )
    assert [f[0] for f in rdr._fields] == ["id", "bucket", "val", "note"]
    parts = rdr.partitions({"version": v0}, {"version": v_pre})
    assert parts  # served, not raised

    # and the rows read with a typed-NULL backfill for the added col
    import pyarrow as pa

    got = [
        b
        for p in parts
        for b in rdr.read(p)
    ]
    tbl = pa.Table.from_batches(got)
    assert tbl.column("note").null_count == tbl.num_rows

    # control: the SAME absence in a map newer than the declaration
    # (a rename) still raises
    t.rename_column("val", "speed")
    v_ren = t.version()
    with pytest.raises(ValueError) as ei:
        rdr.partitions({"version": v_add}, {"version": v_ren})
    assert "renamed" in str(ei.value)


def test_same_checkpoint_restart_loses_nothing_across_rename(
    spark, tmp_path
):
    """The loss-free half of the evolution recipe: DML, a rename, and
    more DML land as a PENDING window (offsets checkpointed before
    them) — the restarted query on the SAME checkpoint must replay
    the WHOLE window under the re-derived schema, INCLUDING the
    pre-rename commits (a fresh checkpoint "from the rename version"
    would silently skip them — the recipe the source's error message
    used to prescribe). table_cdf_resilient_drain is that restart."""
    from tests.cdf_drain_helper import table_cdf_resilient_drain

    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    t = _mk(spark, path, n=20)
    v0 = t.version()
    rows: list[dict] = []

    def sink(df, bid):
        rows.extend(r.asDict() for r in df.collect())

    # epoch 1 drains and checkpoints offsets at the current version
    assert (
        table_cdf_resilient_drain(
            spark, path, ckpt, sink, starting_version=v0
        )
        == 0
    )
    n_before = len(rows)

    # the pending window: pre-rename DML + rename + post-rename DML
    t.delete(F.col("id") == 6)
    t.rename_column("val", "speed")
    t.update(F.col("id") == 9, {"speed": F.lit(909)})

    # same checkpoint: schema re-derives, the whole window replays
    assert (
        table_cdf_resilient_drain(
            spark, path, ckpt, sink, starting_version=v0
        )
        == 0
    )
    new_rows = rows[n_before:]
    # the pre-rename delete arrives under the NEW schema — not lost
    assert {"id": 6, "bucket": 2, "speed": 60, "sign": -1} in new_rows
    post = [r for r in new_rows if r["id"] == 9 and r["sign"] == 1]
    assert post and post[-1]["speed"] == 909
    # and exactly once: no duplicate of the first window
    assert len([r for r in rows if r["id"] == 6]) == 1


def test_resilient_drain_restarts_through_live_evolution(
    spark, tmp_path
):
    """The restart loop itself: evolution lands while the resilient
    drain's query is mid-run — the helper classifies the failure,
    restarts on the same checkpoint, and finishes the drain."""
    import threading
    import time

    from tests.cdf_drain_helper import table_cdf_resilient_drain

    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    t = _mk(spark, path, n=20)
    v0 = t.version()
    rows: list[dict] = []
    lock = threading.Lock()

    first_batch = threading.Event()

    def sink(df, bid):
        with lock:
            rows.extend(r.asDict() for r in df.collect())
        first_batch.set()

    t.delete(F.col("id") == 3)

    def evolve():
        first_batch.wait(60)
        time.sleep(0.2)
        t2 = ManagedTable(spark, path)
        t2.rename_column("val", "speed")
        t2.update(F.col("id") == 11, {"speed": F.lit(111)})

    th = threading.Thread(target=evolve)
    th.start()
    try:
        # the drain may or may not hit the live race (timing); either
        # way it must finish with ALL changes delivered and never
        # raise the evolution error out
        table_cdf_resilient_drain(
            spark, path, ckpt, sink, starting_version=v0, max_restarts=4
        )
    finally:
        th.join()
    # one more pass picks up anything committed after the last window
    table_cdf_resilient_drain(
        spark, path, ckpt, sink, starting_version=v0
    )
    assert any(r["id"] == 3 and r["sign"] == -1 for r in rows)
    post = [r for r in rows if r["id"] == 11 and r["sign"] == 1]
    assert post and post[-1].get("speed", post[-1].get("val")) == 111


def test_same_checkpoint_restart_after_prior_rename(spark, tmp_path):
    """ADVICE r11 (medium): the loss-free restart on a table that
    ALREADY had a column map. The pending window's pre-rename commits
    carry the declared physical under the OLD logical name — they
    must classify as pre-declaration replay (the reader projects by
    physical, which is rename-stable), not as rename/drop. Before the
    fix, every same-checkpoint restart raised until max_restarts:
    the advertised loss-free recovery was unreachable for any table
    with a prior rename."""
    from tests.cdf_drain_helper import table_cdf_resilient_drain

    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    t = _mk(spark, path, n=20)
    # PRIOR rename: the table has a column map before the stream ever
    # starts (val -> speed, physical name stays 'val')
    t.rename_column("val", "speed")
    t.update(F.col("id") == 4, {"speed": F.lit(404)})
    v0 = t.version()
    rows: list[dict] = []

    def sink(df, bid):
        rows.extend(r.asDict() for r in df.collect())

    assert (
        table_cdf_resilient_drain(
            spark, path, ckpt, sink, starting_version=v0
        )
        == 0
    )
    n_before = len(rows)

    # pending window: DML under the map, a SECOND rename, more DML
    t.delete(F.col("id") == 6)
    t.rename_column("speed", "pace")
    t.update(F.col("id") == 9, {"pace": F.lit(909)})

    # same checkpoint: replays the whole window, pre-rename commits
    # included, under the re-derived (newest) schema — no raise
    assert (
        table_cdf_resilient_drain(
            spark, path, ckpt, sink, starting_version=v0
        )
        == 0
    )
    new_rows = rows[n_before:]
    assert {"id": 6, "bucket": 2, "pace": 60, "sign": -1} in new_rows
    post = [r for r in new_rows if r["id"] == 9 and r["sign"] == 1]
    assert post and post[-1]["pace"] == 909
    assert len([r for r in rows if r["id"] == 6]) == 1
