"""Round-11 regression tests — the four ADVICE r11 findings.

1. (high) vacuum(reclaim_dead=True) never deletes files outside the
   table root — a shallow clone carrying absolute dead entries into
   its SOURCE table must not destroy source data files based only on
   the clone's retention view (Delta's "vacuum never leaves the table
   directory" rule).
2. (medium) pushed IN predicates (col.isin(...)) use pyspark's In
   dataclass field `value` (a tuple), not `values` — planning no
   longer raises AttributeError, and bloom/zone-map pruning handles
   the value list correctly.
3. (low) vacuum(dry_run=True, reclaim_dead=True) PREVIEWS the
   file-level arm (bytes reported, nothing touched) instead of
   silently skipping it.
4. (low) streaming-sink txn markers can be namespaced by
   .option('txnAppId', id) — a second query with a fresh checkpoint
   and NEW data is not silently dropped by a prior lineage's
   batchIds (Delta's (appId, version) txn contract).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from strava_etl_public_spark.operators.table import ManagedTable

SCHEMA = "id long, value double, bucket long"


@pytest.fixture(scope="module")
def spark():
    from strava_etl_public_spark.session import get_spark

    s = get_spark()
    from strava_etl_public_spark.sources.table_batch import (
        register_table_source,
    )
    from strava_etl_public_spark.sources.table_sink import (
        register_table_sink,
    )

    register_table_source(s)
    register_table_sink(s)
    return s


def _mk(spark, path, n=80, parts=4, **kw):
    df = spark.createDataFrame(
        [(i, float(i * 10), i % 8) for i in range(1, n + 1)], SCHEMA
    ).repartition(parts)
    return ManagedTable.create(df, path, key="id", **kw)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _data_files(root):
    out = set()
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith("part-") and f.endswith(".parquet"):
                out.add(os.path.join(dirpath, f))
    return out


# -- 1 (high): clone reclaim must not reach into the source table ----------


def test_clone_reclaim_never_deletes_source_files(spark, tmp_path):
    src_path, dst_path = str(tmp_path / "src"), str(tmp_path / "dst")
    t = _mk(spark, src_path)
    t.delete(F.col("id") <= 30)  # heavy dead fraction
    assert t.compact(dead_frac=0.2) is not None  # dead entries exist
    pre_compact = t.version() - 1
    before = _data_files(src_path)
    expect_src = _rows(t.read())

    c = t.clone(dst_path)  # carries ABSOLUTE dead refs into src
    # the clone's retention view says the source's victims are dead —
    # but they are NOT the clone's files to delete
    c.vacuum(keep_last=1, reclaim_dead=True)

    assert _data_files(src_path) == before  # not one source byte gone
    # no tombstone scribbled into source dirs by the clone either
    for dirpath, _, files in os.walk(src_path):
        assert "_vacuumed.json" not in files
    # source still serves every retained version exactly
    assert _rows(t.read()) == expect_src
    assert t.read(version=pre_compact).count() == 50
    assert _rows(c.read()) == expect_src


def test_own_table_reclaim_still_works(spark, tmp_path):
    """The scope guard must not break the legitimate arm: a table
    reclaiming ITS OWN compaction victims still frees bytes."""
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    t.delete(F.col("id") <= 30)
    assert t.compact(dead_frac=0.2) is not None
    expect = _rows(t.read())
    n_before = len(_data_files(path))
    t.vacuum(keep_last=1, reclaim_dead=True)
    assert t.last_reclaimed_bytes > 0
    assert len(_data_files(path)) < n_before
    assert _rows(t.read()) == expect


# -- 2 (medium): pushed IN predicate -----------------------------------------


def test_pushed_isin_filter_plans_and_prunes(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _mk(spark, path, stat_cols=["id"], bloom_col="id")
    df = (
        spark.read.format("managed_table")
        .option("path", path)
        .load()
        .filter(F.col("id").isin(3, 7, 1000))
    )
    # previously: AttributeError('In' object has no attribute
    # 'values') at planning time
    assert _rows(df) == _rows(t.read().filter(F.col("id").isin(3, 7)))


def test_pushed_isin_after_dml(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _mk(spark, path, stat_cols=["id"], bloom_col="id")
    t.delete(F.col("id") == 7)
    got = (
        spark.read.format("managed_table")
        .option("path", path)
        .load()
        .filter(F.col("id").isin(3, 7, 11))
    )
    assert {r["id"] for r in got.collect()} == {3, 11}


# -- 3 (low): dry-run previews the file-level arm ---------------------------


def test_vacuum_dry_run_previews_reclaim(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    t.delete(F.col("id") <= 30)
    assert t.compact(dead_frac=0.2) is not None
    before = _data_files(path)

    t.vacuum(keep_last=1, reclaim_dead=True, dry_run=True)
    preview = t.last_reclaimed_bytes
    assert preview > 0  # the audit now MENTIONS the file-level arm
    assert _data_files(path) == before  # ...while touching nothing
    for dirpath, _, files in os.walk(path):
        assert "_vacuumed.json" not in files

    # the real run reclaims exactly what the preview reported
    t.vacuum(keep_last=1, reclaim_dead=True)
    assert t.last_reclaimed_bytes == preview
    assert len(_data_files(path)) < len(before)


# -- 4 (low): namespaced txn markers ----------------------------------------


def test_last_txn_namespaced_cursors_are_independent(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _mk(spark, path, n=10, parts=1)
    add = spark.createDataFrame([(100, 1.0, 0)], SCHEMA)
    t._commit(t.read().unionByName(add), extra={"txn": 7, "txn_id": "qA"})
    # qA's cursor advanced; the GLOBAL and other ids' cursors did not
    assert t.last_txn("qA") == 7
    assert t.last_txn("qB") == -1
    assert t.last_txn() == -1
    add2 = spark.createDataFrame([(101, 1.0, 0)], SCHEMA)
    t._commit(t.read().unionByName(add2), extra={"txn": 3, "txn_id": "qB"})
    assert t.last_txn("qA") == 7 and t.last_txn("qB") == 3
    # an un-namespaced marker keeps the legacy global high-water
    add3 = spark.createDataFrame([(102, 1.0, 0)], SCHEMA)
    t._commit(t.read().unionByName(add3), extra={"txn": 9})
    assert t.last_txn() == 9
    assert t.last_txn("qA") == 7  # untouched by the global stream


def test_sink_second_query_with_own_app_id_lands(spark, tmp_path):
    """ADVICE r11 (low): a replacement streaming query (fresh
    checkpoint, NEW data, batchIds restarting at 0) writing to a
    table whose lineage high-water >= its batchIds had its early
    micro-batches silently dropped as replays. With txnAppId each
    query keeps its own cursor."""
    schema = "id long, bucket long, name string"
    path = str(tmp_path / "t")
    ManagedTable.create(
        spark.createDataFrame([(1, 0, "a")], schema), path, key="id"
    )

    def run(src, ckpt, app_id):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.format("managed_table_sink")
            .option("path", path)
            .option("checkpointLocation", ckpt)
            .option("txnAppId", app_id)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    src1 = str(tmp_path / "s1")
    for i in range(3):  # three micro-batches → batchIds 0,1,2
        spark.createDataFrame(
            [(10 + i, 0, f"x{i}")], schema
        ).coalesce(1).write.mode("append").parquet(src1)
    run(src1, str(tmp_path / "c1"), "query-one")

    # second query: FRESH checkpoint, new data, batchIds restart at 0
    src2 = str(tmp_path / "s2")
    spark.createDataFrame([(20, 1, "y0")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src2)
    run(src2, str(tmp_path / "c2"), "query-two")

    t = ManagedTable(spark, path)
    got = {r["id"] for r in t.read().collect()}
    assert 20 in got  # previously dropped as a "replay" of batch 0
    assert got == {1, 10, 11, 12, 20}
    # and each query's OWN replay guard still holds
    run(src2, str(tmp_path / "c3"), "query-two")  # checkpoint loss
    assert ManagedTable(spark, path).read().count() == 5


# -- parquet lineage checkpoints (r10 verdict #4) ---------------------------


def test_parquet_lineage_checkpoint_equals_walk(spark, tmp_path, monkeypatch):
    """The commit log's checkpoint in its PARQUET representation must
    splice into _lineage() exactly like the JSON twin and the pure
    per-record walk — across a rollback (abandoned branch excluded)
    and with txn/txn_id markers carried."""
    import shutil

    import strava_etl_public_spark.operators.table_log as table_log

    monkeypatch.setattr(table_log, "SNAPSHOT_CKPT_EVERY", 4)
    monkeypatch.setattr(table_log, "LINEAGE_CKPT_PQ_THRESHOLD", 1)

    base = spark.createDataFrame(
        [(i, float(i), i % 2) for i in range(1, 11)], SCHEMA
    )
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    ts = 1000.0
    recs = []
    for i in range(10):
        ts += 10.0
        extra = {"ts": ts}
        if i % 3 == 0:
            extra["txn"] = i
            extra["txn_id"] = "qZ"
        v = t._commit(
            t.read().withColumn("value", F.col("value") + 1), extra=extra
        )
        recs.append((v, ts))
        if i == 5:
            t.rollback(recs[2][0])

    kdir = tmp_path / "t" / "_ckpts"
    names = os.listdir(str(kdir))
    assert any(f.endswith(".parquet") for f in names)
    assert not any(f.endswith(".json") for f in names)  # threshold=1

    keep = [
        (v, r.get("ts"), r.get("txn"), r.get("txn_id"))
        for v, r in t._lineage()
    ]
    shutil.rmtree(str(kdir))  # force the pure per-record walk
    walk = [
        (v, r.get("ts"), r.get("txn"), r.get("txn_id"))
        for v, r in t._lineage()
    ]
    assert keep == walk

    # as_of and the namespaced txn cursor answer identically through
    # the parquet splice
    t2 = ManagedTable(spark, str(tmp_path / "t"))
    probe = walk[len(walk) // 2][1]
    want = t2.as_of(probe).count()
    for _ in range(4):  # regenerate a (parquet) checkpoint
        t2._commit(t2.read(), extra={"ts": ts + 100})
    assert any(f.endswith(".parquet") for f in os.listdir(str(kdir)))
    assert t2.as_of(probe).count() == want
    assert t2.last_txn("qZ") == walk[0][2] or t2.last_txn("qZ") >= 0


def test_ckpt_retention_covers_both_representations(
    spark, tmp_path, monkeypatch
):
    import strava_etl_public_spark.operators.table_log as table_log

    monkeypatch.setattr(table_log, "SNAPSHOT_CKPT_EVERY", 2)
    base = spark.createDataFrame(
        [(i, float(i), i % 2) for i in range(1, 6)], SCHEMA
    )
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    # first half JSON, second half parquet (threshold flips mid-run)
    for i in range(8):
        if i == 4:
            monkeypatch.setattr(table_log, "LINEAGE_CKPT_PQ_THRESHOLD", 1)
        t._commit(t.read(), extra={"ts": 1000.0 + i})
    kdir = str(tmp_path / "t" / "_ckpts")
    vs = sorted(
        int(f[len("_ckpt_"):].split(".")[0]) for f in os.listdir(kdir)
    )
    assert len(vs) <= 4  # retention prunes across BOTH suffixes
    # newest checkpoint is parquet; the walk still splices it
    assert any(f.endswith(".parquet") for f in os.listdir(kdir))
    assert [v for v, _ in t._lineage()][0] == t.version()


# -- WriteSerializable: blind appends commute with DV delete/update ---------
# (r11, from the 8-writer throughput smoke: mixed append+delete
# workloads paid a full predicate re-derive per append interleave)


@pytest.fixture
def bucketed(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, float(i), i % 4) for i in range(1, 81)],
        "id long, value double, bucket long",
    ).repartitionByRange(4, "bucket")
    return ManagedTable.create(df, str(tmp_path / "t"), key="id")


def _interleave(monkeypatch, fn):
    """Fire ``fn`` once, inside the next op's populate window (after
    its predicate scan, before its commit record) — the r10 hook."""
    fired = {"done": False}
    orig = ManagedTable._inherit_sidecars

    def hooked(src_vdir, dst_vdir):
        if not fired["done"]:
            fired["done"] = True
            fn()
        return orig(src_vdir, dst_vdir)

    monkeypatch.setattr(
        ManagedTable, "_inherit_sidecars", staticmethod(hooked)
    )
    return fired


def test_delete_absorbs_interleaved_blind_append(
    spark, bucketed, tmp_path, monkeypatch
):
    """Delta's WriteSerializable default: a blind append lands while
    a DELETE derives its write set — the delete absorbs it (no
    CommitConflict, no predicate re-scan), result = serial schedule
    'delete first, then append': appended rows survive even where
    they match the predicate."""
    from strava_etl_public_spark.operators.layout import (
        dataset_fingerprint,
    )

    t = bucketed
    t2 = ManagedTable(spark, t.path)
    add = spark.createDataFrame(
        [(500, 500.0, 0)], "id long, value double, bucket long"
    )  # bucket 0 — the very bucket being deleted
    fired = _interleave(monkeypatch, lambda: t2.append(add))
    v = t.delete(F.col("bucket") == 0)  # raw op — no transact retry
    assert fired["done"]
    rows = {r["id"]: r["bucket"] for r in t.read(version=v).collect()}
    assert 500 in rows  # the appended row SURVIVES (delete-first order)
    assert all(b != 0 for i, b in rows.items() if i != 500)
    rec = json.load(open(os.path.join(t.path, "_commits", f"{v}.json")))
    d = dataset_fingerprint(t.read(version=v)).collect()[0].asDict()
    assert (d["n_rows"], d["xor_hash"], d["sum_hash_mod"]) == (
        rec["n_rows"], rec["xor_hash"], rec["sum_hash_mod"],
    )


def test_update_absorbs_interleaved_blind_append(
    spark, bucketed, tmp_path, monkeypatch
):
    from strava_etl_public_spark.operators.layout import (
        dataset_fingerprint,
    )

    t = bucketed
    t2 = ManagedTable(spark, t.path)
    add = spark.createDataFrame(
        [(501, 1.5, 1)], "id long, value double, bucket long"
    )
    fired = _interleave(monkeypatch, lambda: t2.append(add))
    v = t.update(F.col("bucket") == 1, {"value": F.lit(-1.0)})
    assert fired["done"]
    rows = {r["id"]: (r["bucket"], r["value"]) for r in t.read().collect()}
    # appended row passes through UN-updated (update-first order)
    assert rows[501] == (1, 1.5)
    assert all(
        val == -1.0 for i, (b, val) in rows.items() if b == 1 and i != 501
    )
    rec = json.load(open(os.path.join(t.path, "_commits", f"{v}.json")))
    d = dataset_fingerprint(t.read(version=v)).collect()[0].asDict()
    assert (d["n_rows"], d["xor_hash"], d["sum_hash_mod"]) == (
        rec["n_rows"], rec["xor_hash"], rec["sum_hash_mod"],
    )


def test_overwrite_still_conflicts_with_interleaved_append(
    spark, bucketed, tmp_path, monkeypatch
):
    """Partition overwrite must NOT absorb appends: an append into a
    partition being replaced would survive the replacement, breaking
    'exactly the named partitions' — the conflict surfaces for
    transact's semantic retry (Delta's rule)."""
    from strava_etl_public_spark.operators.table_log import CommitConflict

    t = bucketed
    t2 = ManagedTable(spark, t.path)
    add = spark.createDataFrame(
        [(502, 2.5, 2)], "id long, value double, bucket long"
    )
    _interleave(monkeypatch, lambda: t2.append(add))
    repl = spark.createDataFrame(
        [(900, 9.0, 2)], "id long, value double, bucket long"
    )
    with pytest.raises(CommitConflict):
        t.overwrite_partitions(repl, "bucket")
