"""Round-10 regression tests — the five ADVICE r10 findings.

1. (high) copy commits (ManagedTable._commit) stage privately and rename
   only after winning the record race — a losing concurrent writer
   can never scribble over a winner's published v{n} data.
2. (medium) every op captures the allocation high-water BEFORE
   reading table state — a commit landing between the two reads can
   no longer be silently lineage-orphaned.
3. (medium) DV entries are stored table-relative — a relocated table
   keeps its deletes/updates instead of silently resurrecting rows.
4. (low) _save_config is crash-atomic (tmp + os.replace).
5. (low) sidecar manifests publish atomically with their version —
   a failure building them aborts the commit instead of stranding a
   published version without manifests.
"""

import json
import os
import shutil

import pytest

from tests.vdir_helper import vd as _vd
from pyspark.sql import functions as F

from strava_etl_public_spark.operators.table import ManagedTable


@pytest.fixture(scope="module")
def spark():
    from strava_etl_public_spark.session import get_spark

    return get_spark()


@pytest.fixture
def base(spark):
    return spark.createDataFrame(
        [(i, float(i * 10), i % 4) for i in range(1, 41)],
        "id long, value double, bucket long",
    )


def test_relocated_table_keeps_deletes_and_updates(spark, base, tmp_path):
    """ADVICE r10 (medium): absolute DV paths matched nothing after a
    table move — reads silently resurrected deleted rows and served
    both images of merge-on-read updates. Entries are now stored
    table-relative and rebased at read time."""
    src = str(tmp_path / "t")
    t = ManagedTable.create(
        base, src, key="id", stat_cols=["id"], bloom_col="id"
    )
    t.delete(F.col("id") <= 5)
    t.update(F.col("id") == 10, {"value": F.lit(999.0)})

    # pin the storage format: in-table entries are relative
    vdir = _vd(tmp_path / "t", t.version())
    dv_files = [
        r["_file"]
        for r in spark.read.parquet(os.path.join(vdir, "_dv")).collect()
    ]
    assert dv_files and all(not f.startswith("/") for f in dv_files)
    assert all("://" not in f for f in dv_files)

    dst = str(tmp_path / "moved")
    shutil.move(src, dst)
    m = ManagedTable(spark, dst)
    got = {r["id"]: r["value"] for r in m.read().collect()}
    assert set(got) == set(range(6, 41))  # deletes still deleted
    assert got[10] == 999.0  # update's post-image only

    # the skipping layer survives the move too (basename manifests)
    out, files_read, files_total = m.scan("id", 10, 12)
    assert {r["id"] for r in out.collect()} == {10, 11, 12}
    hit, fr, tot = m.lookup(3)
    assert hit.collect() == []  # deleted key stays deleted post-move
    hit2, _, _ = m.lookup(10)
    assert [r["value"] for r in hit2.collect()] == [999.0]


def test_relocated_clone_still_reads_and_moved_source_fails_loud(
    spark, base, tmp_path
):
    """Clone DV entries freeze the SOURCE's relative paths to absolute:
    moving the CLONE keeps it readable; moving the SOURCE makes clone
    reads fail loudly (the documented shallow-clone hazard), never
    return resurrected rows."""
    src = str(tmp_path / "src")
    t = ManagedTable.create(base, src, key="id")
    t.delete(F.col("id") <= 5)
    c = t.clone(str(tmp_path / "c"))
    shutil.move(str(tmp_path / "c"), str(tmp_path / "c2"))
    c2 = ManagedTable(spark, str(tmp_path / "c2"))
    assert {r["id"] for r in c2.read().collect()} == set(range(6, 41))

    shutil.move(src, str(tmp_path / "src_gone"))
    with pytest.raises(ValueError, match="no longer exists"):
        c2.read().collect()


def test_copy_commit_stages_until_record_race_won(
    spark, base, tmp_path, monkeypatch
):
    """ADVICE r10 (high): a losing copy commit (merge/overwrite) whose
    Spark write was in flight could scribble over the winner's already
    published v{n}. Copy commits now write into a private staging dir
    and rename only after the O_EXCL record win — the loser's conflict
    leaves the winner's version byte-intact and no staging litter."""
    from strava_etl_public_spark.operators.layout import dataset_fingerprint
    from strava_etl_public_spark.operators.table_log import CommitConflict

    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    t2 = ManagedTable(spark, str(tmp_path / "t"))
    fired = {"done": False}
    orig = ManagedTable._build_sidecars

    def hooked(self, vdir):
        # fires inside the loser's staging window, AFTER its data write
        if not fired["done"]:
            fired["done"] = True
            t2.update(F.col("id") == 2, {"value": F.lit(222.0)})
        return orig(self, vdir)

    monkeypatch.setattr(ManagedTable, "_build_sidecars", hooked)
    with pytest.raises(CommitConflict):
        t.merge(
            spark.createDataFrame(
                [(1, 111.0, 0)], "id long, value double, bucket long"
            )
        )
    assert fired["done"]
    # winner's version is current, its data digest-intact
    v = t.version()
    rec = json.load(open(str(tmp_path / "t" / "_commits" / f"{v}.json")))
    got = {r["id"]: r["value"] for r in t.read().collect()}
    assert got[2] == 222.0 and got[1] == 10.0  # loser's merge not applied
    d = dataset_fingerprint(t.read()).collect()[0].asDict()
    assert (d["n_rows"], d["xor_hash"], d["sum_hash_mod"]) == (
        rec["n_rows"],
        rec["xor_hash"],
        rec["sum_hash_mod"],
    )
    # no staging litter
    from tests.vdir_helper import stage_litter

    assert not stage_litter(tmp_path / "t")


def test_max_capture_precedes_state_read(spark, base, tmp_path, monkeypatch):
    """ADVICE r10 (medium): delete/update/restore/optimize read
    self.version() BEFORE capturing snapshot_max_commit — a commit
    landing between the two made expected_max reflect a record the op
    never read, so the competing commit was silently lineage-orphaned.
    With the safe order, a commit landing at the high-water capture is
    simply READ by the op (version() runs after), so both effects land
    on one lineage."""
    import strava_etl_public_spark.operators.table as table_mod

    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    t2 = ManagedTable(spark, str(tmp_path / "t"))
    # r12: entry goes through resolve_entry (gap-classifying) — hook
    # that seam; the ordering invariant under test is unchanged
    real_entry = table_mod.resolve_entry
    fired = {"done": False}

    def hooked_entry(path):
        if not fired["done"]:
            fired["done"] = True
            t2.update(F.col("id") == 2, {"value": F.lit(222.0)})
        return real_entry(path)

    monkeypatch.setattr(table_mod, "resolve_entry", hooked_entry)
    v = t.delete(F.col("id") == 1)
    assert fired["done"]
    # BOTH effects present — the old order orphaned the update
    got = {r["id"]: r["value"] for r in t.read(version=v).collect()}
    assert 1 not in got and got[2] == 222.0
    # and the competing commit is ON the lineage (its txn-visible
    # parent chain includes it), not an abandoned branch
    parents = [rec.get("parent") for _, rec in t._lineage()]
    assert len(set(parents)) == len(parents)  # a chain, no forks


def test_save_config_is_crash_atomic(spark, base, tmp_path, monkeypatch):
    """ADVICE r10 (low): an in-place open('w') left a truncated
    _table.json on a mid-write crash, bricking the constructor. The
    write now goes to a tmp file and os.replace()s over."""
    path = str(tmp_path / "t")
    t = ManagedTable.create(base, path, key="id")
    t.add_constraint("val_pos", "value > 0")

    orig_dump = json.dump

    def bomb(obj, fp, *a, **k):
        if "_table.json.tmp" in getattr(fp, "name", ""):
            fp.write('{"trunc')  # partial bytes, then die
            raise RuntimeError("crash mid-config-write")
        return orig_dump(obj, fp, *a, **k)

    monkeypatch.setattr(json, "dump", bomb)
    with pytest.raises(RuntimeError, match="mid-config-write"):
        t.drop_constraint("val_pos")
    monkeypatch.undo()
    # the on-disk config is the intact PRE-crash state
    t2 = ManagedTable(spark, path)
    assert t2.constraints == {"val_pos": "value > 0"}


def test_failed_sidecar_build_aborts_commit(spark, base, tmp_path, monkeypatch):
    """ADVICE r10 (low): sidecars built after the pointer flip could
    strand a published version without manifests (scan/lookup then
    raised FileNotFoundError). They now build inside the staging dir:
    a sidecar failure aborts the whole commit — version unchanged, no
    litter."""
    t = ManagedTable.create(
        base, str(tmp_path / "t"), key="id", stat_cols=["id"]
    )
    v_before = t.version()

    def bomb(self, vdir):
        raise RuntimeError("sidecar build died")

    monkeypatch.setattr(ManagedTable, "_build_sidecars", bomb)
    with pytest.raises(RuntimeError, match="sidecar build died"):
        t.merge(
            spark.createDataFrame(
                [(99, 1.0, 0)], "id long, value double, bucket long"
            )
        )
    monkeypatch.undo()
    assert t.version() == v_before
    from tests.vdir_helper import stage_litter

    assert not stage_litter(tmp_path / "t")
    # scan still serves the intact pre-commit version
    out, fr, tot = t.scan("id", 1, 5)
    assert out.count() == 5


def test_optimize_sidecar_failure_leaves_version_unchanged(
    spark, base, tmp_path, monkeypatch
):
    """OPTIMIZE builds its sidecars on the verified scratch BEFORE the
    commit — a manifest failure aborts the publish."""
    t = ManagedTable.create(
        base, str(tmp_path / "t"), key="id", stat_cols=["id"]
    )
    t.delete(F.col("id") == 1)
    v_before = t.version()

    def bomb(self, vdir, df, file_col):
        raise RuntimeError("manifest build died")

    monkeypatch.setattr(ManagedTable, "_write_manifest", bomb)
    with pytest.raises(RuntimeError, match="manifest build died"):
        t.optimize()
    monkeypatch.undo()
    assert t.version() == v_before
    assert {r["id"] for r in t.read().collect()} == set(range(2, 41))


# ---------------------------------------------------------------------------
# Round-10 verdict #2: commit-metadata scale — O(1) last_txn via the
# folded txn high-water, O(cadence) lineage walks via checkpoints.
# ---------------------------------------------------------------------------


def test_last_txn_is_o1_and_equals_the_walk(spark, base, tmp_path):
    """Every commit record folds txn_hw forward, so last_txn answers
    from ONE record read; it must equal the legacy lineage walk,
    including after rollback (orphaned markers never inherited) and
    restore (markers persist — Delta's RESTORE/appId interaction)."""
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    for b in (3, 7):
        t._commit(t.read().withColumn("value", F.col("value") + 1),
                  extra={"txn": b})
    rec = json.load(
        open(str(tmp_path / "t" / "_commits" / f"{t.version()}.json"))
    )
    assert rec["txn_hw"] == 7
    assert t.last_txn() == 7

    def walked(tab):
        for _, r in tab._lineage():
            if "txn" in r:
                return int(r["txn"])
        return -1

    assert walked(t) == 7

    # rollback past batch 7, recommit WITHOUT a marker: the high-water
    # must drop back to 3 — the rolled-back branch's marker is dead
    v_after_3 = t.version() - 1
    t.rollback(v_after_3)
    t._commit(t.read())
    assert t.last_txn() == 3 == walked(t)

    # restore retracts DATA, not markers: txn_hw persists through it
    t._commit(t.read(), extra={"txn": 9})
    t.restore(1)
    assert t.last_txn() == 9 == walked(t)


def test_lineage_checkpoint_equals_full_walk(spark, base, tmp_path, monkeypatch):
    """A lineage walk that splices `_ckpts/_ckpt_{n}.json` must give
    exactly the per-record walk's answer for timestamp time travel —
    across rollbacks (abandoned branches excluded from the folded
    chain) — while reading O(cadence) records."""
    import strava_etl_public_spark.operators.table_log as table_log

    monkeypatch.setattr(table_log, "SNAPSHOT_CKPT_EVERY", 4)
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    ts = 1000.0
    recs = []
    for i in range(10):
        ts += 10.0
        v = t._commit(
            t.read().withColumn("value", F.col("value") + 1),
            extra={"ts": ts},
        )
        recs.append((v, ts))
        if i == 5:
            t.rollback(recs[2][0])  # abandon a branch mid-history
    kdir = tmp_path / "t" / "_ckpts"
    assert kdir.is_dir() and any(
        f.startswith("_ckpt_") for f in os.listdir(str(kdir))
    )

    # every folded entry must be ON the current lineage (no abandoned
    # branch leaks into a checkpoint written after the rollback)
    import shutil as _sh

    chain_ck = [(v, r.get("ts")) for v, r in t._lineage()]
    _sh.rmtree(str(kdir))  # force the pure per-record walk
    chain_walk = [(v, r.get("ts")) for v, r in t._lineage()]
    assert chain_ck == chain_walk

    # as_of answers identically through either path
    t2 = ManagedTable(spark, str(tmp_path / "t"))
    probe = chain_walk[len(chain_walk) // 2][1]
    want = t2.as_of(probe).count()
    # (checkpoints were removed above; recommit to regenerate one and
    # compare the checkpointed answer)
    for _ in range(4):
        t2._commit(t2.read(), extra={"ts": ts + 100})
    assert any(f.startswith("_ckpt_") for f in os.listdir(str(kdir)))
    assert t2.as_of(probe).count() == want


# ---------------------------------------------------------------------------
# Round-10 verdict #3: OCC conflict classification — disjoint DV writers
# commute; blind appends rebase instead of conflicting.
# ---------------------------------------------------------------------------


@pytest.fixture
def bucketed(spark, tmp_path):
    """A table whose files align with buckets (range-clustered), so
    per-bucket DML write sets are file-disjoint."""
    df = spark.createDataFrame(
        [(i, float(i), i % 4) for i in range(1, 81)],
        "id long, value double, bucket long",
    ).repartitionByRange(4, "bucket")
    return ManagedTable.create(df, str(tmp_path / "t"), key="id")


def test_disjoint_dv_deletes_both_succeed_without_retry(
    spark, bucketed, tmp_path, monkeypatch
):
    """Two writers deleting from DISJOINT files both commit — the
    loser classifies the interleaved commit as a commuting dv_delete
    and absorbs it by DV union + digest re-derivation, with NO
    CommitConflict surfacing and NO re-run of its predicate scan."""
    from strava_etl_public_spark.operators.layout import dataset_fingerprint

    t = bucketed
    t2 = ManagedTable(spark, t.path)
    fired = {"done": False}
    orig = ManagedTable._inherit_sidecars

    def hooked(src_vdir, dst_vdir):
        if not fired["done"]:
            fired["done"] = True
            t2.delete(F.col("bucket") == 3)  # the competing writer
        return orig(src_vdir, dst_vdir)

    monkeypatch.setattr(ManagedTable, "_inherit_sidecars", staticmethod(hooked))
    v = t.delete(F.col("bucket") == 0)  # raw op — no transact retry
    assert fired["done"]
    got = {r["bucket"] for r in t.read(version=v).collect()}
    assert got == {1, 2}  # BOTH deletes applied
    # the derived digest is exact for the union result
    rec = json.load(open(os.path.join(t.path, "_commits", f"{v}.json")))
    d = dataset_fingerprint(t.read(version=v)).collect()[0].asDict()
    assert (d["n_rows"], d["xor_hash"], d["sum_hash_mod"]) == (
        rec["n_rows"],
        rec["xor_hash"],
        rec["sum_hash_mod"],
    )
    # and the records carry the classification metadata
    assert rec["op"] == "dv_delete" and rec["wfiles"]


def test_same_file_dv_deletes_still_conflict(
    spark, bucketed, tmp_path, monkeypatch
):
    """Write sets touching the SAME file must conflict (file-level
    granularity, Delta's rule) — the union shortcut is refused and the
    conflict surfaces for transact's semantic retry."""
    from strava_etl_public_spark.operators.table_log import CommitConflict

    t = bucketed
    t2 = ManagedTable(spark, t.path)
    fired = {"done": False}
    orig = ManagedTable._inherit_sidecars

    def hooked(src_vdir, dst_vdir):
        if not fired["done"]:
            fired["done"] = True
            t2.delete(F.col("id") == 2)  # bucket 2 % 4... id=2 -> bucket 2
        return orig(src_vdir, dst_vdir)

    monkeypatch.setattr(ManagedTable, "_inherit_sidecars", staticmethod(hooked))
    with pytest.raises(CommitConflict):
        t.delete(F.col("id") == 6)  # id=6 -> bucket 2: same file
    # transact-level retry still converges to both effects
    got = {r["id"] for r in t.read().collect()}
    assert 2 not in got and 6 in got


def test_update_absorbs_disjoint_delete_but_not_update(
    spark, bucketed, tmp_path, monkeypatch
):
    from strava_etl_public_spark.operators.table_log import CommitConflict

    t = bucketed
    t2 = ManagedTable(spark, t.path)
    fired = {"done": False}
    orig = ManagedTable._inherit_sidecars

    def hooked(src_vdir, dst_vdir):
        if not fired["done"]:
            fired["done"] = True
            t2.delete(F.col("bucket") == 3)
        return orig(src_vdir, dst_vdir)

    monkeypatch.setattr(ManagedTable, "_inherit_sidecars", staticmethod(hooked))
    v = t.update(F.col("bucket") == 0, {"value": F.lit(-1.0)})
    got = {r["bucket"]: r for r in t.read(version=v).collect()}
    assert 3 not in {r["bucket"] for r in t.read(version=v).collect()}
    assert all(
        r["value"] == -1.0
        for r in t.read(version=v).collect()
        if r["bucket"] == 0
    )

    # interleaved UPDATE does not commute even on disjoint files: its
    # rewritten images are rows this op's predicate never scanned
    fired2 = {"done": False}

    def hooked2(src_vdir, dst_vdir):
        if not fired2["done"]:
            fired2["done"] = True
            t2.update(F.col("bucket") == 3, {"value": F.lit(9.0)})
        return orig(src_vdir, dst_vdir)

    monkeypatch.setattr(ManagedTable, "_inherit_sidecars", staticmethod(hooked2))
    with pytest.raises(CommitConflict):
        t.update(F.col("bucket") == 1, {"value": F.lit(-2.0)})


def test_append_is_o_batch_and_digest_exact(spark, base, tmp_path):
    """Blind append publishes a reference commit: base files untouched,
    batch lands in the version's own _upd dir, derived digest exact;
    later DML and OPTIMIZE fold over the appended universe."""
    from strava_etl_public_spark.operators.layout import dataset_fingerprint

    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    v1_files = sorted(os.listdir(_vd(tmp_path / "t", 1)))
    v = t.append(
        spark.createDataFrame(
            [(100, 1.0, 0), (101, 2.0, 1)], "id long, value double, bucket long"
        )
    )
    assert sorted(os.listdir(_vd(tmp_path / "t", 1))) == v1_files
    assert os.path.isdir(os.path.join(_vd(tmp_path / "t", v), "_upd"))
    got = {r["id"] for r in t.read().collect()}
    assert {100, 101} <= got and len(got) == 42
    rec = json.load(open(os.path.join(t.path, "_commits", f"{v}.json")))
    d = dataset_fingerprint(t.read()).collect()[0].asDict()
    assert (d["n_rows"], d["xor_hash"], d["sum_hash_mod"]) == (
        rec["n_rows"],
        rec["xor_hash"],
        rec["sum_hash_mod"],
    )
    # appended rows are first-class: delete one, optimize folds
    t.delete(F.col("id") == 100)
    assert 100 not in {r["id"] for r in t.read().collect()}
    t.optimize()
    assert 101 in {r["id"] for r in t.read().collect()}


def test_append_constraints_probe_batch_only(spark, base, tmp_path):
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    t.add_constraint("val_pos", "value > 0")
    with pytest.raises(ValueError, match="val_pos"):
        t.append(
            spark.createDataFrame(
                [(100, -1.0, 0)], "id long, value double, bucket long"
            )
        )
    assert t.version() == 1  # refused, table unchanged


def test_append_commutes_with_interleaved_merge(
    spark, base, tmp_path, monkeypatch
):
    """A blind append rebases over ANY published interleave that keeps
    the column map — here a full MERGE commit — without a conflict
    surfacing and without re-writing its batch through user logic."""
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    t2 = ManagedTable(spark, t.path)
    fired = {"done": False}
    orig = ManagedTable._inherit_sidecars

    def hooked(src_vdir, dst_vdir):
        if not fired["done"]:
            fired["done"] = True
            t2.merge(
                spark.createDataFrame(
                    [(1, 111.0, 0)], "id long, value double, bucket long"
                )
            )
        return orig(src_vdir, dst_vdir)

    monkeypatch.setattr(ManagedTable, "_inherit_sidecars", staticmethod(hooked))
    v = t.append(
        spark.createDataFrame(
            [(200, 5.0, 2)], "id long, value double, bucket long"
        )
    )
    assert fired["done"]
    got = {r["id"]: r["value"] for r in t.read(version=v).collect()}
    assert got[1] == 111.0 and got[200] == 5.0  # both effects
    # the rebased digest describes the rows actually published
    from strava_etl_public_spark.operators.layout import dataset_fingerprint

    rec = json.load(open(os.path.join(t.path, "_commits", f"{v}.json")))
    live = dataset_fingerprint(t.read(version=v)).collect()[0].asDict()
    assert [rec[k] for k in ("n_rows", "xor_hash", "sum_hash_mod")] == [
        live[k] for k in ("n_rows", "xor_hash", "sum_hash_mod")
    ]


def test_append_conflicts_on_interleaved_column_map_change(
    spark, base, tmp_path, monkeypatch
):
    from strava_etl_public_spark.operators.table_log import CommitConflict

    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    t2 = ManagedTable(spark, t.path)
    fired = {"done": False}
    orig = ManagedTable._inherit_sidecars

    def hooked(src_vdir, dst_vdir):
        if not fired["done"]:
            fired["done"] = True
            t2.rename_column("value", "speed")
        return orig(src_vdir, dst_vdir)

    monkeypatch.setattr(ManagedTable, "_inherit_sidecars", staticmethod(hooked))
    with pytest.raises(CommitConflict):
        t.append(
            spark.createDataFrame(
                [(200, 5.0, 2)], "id long, value double, bucket long"
            )
        )


# ---------------------------------------------------------------------------
# Round-10 verdict #4: streaming CDF tail of the managed table.
# ---------------------------------------------------------------------------


def test_changes_signed_fast_path_matches_snapshot_diff(spark, base, tmp_path):
    """The physical change-file fast path (DV delta + window _upd)
    must produce exactly the snapshot diff's signed multiset across a
    delete + update + append window — and intermediate births that die
    inside the window must cancel."""
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    v1 = t.version()
    t.delete(F.col("id") <= 5)
    t.update(F.col("id") == 10, {"value": F.lit(999.0)})
    t.append(
        spark.createDataFrame(
            [(200, 5.0, 2), (201, 6.0, 3)], "id long, value double, bucket long"
        )
    )
    t.delete(F.col("id") == 200)  # window-born row dies in-window
    v_end = t.version()
    fast = t.changes_signed(v1, v_end)

    # force the fallback by walking through a copy commit marker:
    # recompute the same window via the snapshot-diff path directly
    from strava_etl_public_spark.operators.upsert import snapshot_cdf

    cdf = snapshot_cdf(t.read(version=v1), t.read(version=v_end), ["id"])
    want = sorted(
        (
            r["id"],
            r["value"],
            1 if r["_change_type"] in ("insert", "update_postimage") else -1,
        )
        for r in cdf.collect()
    )
    got = sorted((r["id"], r["value"], r["sign"]) for r in fast.collect())
    assert got == want
    assert (200, 5.0, 1) not in got  # born-and-died cancels entirely


def test_table_cdf_tail_multibatch_exactly_once(spark, base, tmp_path):
    """The consumer tails commits one version per batch (n_batches
    proves multi-batch consumption), its aggregate equals a full
    recompute, a fresh consumer with no state beyond the result table
    resumes without double-applying, and a rollback of the result
    table re-opens exactly the rolled-back batches."""
    from strava_etl_public_spark.streaming.ingest import table_cdf_tail

    src = ManagedTable.create(
        base.withColumn("v", (F.col("id") % 7).cast("long")).drop("value"),
        str(tmp_path / "src"),
        key="id",
    )
    src.delete(F.col("id") % 5 == 0)
    src.update(F.col("bucket") == 1, {"v": F.col("v") + 100})
    src.append(
        spark.createDataFrame(
            [(900, 0, 50), (901, 1, 60)], "id long, bucket long, v long"
        )
    )
    out_path = str(tmp_path / "agg")
    n = table_cdf_tail(src, out_path, "bucket", "v")
    # initial snapshot batch + one per source version after v1
    assert n == 1 + (src.version() - 1) and n >= 3

    def recompute():
        return {
            (r["bucket"], r["total"], r["n_rows"])
            for r in src.read()
            .groupBy("bucket")
            .agg(
                F.sum("v").cast("long").alias("total"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
            )
            .collect()
        }

    out = ManagedTable(spark, out_path)

    def state():
        return {
            (r["bucket"], r["total"], r["n_rows"])
            for r in out.read().collect()
        }

    assert state() == recompute()

    # caught up: a fresh consumer (checkpoint-free) applies nothing
    assert table_cdf_tail(src, out_path, "bucket", "v") == 0
    assert state() == recompute()

    # new source commits: incremental batches, still exact
    src.delete(F.col("bucket") == 2)
    src.append(
        spark.createDataFrame([(902, 2, 70)], "id long, bucket long, v long")
    )
    assert table_cdf_tail(src, out_path, "bucket", "v") == 2
    assert state() == recompute()

    # rollback the RESULT table: replay re-applies exactly those
    # batches (the txn cursor is the result table's own lineage)
    out.rollback(out.version() - 2)
    assert table_cdf_tail(src, out_path, "bucket", "v") == 2
    assert state() == recompute()
