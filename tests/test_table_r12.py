"""Round-12 regression tests — the ADVICE r11 findings plus the
publish-order inversion (verdict r11 #2):

1. (high) absorb-retry lost-update race: an in-flight commit whose
   record landed while its ``_latest`` flip is still pending must
   NEVER be silently dropped by a retrying DML/compact commit — the
   retry's expected_max is the rebased parent, so the gap re-raises
   CommitConflict (loud) instead of publishing past the in-flight
   record.
2. Entry roll-forward: an op entering a table whose last commit
   crashed between record put and pointer flip COMPLETES that commit
   (rolls the pointer forward) instead of chaining past it.
3. Inverted publish order: the commit record names its staged data
   dir — a crash between record and the v{n} rename leaves a version
   that time travel SERVES (staged fallback + repair rename), not a
   burned slot.
4. Rollback ledger: rolled-off records go to the abandoned ledger, so
   a post-rollback commit chains past them (no resurrection) while
   the audit can still time-travel into them.
5. (low) sqlite LogStore claims are generation-scoped: dropping and
   recreating a table at the same path must not resurrect the dead
   generation's commit records.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from strava_etl_public_spark.operators import table_log
from strava_etl_public_spark.operators.table_log import (
    CommitConflict,
    abandoned_records,
    dataset_dir,
    resolve_entry,
    snapshot_max_commit,
)
from strava_etl_public_spark.operators.logstore import (
    LogStore,
    SqliteCoordLogStore,
    set_log_store,
)
from strava_etl_public_spark.operators.table import ManagedTable

SCHEMA = "id long, part long, val long"


@pytest.fixture(scope="module")
def spark():
    from strava_etl_public_spark.session import get_spark

    return get_spark()


def _df(spark, rows):
    return spark.createDataFrame(sorted(rows), SCHEMA)


def _mk(spark, path, n=12):
    return ManagedTable.create(
        _df(spark, [(i, i % 3, i * 10) for i in range(1, n + 1)]),
        path,
        key="id",
    )


def _ids(t, version=None):
    return {r["id"] for r in t.read(version=version).collect()}


class HoldFlipStore(LogStore):
    """Suppress the pointer flip for one named version — the
    'in-flight writer' (or crashed-before-flip writer) simulator."""

    def __init__(self, hold_version: int):
        self.hold_version = hold_version

    def publish_pointer(self, table_path, version):
        if version == self.hold_version:
            self.hold_version = None  # one-shot
            return
        super().publish_pointer(table_path, version)


class InterleaveStore(LogStore):
    """On the victim's first record put, first land two competing
    appends: A fully (record + flip), B record-only (flip held) —
    the exact in-flight shape of the advice-r11 lost-update race."""

    def __init__(self, interleave):
        self.interleave = interleave
        self.fired = False

    def put_record_if_absent(self, cdir, name, payload):
        if not self.fired:
            self.fired = True
            self.interleave()
        return super().put_record_if_absent(cdir, name, payload)


def test_absorb_retry_never_drops_inflight_commit(spark, tmp_path):
    """ADVICE r11 (high). Victim: delete. During its commit window,
    append A lands fully and append B lands record-only (flip
    pending). The victim's absorb retry must re-conflict on B's
    record — loud CommitConflict — never publish a head whose chain
    skips B."""
    path = str(tmp_path / "t")
    t = _mk(spark, path)  # v1
    t2 = ManagedTable(spark, path)

    def interleave():
        # A: full append (record v2... slot next, flip lands)
        t2.append(_df(spark, [(101, 0, 101)]))
        # B: record lands, flip held (in-flight writer)
        b_slot = snapshot_max_commit(path) + 1
        set_log_store(HoldFlipStore(b_slot))
        try:
            t2.append(_df(spark, [(102, 0, 102)]))
        finally:
            set_log_store(store)  # back to the interleaving store

    store = InterleaveStore(interleave)
    set_log_store(store)
    try:
        with pytest.raises(CommitConflict):
            t.delete(F.col("id") == 1)
    finally:
        set_log_store(None)

    # B's record is intact; completing its publish (what B's own flip
    # or any next op's entry does) must surface B's row — nothing lost
    b_slot = snapshot_max_commit(path)
    LogStore().publish_pointer(path, b_slot)
    assert 102 in _ids(t), "in-flight commit's rows were dropped"
    assert 101 in _ids(t)
    # and the victim op, re-run, applies cleanly on the true head
    t.delete(F.col("id") == 1)
    got = _ids(t)
    assert 1 not in got and {101, 102} <= got


def test_entry_rolls_forward_unflipped_commit(spark, tmp_path):
    """A commit that crashed between record put and pointer flip is
    COMPLETED by the next op's entry — its rows appear, the chain has
    no gap, and no version slot is burned."""
    path = str(tmp_path / "t")
    t = _mk(spark, path)  # v1
    set_log_store(HoldFlipStore(2))
    try:
        t.append(_df(spark, [(201, 1, 201)]))  # record v2, flip held
    finally:
        set_log_store(None)
    assert t.version() == 1  # pointer still old
    # next op's entry rolls v2 forward, then applies itself as v3
    t.append(_df(spark, [(202, 2, 202)]))
    assert t.version() == 3
    got = _ids(t)
    assert {201, 202} <= got, "crashed-mid-publish commit was dropped"
    # both versions time-travel exactly
    assert 201 in _ids(t, version=2) and 202 not in _ids(t, version=2)


def test_resolve_entry_repairs_and_reports(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    set_log_store(HoldFlipStore(2))
    try:
        t.append(_df(spark, [(301, 1, 301)]))
    finally:
        set_log_store(None)
    v, m = resolve_entry(path)
    assert (v, m) == (2, 2)  # gap rolled forward
    assert t.version() == 2


def test_crashed_rename_serves_via_staged_fallback(spark, tmp_path):
    """Inverted publish order (verdict #2): record put is the commit
    point. Simulate a crash after the record and before the v{n}
    rename by un-renaming a committed version back to its staged
    name; reads must serve AND repair (the v{n} dir reappears)."""
    from tests.vdir_helper import norename

    path = str(tmp_path / "t")
    t = _mk(spark, path)  # v1
    t.append(_df(spark, [(401, 1, 401)]))  # v2
    rec = json.load(open(os.path.join(path, "_commits", "2.json")))
    staged = rec["staged"]
    if not norename():
        # in no-rename mode the data already lives at its staged name
        os.rename(os.path.join(path, "v2"), os.path.join(path, staged))
    # pointer back to 1 to mimic "crash before flip" as well
    LogStore().publish_pointer(path, 1)
    t2 = ManagedTable(spark, path)
    assert 401 in _ids(t2, version=2)  # staged fallback serves
    if not norename():
        assert os.path.isdir(os.path.join(path, "v2"))  # repaired
    # and latest-read after entry roll-forward sees it too
    t2.append(_df(spark, [(402, 2, 402)]))
    assert {401, 402} <= _ids(t2)


def test_rollback_ledger_no_resurrection(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _mk(spark, path)  # v1
    t.append(_df(spark, [(501, 1, 501)]))  # v2
    t.append(_df(spark, [(502, 2, 502)]))  # v3
    t.rollback(1)
    assert abandoned_records(path) == {2, 3}
    assert t.version() == 1
    # the next op chains PAST the abandoned records (no roll-forward)
    t.append(_df(spark, [(503, 0, 503)]))
    assert t.version() == 4
    got = _ids(t)
    assert 503 in got and 501 not in got and 502 not in got
    # audit can still time-travel into the abandoned branch
    assert 501 in _ids(t, version=2)


def test_record_without_data_marked_aborted(spark, tmp_path):
    """A record naming data that does not exist (pre-inversion burned
    slot) is classified aborted at entry — allocation steps past it,
    no hang, no resurrection."""
    path = str(tmp_path / "t")
    t = _mk(spark, path)  # v1
    # forge a dataless record at slot 2 (no staged dir, no v2)
    rec = {"version": 2, "dataset": "v2", "parent": 1, "n_rows": 0,
           "xor_hash": 0, "sum_hash_mod": 0, "ts": 1.0, "op": "append"}
    with open(os.path.join(path, "_commits", "2.json"), "x") as f:
        json.dump(rec, f)
    t.append(_df(spark, [(601, 0, 601)]))  # must not hang or adopt v2
    assert t.version() == 3
    assert 2 in abandoned_records(path)
    assert 601 in _ids(t)


def test_sqlite_claims_die_with_table_generation(tmp_path):
    """ADVICE r11 (low): recreate-at-same-path must not resurrect the
    dead generation's records from the coordination db."""
    db = str(tmp_path / "coord.db")
    store = SqliteCoordLogStore(db_path=db)
    cdir = str(tmp_path / "t" / "_commits")
    os.makedirs(cdir)
    assert store.put_record_if_absent(cdir, "1.json", '{"version": 1}')
    assert store.put_record_if_absent(cdir, "2.json", '{"version": 2}')
    assert store.list_records(cdir) == ["1.json", "2.json"]
    # drop the table, recreate at the same path
    shutil.rmtree(str(tmp_path / "t"))
    os.makedirs(cdir)
    assert store.list_records(cdir) == [], (
        "dead generation's records were repaired into the fresh table"
    )
    # the fresh generation starts clean — slot 1 is claimable again
    assert store.put_record_if_absent(cdir, "1.json", '{"version": 1}')
    assert store.list_records(cdir) == ["1.json"]


def test_sqlite_default_db_is_per_user(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOGSTORE_DB", raising=False)
    p = SqliteCoordLogStore().db_path
    import getpass

    assert getpass.getuser() in p
    assert p != "/tmp/spark_graft_logstore.db"


def test_lineage_ckpt_json_fallback_uses_requested_version(tmp_path):
    """ADVICE r11 (low): a corrupt parquet checkpoint must fall back
    to the JSON checkpoint of the REQUESTED version, not of the last
    chain entry parsed before the failure."""
    kdir = str(tmp_path / "_ckpts")
    os.makedirs(kdir)
    # parquet file that parses as a table but dies mid-extraction:
    # wrong column type for 'v' (string) makes to_pylist fine but the
    # simplest corruption is a truncated file — write garbage bytes
    with open(os.path.join(kdir, "_ckpt_9.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a parquet file")
    with open(os.path.join(kdir, "_ckpt_9.json"), "w") as f:
        json.dump({"lineage": [{"v": 9, "ts": 5.0}, {"v": 8, "ts": 4.0}]}, f)
    got = table_log._read_lineage_ckpt(kdir, 9)
    assert got == [{"v": 9, "ts": 5.0}, {"v": 8, "ts": 4.0}]


def test_clean_staging_reclaims_only_orphans(spark, tmp_path):
    """Orphan-staging reclaim (before-record crash debris): an old
    unreferenced _stage_ dir is removed; a staged dir referenced by
    an unrenamed commit record survives ANY age; a young orphan
    survives the grace window."""
    path = str(tmp_path / "t")
    from tests.vdir_helper import norename

    t = _mk(spark, path)
    t.append(_df(spark, [(701, 1, 701)]))  # v2
    # committed-but-unrenamed: v2 back to its staged name (already
    # there in no-rename mode)
    rec = json.load(open(os.path.join(path, "_commits", "2.json")))
    if not norename():
        os.rename(
            os.path.join(path, "v2"), os.path.join(path, rec["staged"])
        )
    # orphan debris, aged past the grace
    old_orphan = os.path.join(path, "_stage_deadbeef0001")
    os.makedirs(old_orphan)
    os.utime(old_orphan, (1.0, 1.0))
    young_orphan = os.path.join(path, "_stage_deadbeef0002")
    os.makedirs(young_orphan)

    removed = table_log.clean_staging(path)
    assert removed == [old_orphan]
    assert os.path.isdir(os.path.join(path, rec["staged"]))
    assert os.path.isdir(young_orphan)
    # the referenced staging still serves (and repairs) as v2
    assert 701 in _ids(ManagedTable(spark, path), version=2)


def test_sqlite_has_record_repairs_claimed_but_missing(tmp_path):
    """has_record (the O(1) allocation probe) must treat a
    claimed-but-unmaterialized record as EXISTING and repair it —
    the same rule as list_records, now on the probe path the
    high-water hint uses."""
    db = str(tmp_path / "coord.db")
    store = SqliteCoordLogStore(db_path=db)
    cdir = str(tmp_path / "t" / "_commits")
    os.makedirs(cdir)
    assert store.put_record_if_absent(cdir, "1.json", '{"version": 1}')
    os.remove(os.path.join(cdir, "1.json"))  # crash window simulated
    assert store.has_record(cdir, "1.json")  # claimed → exists
    assert os.path.isfile(os.path.join(cdir, "1.json"))  # repaired
    assert not store.has_record(cdir, "2.json")


def test_max_commit_is_o1_with_fresh_hint(spark, tmp_path, monkeypatch):
    """With a fresh _hw hint, snapshot_max_commit must not LIST the
    commit directory (the O(records) ceiling r12 removed) — probe
    calls only."""
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    t.append(_df(spark, [(801, 1, 801)]))  # v2 — hint bumped to 2
    import os as _os

    real_listdir = _os.listdir

    def no_list_commits(p):
        assert not str(p).endswith("_commits"), (
            "snapshot_max_commit listed _commits despite a fresh hint"
        )
        return real_listdir(p)

    monkeypatch.setattr(_os, "listdir", no_list_commits)
    assert snapshot_max_commit(path) == 2
    monkeypatch.undo()
    # and a LAGGING hint (lost bump) still resolves by probing up
    with open(os.path.join(path, "_commits", "_hw"), "w") as f:
        f.write("1")
    assert snapshot_max_commit(path) == 2
