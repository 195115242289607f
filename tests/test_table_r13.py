"""Round-13 regression tests — the ADVICE r12 findings plus the
object-store no-rename mode (verdict r13 #1):

1. (medium) roll-forward repair racing a live committer: a concurrent
   reader's ``dataset_dir``/``resolve_entry`` repair rename between
   this writer's record put and its own ``v{n}`` rename must not make
   the writer's commit RAISE — the commit is durable at the record
   put, and a caller retrying on the rename error would double-apply
   the write.
2. (low) monotone commit-path pointer flip: a slow writer's flip must
   never regress ``_latest`` below a newer version a repairer (or a
   later committer) already published.
3. (low) ``clean_staging`` builds the protected set through the
   LogStore: a commit claimed in the coordination db whose record
   file never materialized (crash between claim and write) still
   protects its staged data from the orphan vacuum.
4. (low) the sink's DuckDB digest fold degrades to the hashlib loop
   on ANY runtime failure, not just a missing module.
5. No-rename mode (``SPARK_GRAFT_NO_RENAME=1``): the whole commit /
   read / DML / time-travel cycle works with the cosmetic ``v{n}``
   rename globally suppressed — the object-store publish claim.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from strava_etl_public_spark.operators import table_log
from strava_etl_public_spark.operators.table_log import (
    dataset_dir,
    resolve_entry,
    snapshot_version,
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


class RepairerWinsStore(LogStore):
    """Right after every winning record put, simulate a concurrent
    reader completing the publish (the dataset_dir repair rename) —
    so the writer's own rename always loses the race."""

    def put_record_if_absent(self, cdir, name, payload):
        won = super().put_record_if_absent(cdir, name, payload)
        if won and name[0].isdigit():
            table = os.path.dirname(cdir)
            dataset_dir(table, int(name.split(".")[0]))  # repairer
        return won


class HoldFlipStore(LogStore):
    """Suppress the pointer flip for the named versions (in-flight /
    crashed-before-flip writer simulator)."""

    def __init__(self, hold: set[int]):
        self.hold = set(hold)

    def publish_pointer(self, table_path, version):
        if version in self.hold:
            self.hold.discard(version)
            return
        super().publish_pointer(table_path, version)


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_NO_RENAME") == "1",
    reason="simulates the rename race itself — no renames exist in "
    "no-rename mode, so there is nothing to lose",
)
def test_commit_tolerates_rename_lost_to_repairer(spark, tmp_path):
    """ADVICE r12 (medium): every commit in this test loses its
    ``staging → v{n}`` rename to a repairer that runs between the
    record put and the writer's rename — the commit must still
    succeed (record durable, data published), never raise."""
    path = str(tmp_path / "t")
    set_log_store(RepairerWinsStore())
    try:
        t = _mk(spark, path)  # create's commit rename already stolen
        t.append(_df(spark, [(101, 1, 101)]))  # v2, stolen again
        t.delete(F.col("id") == 3)  # v3 (reference commit), stolen
    finally:
        set_log_store(None)
    t = ManagedTable(spark, path)
    assert snapshot_version(path) == 3
    assert _ids(t) == ({i for i in range(1, 13)} | {101}) - {3}
    # the repaired dirs are the published ones
    for v in (1, 2, 3):
        assert dataset_dir(path, v) == os.path.join(path, f"v{v}")


def test_pointer_flip_is_monotone_unit(tmp_path):
    path = str(tmp_path / "t")
    os.makedirs(path)
    store = LogStore()
    store.publish_pointer_monotone(path, 5)
    assert snapshot_version(path) == 5
    store.publish_pointer_monotone(path, 3)  # late slow-writer flip
    assert snapshot_version(path) == 5, "pointer regressed"
    store.publish_pointer_monotone(path, 6)
    assert snapshot_version(path) == 6


def test_slow_writer_flip_does_not_regress_rolled_forward_head(
    spark, tmp_path
):
    """ADVICE r12 (low): two commits land their records but lose
    their flips; an op entry rolls the pointer forward to the gap
    head; the slower writer's OWN flip then arrives for the lower
    version — the pointer must stay at the head."""
    path = str(tmp_path / "t")
    t = _mk(spark, path)  # v1
    set_log_store(HoldFlipStore({2, 3}))
    try:
        t.append(_df(spark, [(201, 1, 201)]))  # v2, flip lost
        t.append(_df(spark, [(202, 1, 202)]))  # v3, flip lost
    finally:
        set_log_store(None)
    # v3's append entry already rolled v2 forward (resolve_entry),
    # then v3's own flip was lost — pointer sits at 2
    assert snapshot_version(path) == 2
    assert resolve_entry(path) == (3, 3)  # entry rolls forward
    assert snapshot_version(path) == 3
    # the slow writer of v2 finally runs its (monotone) flip
    LogStore().publish_pointer_monotone(path, 2)
    assert snapshot_version(path) == 3, "pointer regressed below head"
    assert _ids(ManagedTable(spark, path)) >= {201, 202}


def test_clean_staging_protects_claimed_unmaterialized(spark, tmp_path):
    """ADVICE r12 (low): a commit claimed in the sqlite coordination
    db but crashed before materializing its record file must still
    protect its staged data from clean_staging — the referenced set
    is built through the LogStore (which repairs the record), not
    raw os.listdir."""
    path = str(tmp_path / "t")
    db = str(tmp_path / "coord.db")
    store = SqliteCoordLogStore(db_path=db)
    set_log_store(store)
    try:
        t = _mk(spark, path)  # v1 through the sqlite adapter
        t.append(_df(spark, [(301, 1, 301)]))  # v2
        # crash window: v2's record claimed + materialized + renamed;
        # rebuild the crashed state by (a) moving v2 back to its
        # staged name, (b) deleting the record FILE (the claim stays
        # in the db — exactly a crash between INSERT and write)
        from tests.vdir_helper import norename

        rec = json.load(open(os.path.join(path, "_commits", "2.json")))
        if not norename():  # already at its staged name otherwise
            os.rename(
                os.path.join(path, "v2"), os.path.join(path, rec["staged"])
            )
        os.remove(os.path.join(path, "_commits", "2.json"))
        staged = os.path.join(path, rec["staged"])
        os.utime(staged, (1.0, 1.0))  # aged far past any grace window
        removed = table_log.clean_staging(path)
        assert staged not in removed
        assert os.path.isdir(staged), "vacuum deleted COMMITTED data"
        # the census repaired the record file as a side effect
        assert os.path.isfile(os.path.join(path, "_commits", "2.json"))
        assert 301 in _ids(ManagedTable(spark, path), version=2)
    finally:
        set_log_store(None)


def test_digest_fold_falls_back_on_duckdb_runtime_error(monkeypatch):
    """ADVICE r12 (low): a RUNTIME DuckDB failure (not just
    ImportError) degrades to the hashlib fold — same digests, batch
    never fails."""
    import pyarrow as pa

    from strava_etl_public_spark.sources import table_sink as TS

    arr = pa.array(["1\x1fa", "2\x1fb", "3\x1e\x1fc"])
    monkeypatch.setattr(TS, "_DUCKDB_FOLD_BROKEN", False)
    want = TS._digest_fold(arr)  # duckdb path (healthy)

    import duckdb

    def boom():
        raise RuntimeError("simulated: old duckdb / Arrow reg failure")

    monkeypatch.setattr(TS, "_DUCKDB_FOLD_BROKEN", False)
    monkeypatch.setattr(duckdb, "connect", boom)
    got = TS._digest_fold(arr)
    assert got == want
    assert TS._DUCKDB_FOLD_BROKEN, "failure not remembered"
    # later batches go straight to the fallback without retrying
    got2 = TS._digest_fold(arr)
    assert got2 == want
    monkeypatch.setattr(TS, "_DUCKDB_FOLD_BROKEN", False)


# ---------------------------------------------------------------------------
# No-rename (object-store) mode
# ---------------------------------------------------------------------------


def test_no_rename_mode_full_cycle(spark, tmp_path, monkeypatch):
    """verdict r13 #1: with the cosmetic v{n} rename globally
    suppressed, the full create → append → delete → update →
    time-travel → rollback → vacuum cycle works, serving every
    version through its staged name."""
    monkeypatch.setenv("SPARK_GRAFT_NO_RENAME", "1")
    path = str(tmp_path / "t")
    t = _mk(spark, path)  # v1
    t.append(_df(spark, [(401, 1, 401)]))  # v2
    t.delete(F.col("id") == 2)  # v3
    t.update(F.col("id") == 4, {"val": F.lit(999)})  # v4
    # NO v{n} dir was ever created
    assert not any(
        d.startswith("v") and d[1:].isdigit() for d in os.listdir(path)
    ), "a v{n} rename happened in no-rename mode"
    t = ManagedTable(spark, path)
    base = {i for i in range(1, 13)}
    assert _ids(t, version=1) == base
    assert _ids(t, version=2) == base | {401}
    assert _ids(t, version=3) == (base | {401}) - {2}
    assert _ids(t) == (base | {401}) - {2}
    assert {
        r["val"] for r in t.read().filter(F.col("id") == 4).collect()
    } == {999}
    # rollback + re-commit + vacuum
    t.restore(2)
    assert _ids(ManagedTable(spark, path)) == base | {401}
    t2 = ManagedTable(spark, path)
    t2.append(_df(spark, [(402, 2, 402)]))
    assert _ids(ManagedTable(spark, path)) == base | {401, 402}
    removed = table_log.snapshot_vacuum(path, keep_last=1)
    assert 1 in removed
    with pytest.raises(ValueError):
        t2.read(version=1).collect()


def test_default_db_path_rejects_squatted_dir(monkeypatch, tmp_path):
    """verdict r13 #8: the per-user coordination dir must be OWNED by
    this uid and owner-only; a foreign owner is a hard refusal and a
    loose mode on our own dir is tightened."""
    import stat

    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    # fresh: created 0o700, accepted
    p = SqliteCoordLogStore._default_db_path()
    d = os.path.dirname(p)
    assert stat.S_IMODE(os.lstat(d).st_mode) == 0o700
    # loose mode on our own dir: tightened, not refused
    os.chmod(d, 0o777)
    SqliteCoordLogStore._default_db_path()
    assert stat.S_IMODE(os.lstat(d).st_mode) == 0o700
    # foreign owner: hard refusal (simulated by patching geteuid —
    # the test cannot chown without root privileges on all boxes)
    monkeypatch.setattr(os, "geteuid", lambda: os.lstat(d).st_uid + 1)
    with pytest.raises(PermissionError):
        SqliteCoordLogStore._default_db_path()
