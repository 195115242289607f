"""Injected-crash fuzz over the commit protocol's four steps (r10
verdict #9: the reclaim tombstone-first fix came from exactly one
hand-built crash test — generalize it).

The format's commit is four durable steps: staging populate → commit
record put → v{n} rename → pointer publish (plus, for file-level
vacuum, tombstone write → physical deletes). A crash may land between
ANY two. This fuzz drives random (op, crash-point) pairs — ≥100
across the seeds — against a dict-of-rows model, simulating a crash
faithfully: everything before the injection point persisted, nothing
after ran, and the graceful-abort cleanup (the `finally` rmtree that
a real crash would skip) is disabled during the injected op so
staging debris stays on disk like it would in production.

Invariants asserted after EVERY injected crash:
  * read() equals the model exactly (a crashed op is all-or-nothing:
    either invisible, or — for a crash after pointer publish —
    fully applied);
  * the current commit record's digest equals a live fingerprint of
    the table (no half-commit can corrupt the audit chain);
  * the NEXT real op succeeds and chains correctly (orphaned
    records/version dirs never block allocation or leak into the
    lineage walk);
  * vacuum's crash window (tombstone written, deletes not run)
    leaves every retained version readable.

Injection is done at the LogStore seam — the same three calls a real
backend implements — so the fuzz exercises exactly the protocol
PORTABILITY.md specifies, not implementation internals.
"""

from __future__ import annotations

import random

import pytest

# full crash-window fuzz sweep (~3 min): slow lane (r13 verdict #1)
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from strava_etl_public_spark.operators import table_log
from strava_etl_public_spark.operators.layout import dataset_fingerprint
from strava_etl_public_spark.operators.logstore import (
    LogStore,
    set_log_store,
)
from strava_etl_public_spark.operators.table import ManagedTable

SCHEMA = "id long, part long, val long"


class InjectedCrash(RuntimeError):
    pass


class CrashingStore(LogStore):
    """Crash at a named protocol step. 'before_record': nothing
    durable but staging. 'after_record': record durable, rename and
    pointer never ran. 'before_pointer': record + v{n} durable,
    pointer still old (published-but-unpointed orphan). 'after_
    pointer': fully committed, caller never heard (at-least-once)."""

    def __init__(self, crash_at: str | None):
        self.crash_at = crash_at

    def put_record_if_absent(self, cdir, name, payload):
        if self.crash_at == "before_record":
            raise InjectedCrash("before record put")
        ok = super().put_record_if_absent(cdir, name, payload)
        if ok and self.crash_at == "after_record":
            raise InjectedCrash("after record put, before rename")
        return ok

    def publish_pointer(self, table_path, version):
        if self.crash_at == "before_pointer":
            raise InjectedCrash("after rename, before pointer")
        super().publish_pointer(table_path, version)
        if self.crash_at == "after_pointer":
            raise InjectedCrash("after pointer publish")


@pytest.fixture(scope="module")
def spark():
    from strava_etl_public_spark.session import get_spark

    return get_spark()


def _df(spark, rows):
    return spark.createDataFrame(sorted(rows), SCHEMA)


def _read_model(t):
    return {r["id"]: (r["part"], r["val"]) for r in t.read().collect()}


def _audit_digest(t):
    import json
    import os

    rec = json.load(
        open(os.path.join(t.path, "_commits", f"{t.version()}.json"))
    )
    live = dataset_fingerprint(t.read()).collect()[0].asDict()
    assert (rec["n_rows"], rec["xor_hash"], rec["sum_hash_mod"]) == (
        live["n_rows"],
        live["xor_hash"] or 0,  # empty table: fingerprint yields NULLs
        live["sum_hash_mod"] or 0,
    ), "commit digest diverged from live fingerprint"


CRASH_POINTS = (
    "before_record",
    "after_record",
    "before_pointer",
    "after_pointer",
)


@pytest.mark.parametrize("seed", [7101, 7102, 7103])
def test_crash_fuzz_commit_protocol(spark, tmp_path, seed, monkeypatch):
    rng = random.Random(seed)
    model = {i: (i % 3, i * 10) for i in range(1, 31)}
    t = ManagedTable.create(
        _df(spark, [(k, p, v) for k, (p, v) in model.items()]),
        str(tmp_path / f"t{seed}"),
        key="id",
        stat_cols=["id"],
    )
    next_id = 1000
    log: list[str] = []

    # a real crash never runs the graceful-abort staging cleanup —
    # disable it during injected ops so debris stays, like production
    import shutil as _shutil

    real_rmtree = _shutil.rmtree
    crashing = {"on": False}

    def fake_rmtree(path, *a, **kw):
        if crashing["on"] and "_stage_" in str(path):
            return  # simulated crash: cleanup never ran
        return real_rmtree(path, *a, **kw)

    def plan_op(op: str):
        """(runner, delta): all randomness drawn at PLAN time, so a
        crashed run still knows the delta it would have applied —
        needed since r12, where a crash after the record put leaves a
        DURABLE commit that the next op's entry rolls forward."""
        nonlocal next_id
        if op == "append":
            nid = next_id
            next_id += 1
            row = (nid, nid % 3, nid)
            return (
                lambda: t.append(_df(spark, [row])),
                {"add": {row[0]: (row[1], row[2])}},
            )
        if op == "delete":
            victim = rng.choice(sorted(model))
            return (
                lambda: t.delete(F.col("id") == victim),
                {"del": [victim]},
            )
        if op == "update":
            victim = rng.choice(sorted(model))
            return (
                lambda: t.update(F.col("id") == victim, {"val": F.lit(77777)}),
                {"upd": {victim: 77777}},
            )
        if op == "overwrite":
            part = rng.randrange(3)
            keep_id = next_id
            next_id += 1
            row = (keep_id, part, keep_id)
            # del_part, not a concrete key list: the delta may fold
            # AFTER a pending (durable-but-unflipped) commit lands, so
            # the replaced-partition membership is evaluated at FOLD
            # time, mirroring the table's serial order exactly
            return (
                lambda: t.overwrite_partitions(_df(spark, [row]), "part"),
                {
                    "del_part": part,
                    "add": {row[0]: (row[1], row[2])},
                },
            )
        if op == "compact":
            return (
                lambda: t.compact(dead_frac=0.01, small_bytes=256 * 1024),
                {},
            )
        if op == "optimize":
            return (lambda: t.optimize(), {})
        raise AssertionError(op)

    def fold(delta: dict) -> None:
        if "del_part" in delta:
            for k in [
                k for k, (p, _) in model.items() if p == delta["del_part"]
            ]:
                model.pop(k)
        for k in delta.get("del", []):
            model.pop(k, None)
        for k, pv in delta.get("add", {}).items():
            model[k] = pv
        for k, v in delta.get("upd", {}).items():
            if k in model:
                model[k] = (model[k][0], v)

    ops = (
        "append",
        "delete",
        "update",
        "overwrite",
        "compact",
        "optimize",
        # r13 (verdict #7): the publish-repair windows dispatched INTO
        # the random mix, so their interleavings with DML/compaction
        # are explored, not just the directed r12 tests:
        "rollback",  # rollback-abandoned ledger classification
        "burned_slot",  # record-without-data (pre-inversion debris)
    )
    from strava_etl_public_spark.operators.table_log import (
        abandoned_records,
        resolve_entry,
        snapshot_max_commit,
    )
    from strava_etl_public_spark.operators.logstore import LogStore as _LS

    import os as _os

    # r12 semantics: the record put is the COMMIT POINT (data is
    # staged durably before it). A crash after the record leaves a
    # DURABLE commit the next op's entry rolls forward — so visibility
    # is decided by GROUND TRUTH (is the commit's version <= the
    # published pointer?), not by guessing which crash point fired:
    # the next op may itself crash mid-roll-forward. `pending` holds
    # (version, delta) of committed-but-possibly-unflipped ops; every
    # check folds exactly the pending deltas the pointer has reached.
    pending: list[tuple[int, dict]] = []
    # model content AS OF each folded version — the rollback arm's
    # ground truth (version numbers never reuse, so entries are stable)
    model_hist: dict[int, dict] = {1: dict(model)}

    def settle() -> None:
        vcur = t.version()
        while pending and pending[0][0] <= vcur:
            ver, delta = pending.pop(0)
            fold(delta)
            model_hist[ver] = dict(model)

    try:
        monkeypatch.setattr(_shutil, "rmtree", fake_rmtree)
        for i in range(35):  # 3 seeds × 35 = 105 (op, crash-point) pairs
            op = rng.choice(ops)
            cp = rng.choice(CRASH_POINTS + (None, None))

            if op == "burned_slot":
                # record-without-data (verdict r13 #7): pre-inversion
                # crash debris — a commit record claiming a staged dir
                # that never materialized. Any later entry must mark
                # it aborted in the ledger and allocate past it, and
                # it must never block or corrupt the ops that follow.
                import json as _json

                slot = snapshot_max_commit(t.path) + 1
                log.append(f"{i}: burned_slot v{slot}")
                _LS().put_record_if_absent(
                    _os.path.join(t.path, "_commits"),
                    f"{slot}.json",
                    _json.dumps(
                        {
                            "version": slot,
                            "dataset": f"v{slot}",
                            "staged": "_stage_never_existed",
                            "n_rows": 0,
                            "xor_hash": 0,
                            "sum_hash_mod": 0,
                            "parent": slot - 1,
                            "ts": 0.0,
                        }
                    ),
                )
                resolve_entry(t.path)  # classifies (and rolls forward
                # any pending flip-crashed commits below the slot)
                assert slot in abandoned_records(t.path), (
                    f"burned slot v{slot} not marked aborted"
                )
                settle()
            elif op == "rollback":
                # rollback-abandoned (verdict r13 #7): the ledger
                # write + pointer move interleaved with the rest of
                # the mix. Gated on a settled head so the model's
                # ground truth stays exact (rollback RACING an
                # unflipped writer is the documented loud-conflict
                # gray zone, covered by resolve_entry's retry bound).
                settle()
                if pending or t.version() != snapshot_max_commit(t.path):
                    log.append(f"{i}: rollback skipped (unsettled head)")
                    continue
                candidates = [
                    v for v in sorted(model_hist) if v < t.version()
                ][-5:]
                if not candidates:
                    log.append(f"{i}: rollback skipped (no target)")
                    continue
                target = rng.choice(candidates)
                v_before = t.version()
                log.append(f"{i}: rollback {v_before}->{target} crash_at={cp}")
                set_log_store(CrashingStore(cp))
                try:
                    table_log.snapshot_rollback(t.path, target)
                except InjectedCrash:
                    pass
                finally:
                    set_log_store(None)
                v_now = t.version()
                assert v_now in (v_before, target), (
                    f"rollback left pointer at v{v_now}"
                )
                if v_now == target:
                    model = dict(model_hist[target])
                # a crash BEFORE the pointer move leaves ledger
                # entries at/below the pointer — harmless by contract
                # (entries only classify records ABOVE the pointer)
            else:
                log.append(f"{i}: {op} crash_at={cp}")
                run, delta = plan_op(op)
                prev_max = snapshot_max_commit(t.path)
                set_log_store(CrashingStore(cp))
                crashing["on"] = cp is not None
                try:
                    run()
                except InjectedCrash:
                    pass  # durability judged from the record set below
                finally:
                    set_log_store(None)
                    crashing["on"] = False
                new_max = snapshot_max_commit(t.path)
                if new_max > prev_max and op not in ("compact", "optimize"):
                    # the op committed (record landed) at new_max —
                    # whether the pointer flip survived decides WHEN
                    # the delta folds, via settle(). compact/optimize
                    # are content-identical, their delta is empty
                    # anyway.
                    pending.append((new_max, delta))
                settle()
            got = _read_model(t)
            assert got == model, (
                f"state diverged after {log[-1]}\nlog={log}\n"
                f"extra={set(got) - set(model)} "
                f"missing={set(model) - set(got)}"
            )
            _audit_digest(t)
            # r12 invariant: NO burned slots — every recorded version
            # not in the abandoned ledger serves (the crashed
            # in-flight one included, via the staged-dir fallback)
            cdir = _os.path.join(t.path, "_commits")
            ab = abandoned_records(t.path)
            vcur = t.version()
            for f in _os.listdir(cdir):
                if not f.endswith(".json") or f.startswith("_"):
                    continue
                r = int(f.split(".")[0])
                if r in ab or r <= vcur:
                    continue  # historical: covered by the model check
                # the crash-window record above the pointer: must
                # serve via the staged-dir fallback, never raise
                t.read(version=r).take(1)
        # the chain stays healthy end-to-end: one real op + optimize
        nid = next_id
        t.append(_df(spark, [(nid, 0, nid)]))
        settle()
        model[nid] = (0, nid)
        t.optimize()
        assert not pending
        assert _read_model(t) == model
        _audit_digest(t)
        # and the final chain has no gap: pointer == record high-water
        assert t.version() == snapshot_max_commit(t.path)
    finally:
        set_log_store(None)


@pytest.mark.parametrize("seed", [7201, 7202])
def test_crash_fuzz_vacuum_tombstone_window(spark, tmp_path, seed):
    """Crash between the tombstone write and the physical deletes
    (and mid-delete): retained versions must stay exactly readable,
    out-of-retention reads must fail LOUDLY or read exactly — never
    silently partial — and a re-run finishes the reclaim."""
    import os

    rng = random.Random(seed)
    path = str(tmp_path / f"t{seed}")
    rows = [(i, i % 4, i * 10) for i in range(1, 81)]
    t = ManagedTable.create(
        spark.createDataFrame(rows, SCHEMA).repartition(4), path, key="id"
    )
    t.delete(F.col("id") <= 30)
    assert t.compact(dead_frac=0.2) is not None
    expect = {r["id"] for r in t.read().collect()}

    # crash after K physical deletes (K=0 → pure tombstone-first case)
    real_remove = os.remove
    budget = {"left": rng.randrange(0, 3)}

    def crashing_remove(p):
        if p.endswith(".parquet"):
            if budget["left"] <= 0:
                raise InjectedCrash("mid-delete crash")
            budget["left"] -= 1
        return real_remove(p)

    os.remove = crashing_remove
    try:
        with pytest.raises(InjectedCrash):
            t.vacuum(keep_last=1, reclaim_dead=True)
    finally:
        os.remove = real_remove

    # current version reads exactly through the half-done reclaim
    t2 = ManagedTable(spark, path)
    assert {r["id"] for r in t2.read().collect()} == expect
    _audit_digest(t2)
    # re-run finishes the job; still exact
    t2.vacuum(keep_last=1, reclaim_dead=True)
    assert {r["id"] for r in t2.read().collect()} == expect
